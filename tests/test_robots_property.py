"""Deterministic adversarial sweep for the RFC 9309 matcher compiler:
robots_rule/robots_best_match vs an INDEPENDENT pure-Python REP
evaluator, over generated rule sets that stress the '*'/'$' compiler's
escaping ('.', '\\', '|', '(' literals, backslash-star sequences,
bare-'$' patterns, wildcard spans) and the (plen, arank, prefix, allow)
precedence ordering. One Spark job evaluates all cases (the
756-combination MP3 header-grid precedent: exhaustive/seeded beats
per-example round-trips for batch engines)."""

from __future__ import annotations

import random
import re

from pyspark.sql import functions as F

from victor_spark.functions.url import (
    robots_best_match,
    robots_rule,
    robots_rule_of,
)

# é (2 UTF-8 bytes) and 日 (3) make octet-vs-character precedence
# observable: a 2-char multibyte pattern must beat a 3-char ASCII one
# (RFC 9309 §2.2.2 ranks by octets — ADVICE r8)
_PAT_ALPHA = ["a", "b", "/", "*", "$", ".", "\\", "|", "(", "[", "é", "日"]
_TGT_ALPHA = ["a", "b", "/", ".", "\\", "|", "(", "[", "$", "*", "é", "日"]


def _ref_matches(pattern: str, target: str) -> bool:
    """Independent REP matcher: '*' spans octets, trailing '$' anchors,
    everything else literal (RFC 9309 §2.2.3)."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    rx = ".*".join(re.escape(part) for part in body.split("*"))
    rx = "^" + rx + ("$" if anchored else "")
    return re.search(rx, target) is not None


def _ref_best(rules: list[tuple[str, bool]], target: str):
    """Reference longest-match: max over (plen, arank, prefix, allow) —
    the exact struct ordering array_max applies. plen is the UTF-8
    OCTET length per RFC 9309 §2.2.2 (len() would count characters)."""
    best = None
    for prefix, allow in rules:
        if _ref_matches(prefix, target):
            key = (len(prefix.encode("utf-8")), int(allow), prefix, allow)
            if best is None or key > best:
                best = key
    return best  # None, or (plen, arank, prefix, allow)


def _gen_cases(n: int):
    rng = random.Random(20260816)
    cases = []
    for cid in range(n):
        rules = []
        for _ in range(rng.randint(1, 5)):
            plen = rng.randint(1, 7)
            prefix = "".join(rng.choice(_PAT_ALPHA) for _ in range(plen))
            rules.append((prefix, rng.random() < 0.5))
        tlen = rng.randint(0, 8)
        target = "/" + "".join(rng.choice(_TGT_ALPHA) for _ in range(tlen))
        cases.append((cid, rules, target))
    return cases


def test_robots_matcher_sweep_vs_reference(spark):
    cases = _gen_cases(400)
    targets = spark.createDataFrame(
        [(cid, t) for cid, _, t in cases], "case_id int, target string"
    )
    rule_rows = spark.createDataFrame(
        [
            (cid, prefix, allow)
            for cid, rules, _ in cases
            for prefix, allow in rules
        ],
        "case_id int, prefix string, allow boolean",
    )
    folded = rule_rows.groupBy("case_id").agg(
        F.collect_list(robots_rule_of("prefix", "allow")).alias(
            "rules"
        )
    )
    best = robots_best_match(
        F.col("target"), F.col("rules")
    )
    got = {
        r["case_id"]: (r["prefix"], r["allow"])
        for r in targets.join(folded, "case_id")
        .select("case_id", best["prefix"].alias("prefix"),
                best["allow"].alias("allow"))
        .collect()
    }
    assert len(got) == len(cases)
    mismatches = []
    for cid, rules, target in cases:
        ref = _ref_best(rules, target)
        expected = (None, None) if ref is None else (ref[2], ref[3])
        if got[cid] != expected:
            mismatches.append((cid, rules, target, got[cid], expected))
    assert not mismatches, mismatches[:5]


LITERAL_RULES = [
    ("/private", False),
    ("/tmp", False),
    ("/private/p", True),
    ("/a/*", True),
    ("/end$", False),
    ("/mid$dle", True),
    ("/meta.([x])+{2}|^", False),
    ("", True),
    ("/uni/é中", False),  # multibyte octets in plen
]


def _ref_rule(prefix: str, allow: bool) -> tuple:
    """The compiled rule struct, restated: octet length, allow rank,
    literal flag, and the Java regex (metachars escaped, '*' -> '.*',
    trailing '$' anchors)."""
    anchored = prefix.endswith("$")
    body = prefix[:-1] if anchored else prefix
    escaped = re.sub(r"([.\\+?\[\]()^${}|*])", r"\\\1", body)
    rx = "^" + escaped.replace("\\*", ".*") + ("$" if anchored else "")
    return (len(prefix.encode("utf-8")), int(allow), prefix, allow,
            not ("*" in prefix or anchored), rx)


def test_robots_rule_literal_struct_fields(spark):
    got = spark.range(1).select(
        *[robots_rule(p, a).alias(f"r{i}") for i, (p, a) in enumerate(LITERAL_RULES)]
    ).first()
    for i, (prefix, allow) in enumerate(LITERAL_RULES):
        assert tuple(got[f"r{i}"]) == _ref_rule(prefix, allow), prefix


def test_robots_rule_literals_in_best_match(spark):
    rules = LITERAL_RULES[:5]
    paths = ["/private/p/x", "/tmp/y", "/other", "/end", "/end/x", "/a/b"]
    df = spark.createDataFrame([(p,) for p in paths], "path string")
    best = robots_best_match(
        "path", F.array(*[robots_rule(p, a) for p, a in rules])
    )
    got = {
        r["path"]: (r["prefix"], r["allow"])
        for r in df.select(
            "path", best["prefix"].alias("prefix"), best["allow"].alias("allow")
        ).collect()
    }
    for path in paths:
        ref = _ref_best(rules, path)
        assert got[path] == ((None, None) if ref is None else ref[2:]), path
    assert got["/private/p/x"] == ("/private/p", True)
    assert got["/end"] == ("/end$", False) and got["/end/x"] == (None, None)
