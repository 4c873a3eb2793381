"""Text-analysis column functions for the LLM-data-pipeline extension ops.

All native expressions (regexp/length/array fns) — these run inside
whole-stage codegen over the `documents` table and scale linearly with a
100 TB text corpus; there is no Python in any of these paths. The token
kernels (tokens, token_count, quality_score, lang_id, c4_kept_lines) are
one SQL template each over a name or SQL-expression operand (see
``vector.sql_operand``).

Regex patterns are kept in the common subset of Java regex (Spark) and RE2
(DuckDB oracle) — character classes and + quantifiers only.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from victor_spark.functions.vector import (
    _col,
    bind,
    ColumnOrName,
    sql_operand,
)

# Tiny per-language marker-word lists for the n-gram/stopword language-ID
# heuristic. Deterministic and oracle-expressible; real deployments would
# swap in fastText/CLD3 behind the same column contract.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "los", "que", "de"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),
}

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

WORD_RE = "[A-Za-z0-9]+"
PUNCT_RE = "[^A-Za-z0-9 ]"


def _tokens_sql(ref: str) -> str:
    return f"filter(split({ref}, ' '), _t -> _t != '')"


def tokens(s: str) -> Column:
    """Whitespace tokens (empties removed) — array<string>."""
    return F.expr(_tokens_sql(sql_operand(s)))


def token_count(s: str) -> Column:
    """Whitespace token count."""
    return F.expr(f"size({_tokens_sql(sql_operand(s))})")


def term_counts(t: ColumnOrName) -> Column:
    """Distinct-term counts of a token array, computed ROW-LOCALLY:
    array<struct<tok:string, c:bigint>> — one struct per distinct token
    with its occurrence count, via a sorted-run scan (array_sort + run
    boundaries). Exactly the multiset an explode + groupBy(doc, tok)
    count produces, without the corpus-token-sized exchange: per-doc
    term statistics are intra-row data, so at 100 TB this turns the
    counting stage of TF-IDF/BM25-style scorers into a pure map.
    Integer arithmetic throughout — bit-identical to the grouped form.
    NULL/empty arrays yield an empty result (the rows explode() would
    simply drop)."""
    t = _col(t)

    # Both the sorted array and the run-start index array are routed
    # through bind() so each evaluates ONCE per row. Referencing the
    # array_sort expression directly inside the index lambdas re-ran the
    # whole sort per ELEMENT (HOF lambdas interpret their captured
    # subtrees per call — the O(n²) hazard bind() exists for), which
    # round-11 wall-timing caught as a 20x regression on long docs.
    def _with_sorted(s: Column) -> Column:
        n = F.size(s)
        # run starts: position 1, and every i where s[i] != s[i-1]
        # (greatest(i-1, 1) keeps the i=1 probe in bounds under ANSI;
        # its self-compare is false and the i==1 arm admits the
        # position). The index array is guarded BEFORE the filter:
        # bind() evaluates its argument eagerly, and sequence(1, 0)
        # descends to [1, 0] whose 0 index would trip ANSI element_at
        # on empty/NULL arrays (the old form only ever evaluated these
        # under the n >= 1 branch).
        idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
            F.array().cast("array<int>")
        )
        starts_expr = F.filter(
            idx,
            lambda i: (i == 1)
            | (
                F.element_at(s, i)
                != F.element_at(s, F.greatest(i - 1, F.lit(1)))
            ),
        )

        def _with_starts(starts: Column) -> Column:
            m = F.size(starts)
            counted = F.transform(
                F.sequence(F.lit(1), m),
                lambda j: F.struct(
                    F.element_at(s, F.element_at(starts, j)).alias("tok"),
                    (
                        F.coalesce(
                            F.when(j < m, F.element_at(starts, j + 1)), n + 1
                        )
                        - F.element_at(starts, j)
                    )
                    .cast("long")
                    .alias("c"),
                ),
            )
            return F.when(n >= 1, counted).otherwise(
                F.array().cast("array<struct<tok:string,c:bigint>>")
            )

        return bind(starts_expr, _with_starts)

    return bind(F.array_sort(t), _with_sorted)


def _c4_kept_lines_sql(lines: str) -> str:
    ends = " OR ".join(
        f"endswith(_l, '{e}')" for e in (".", "!", "?", '."', '!"', '?"')
    )
    return (
        f"filter({lines}, _l -> "
        f"size({_tokens_sql('_l')}) >= 3 AND ({ends}))"
    )


def c4_kept_lines(lines: str) -> Column:
    """The C4 line-filter predicate (Raffel 2020 §2.2) over an
    ``array<string>`` of lines: keep lines with >= 3 whitespace tokens
    ending in terminal punctuation (``. ! ?`` or their close-quote
    forms — colons are boilerplate and dropped). ONE definition shared
    by the batch catalog queries (c4_line_filter, crawl_pipeline) and
    the streaming curation topology, so the C4 contract cannot drift
    between planes; the DuckDB oracles restate it literally."""
    return F.expr(_c4_kept_lines_sql(sql_operand(lines)))


def word_count(s: ColumnOrName) -> Column:
    """Count of [A-Za-z0-9]+ word tokens (BPE-ish pre-tokenizer count)."""
    return F.size(F.regexp_extract_all(_col(s), F.lit(WORD_RE), 0))


def char_count(s: ColumnOrName) -> Column:
    return F.length(_col(s))


def avg_token_len(s: str) -> Column:
    """Mean token length in characters; 0 for empty docs."""
    return bind(
        tokens(s),
        lambda t: F.when(F.size(t) == 0, F.lit(0.0)).otherwise(
            F.aggregate(t, F.lit(0.0), lambda a, x: a + F.length(x)) / F.size(t)
        ),
    )


def punct_ratio(s: ColumnOrName) -> Column:
    """Fraction of characters that are neither alphanumeric nor space."""
    s = _col(s)
    n = F.length(s)
    punct = F.size(F.regexp_extract_all(s, F.lit(PUNCT_RE), 0))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct.cast("double") / n)


def stopword_ratio(s: str) -> Column:
    """Fraction of whitespace tokens that are (lowercased) stopwords."""
    def _ratio(t: Column) -> Column:
        hits = F.size(
            F.filter(t, lambda x: F.lower(x).isin(*[F.lit(w) for w in STOPWORDS]))
        )
        return F.when(F.size(t) == 0, F.lit(0.0)).otherwise(
            hits.cast("double") / F.size(t)
        )

    return bind(tokens(s), _ratio)


# The SQL templates below interpolate these constants into single-quoted
# SQL literals verbatim. A future word with an apostrophe ("don't") or a
# regex with a quote/backslash would break the F.expr parse — fail loudly
# at import time instead.
assert all(
    "'" not in w and "\\" not in w
    for words in LANG_MARKERS.values()
    for w in words
), "LANG_MARKERS words must be quote/backslash-free (SQL templates)"
assert all(
    "'" not in w and "\\" not in w for w in STOPWORDS
), "STOPWORDS must be quote/backslash-free (SQL templates)"
assert "'" not in PUNCT_RE and "\\" not in PUNCT_RE, (
    "PUNCT_RE must be quote/backslash-free (SQL templates)"
)

_STOPWORD_IN = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"


def _quality_score_sql(ref: str) -> str:
    """Tokens bind once per row (``_t``; the punctuation ratio reads the
    operand inside that lambda, so an operand may not itself be named
    ``_t``); double literals carry the D suffix so no decimal types
    sneak in."""
    pr = (
        f"CASE WHEN length({ref}) = 0 THEN 0.0D "
        f"ELSE CAST(size(regexp_extract_all({ref}, '{PUNCT_RE}', 0)) AS DOUBLE)"
        f" / length({ref}) END"
    )
    atl = (
        "CASE WHEN size(_t) = 0 THEN 0.0D "
        "ELSE aggregate(_t, 0.0D, (a, x) -> a + length(x)) / size(_t) END"
    )
    hits = f"size(filter(_t, _x -> lower(_x) IN {_STOPWORD_IN}))"
    sr = (
        f"CASE WHEN size(_t) = 0 THEN 0.0D "
        f"ELSE CAST({hits} AS DOUBLE) / size(_t) END"
    )
    len_ok = "least(CAST(size(_t) AS DOUBLE) / 50.0D, 1.0D)"
    tok_ok = f"CASE WHEN ({atl}) >= 3.0D AND ({atl}) <= 10.0D THEN 1.0D ELSE 0.5D END"
    punct_ok = f"CASE WHEN ({pr}) <= 0.2D THEN 1.0D ELSE 0.5D END"
    stop_ok = f"least(({sr}) * 10.0D, 1.0D)"
    body = f"((({len_ok}) + ({tok_ok}) + ({punct_ok}) + ({stop_ok})) / 4.0D)"
    return f"get(transform(array({_tokens_sql(ref)}), _t -> {body}), 0)"


def quality_score(s: str) -> Column:
    """Heuristic document quality in [0, 1].

    Combines length sufficiency, reasonable mean token length, punctuation
    sanity and stopword presence — the standard cheap pre-filter stack for
    pretraining-data curation (C4/Gopher-style rules).
    """
    return F.expr(_quality_score_sql(sql_operand(s)))


def _lang_id_sql(ref: str) -> str:
    """Lowercased tokens, then the per-language marker counts, each bind
    once per row; the argmax is an unrolled CASE chain over the bound
    counts (``_sc``), so every reference is a slot read — the naive
    composition is exponential in chain depth."""
    lowered = (
        f"get(transform(array({_tokens_sql(ref)}), "
        f"_t -> transform(_t, _x -> lower(_x))), 0)"
    )
    counts = ", ".join(
        "size(filter(_lt, _x -> _x IN ("
        + ", ".join(f"'{w}'" for w in m)
        + ")))"
        for m in LANG_MARKERS.values()
    )
    scores = (
        f"get(transform(array({lowered}), _lt -> array({counts})), 0)"
    )
    langs = list(LANG_MARKERS)
    best_lang = f"'{langs[0]}'"
    best_score = "get(_sc, 0)"
    for i, lang in enumerate(langs[1:], start=1):
        cond = f"get(_sc, {i}) > ({best_score})"
        best_lang = f"CASE WHEN {cond} THEN '{lang}' ELSE {best_lang} END"
        best_score = f"CASE WHEN {cond} THEN get(_sc, {i}) ELSE ({best_score}) END"
    body = f"CASE WHEN ({best_score}) > 0 THEN {best_lang} ELSE 'und' END"
    return f"get(transform(array({scores}), _sc -> {body}), 0)"


def lang_id(s: str) -> Column:
    """Predicted language = argmax marker count; 'und' if all zero.

    Ties break by the fixed language order en>de>fr>es>zh (strictly-greater
    comparison), identically in the SQL oracle.
    """
    return F.expr(_lang_id_sql(sql_operand(s)))


def fingerprint64(s: ColumnOrName) -> Column:
    """Deterministic document fingerprint: min 32-bit hash over 8-gram
    character shingles (winnowing-style min-sampling, Schleimer et al. 2003).

    Equal fingerprints ⇒ likely shared content; used for cheap containment
    checks. Oracle-expressible via the shared md5-based hash.
    """
    from victor_spark.functions.hashing import shingle_hashes

    return F.coalesce(F.array_min(shingle_hashes(s, 8)), F.lit(0).cast("long"))
