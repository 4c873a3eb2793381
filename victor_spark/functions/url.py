"""URL canonicalization — the crawl pipeline's FIRST dedup key.

Before any content-level dedup, real pipelines collapse URL aliases:
``HTTP://Example.com:80/a#frag`` and ``http://example.com/a`` are the
same fetch. :func:`canonical_url` normalizes the alias dimensions that
are SAFE by RFC 3986 semantics — scheme and host case, default ports,
the fragment (never sent to the server), and an empty path vs ``/`` —
and deliberately nothing else: path case, query order, and tracking
parameters are site-specific semantics where "normalizing" can merge
genuinely different resources (the classic over-canonicalization bug).

One SQL template of built-in expressions over ``try_parse_url`` (NULL,
never error, on malformed input — Spark 4's plain ``parse_url`` throws),
over a name or SQL-expression operand (``vector.sql_operand``) — whole-stage
codegen, so at 100 TB the canonical key costs what a projection costs,
and URL dedup is then the same exact hash groupBy as every other dedup
family.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from victor_spark.functions.vector import bind, sql_operand

_DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21"}


def _sql_str(s: str) -> str:
    """Render a Python string as a single-quoted Spark SQL literal
    (default parser mode: backslash escapes active, so both backslashes
    and quotes are escaped)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def canonical_url(url: str) -> Column:
    """Canonical form of a URL column: lowercased scheme and host,
    default ports stripped, fragment dropped, empty path -> ``/``,
    query preserved verbatim (order and tracking params are semantics,
    not aliases). Userinfo (``user:pass@``) is dropped — credentials
    never name a distinct crawlable resource, and keeping them would
    split aliases (stated here because it IS a collapse beyond pure
    case/port normalization). Malformed URLs (no scheme/host) return
    NULL — filter or quarantine, the usual contract."""
    return F.expr(_canonical_url_sql(sql_operand(url)))


# HOST excludes the port (it rides the authority), so the explicit port
# is extracted from the raw string for the default-port collapse.
# Anchored: skip an optional userinfo section (else a password like
# 'admin:1234@host' fabricates port 1234) and require the digits to END
# the authority (else a bracketed IPv6 literal's inner digits match).
_PORT_RX = r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?[^/?#]*?:(\d+)(?=[/?#]|$)"


def _canonical_url_sql(ref: str) -> str:
    proto = f"lower(try_parse_url({ref}, 'PROTOCOL'))"
    host = f"lower(try_parse_url({ref}, 'HOST'))"
    port = f"regexp_extract({ref}, {_sql_str(_PORT_RX)}, 1)"
    default_port = "coalesce(" + ", ".join(
        f"CASE WHEN {proto} = '{k}' THEN '{v}' END"
        for k, v in _DEFAULT_PORTS.items()
    ) + ", '')"
    port_part = (
        f"CASE WHEN (({port}) != '') AND (({port}) != ({default_port})) "
        f"THEN concat(':', {port}) ELSE '' END"
    )
    path = f"try_parse_url({ref}, 'PATH')"
    path_part = (
        f"CASE WHEN (({path}) IS NULL) OR (({path}) = '') THEN '/' "
        f"ELSE {path} END"
    )
    query = f"try_parse_url({ref}, 'QUERY')"
    query_part = (
        f"CASE WHEN ({query}) IS NOT NULL THEN concat('?', {query}) "
        f"ELSE '' END"
    )
    out = (
        f"concat({proto}, '://', {host}, {port_part}, {path_part}, "
        f"{query_part})"
    )
    return (
        f"CASE WHEN (({proto}) IS NOT NULL) AND (({host}) IS NOT NULL) "
        f"THEN {out} END"
    )


# ---------------------------------------------------------------------------
# robots.txt longest-match (RFC 9309 §2.2.2) as pure expressions
# ---------------------------------------------------------------------------


def _robots_rule_sql(p: str, a: str) -> str:
    """The rule struct over pattern SQL ``p`` and allow-flag SQL ``a``.

    RFC 9309 §2.2.3 special characters are compiled here, ONCE per rule:
    ``*`` matches any octet sequence and a TRAILING ``$`` anchors the
    end of the match target (a ``$`` anywhere else is literal, per the
    RFC's "designates the end" wording). Patterns without specials keep
    ``is_literal=true`` so the hot path stays a plain ``startswith`` —
    the overwhelming majority of real robots lines — and only wildcard
    rules pay the regex. Precedence length is the RAW pattern's OCTET
    length: the RFC ranks by pattern length, specials included, and a
    multibyte UTF-8 pattern must win the longest-match tiebreak its
    byte length earns."""
    # escape Java-regex metachars (incl. '*' and '$'), then turn the
    # escaped wildcard back into '.*'
    meta_rx = _sql_str(r"([.\\+?\[\]()^${}|*])")
    meta_rep = _sql_str(r"\\$1")
    star = _sql_str(r"\*")
    anchored = f"endswith({p}, '$')"
    body = (
        f"CASE WHEN {anchored} THEN substring({p}, 1, length({p}) - 1) "
        f"ELSE {p} END"
    )
    escaped = f"regexp_replace({body}, {meta_rx}, {meta_rep})"
    rx = (
        f"concat('^', replace({escaped}, {star}, '.*'), "
        f"CASE WHEN {anchored} THEN '$' ELSE '' END)"
    )
    is_literal = f"NOT (contains({p}, '*') OR {anchored})"
    return (
        f"named_struct('plen', octet_length({p}), "
        f"'arank', CAST({a} AS INT), "
        f"'prefix', {p}, 'allow', {a}, "
        f"'is_literal', {is_literal}, 'rx', {rx})"
    )


def robots_rule(prefix: str, allow: bool) -> Column:
    """One literal robots rule as the struct :func:`robots_best_match`
    orders by: (pattern length, allow-wins-ties rank, pattern, allow,
    is_literal, compiled regex) — rule sets as plan literals."""
    if not (isinstance(prefix, str) and isinstance(allow, bool)):
        raise TypeError(
            "robots_rule takes a literal (str, bool) rule; pass column "
            "names or SQL expressions to robots_rule_of instead"
        )
    return F.expr(_robots_rule_sql(_sql_str(prefix), "TRUE" if allow else "FALSE"))


def robots_rule_of(prefix: str, allow: str) -> Column:
    """The :func:`robots_rule` struct over pattern and allow-flag
    COLUMNS (names or SQL expressions) — rows of a static host-keyed
    rule table, a crawl-scale rule corpus broadcast-joined."""
    return F.expr(_robots_rule_sql(sql_operand(prefix), sql_operand(allow)))


def robots_best_match(path, rules) -> Column:
    """The winning rule (or NULL when nothing matches) for the match
    target ``path`` (path plus query, per RFC 9309) against an array of
    :func:`robots_rule` structs: longest pattern wins, allow wins
    length ties (RFC 9309 §2.2.2) — struct ordering on (plen, arank)
    via ``array_max`` makes the whole evaluation one expression, zero
    shuffles and zero Python. Literal rules match by ``startswith``;
    wildcard/anchored rules by their precompiled regex. NULL/absent
    rule arrays mean "no robots.txt" → NULL → callers default-allow.
    The match target is bound once per row (HOF lambdas re-evaluate
    embedded subtrees per element)."""
    p = F.col(path) if isinstance(path, str) else path
    return bind(
        p,
        lambda t: F.array_max(
            F.filter(
                rules,
                lambda r: F.when(
                    r["is_literal"], t.startswith(r["prefix"])
                ).otherwise(F.regexp_like(t, r["rx"])),
            )
        ),
    )
