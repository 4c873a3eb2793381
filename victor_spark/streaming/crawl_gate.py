"""Streaming crawl gate: canonicalize → robots-evaluate → frontier dedup.

The crawl loop this models: discovered URLs arrive continuously (link
extraction, sitemaps, redirects); before a URL is enqueued for fetching
it must be (1) canonicalized so alias spellings collapse to one frontier
key, (2) checked against its host's robots.txt rules, and (3) deduped
against everything already enqueued — the frontier admits each canonical
URL once. The reference has no crawling OR streaming; this composes the
batch-side url functions (functions/url.py) with Structured Streaming's
watermark-bounded dedup, the same way dedup_stream twins the batch
incremental dedup.

Shapes, per stage:
- :func:`gate_urls` is a PROJECTION plus one stream-static equi-join of
  the url stream with the host-keyed rule table (rules are a static dim —
  Spark broadcasts it under AQE exactly as the batch twin does), then the
  shared :func:`robots_best_match` codegen expression. No streaming
  state, no Python.
- :func:`crawl_frontier_stream` adds the ONLY stateful stage:
  ``dropDuplicatesWithinWatermark`` on the canonical key, so frontier
  state holds one key per admitted URL inside the watermark horizon —
  bounded, exactly like stateful.py's event dedup (and for the same
  reason: plain ``dropDuplicates`` would grow state O(stream length)).

At 100 TB/day of discovered links: the rule table is per-host (robots.txt
is capped at 500 KiB by the RFC; even the full crawled web's rule corpus
is a broadcastable dim), the gate is map-side, and the dedup shuffles
once on the canonical key with per-key state — the same exchange a batch
``distinct`` pays, amortized over the horizon.

The horizon trade is the standard one: a URL REdiscovered more than the
watermark after its first admission is admitted again. Real crawlers
want exactly that (periodic re-crawl); set the watermark to the re-crawl
interval. Malformed URLs (canonical_url → NULL) are excluded from the
frontier BEFORE dedup — NULL keys must never reach the state store,
where they would collapse into one all-NULLs group (the bloom_stream
NULL-key lesson, round 8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from victor_spark.functions.url import (
    canonical_url,
    robots_best_match,
    robots_rule_of,
)


def rules_by_host(rules: DataFrame) -> DataFrame:
    """Fold a (host, prefix, allow) rule table — one row per robots.txt
    line — into one row per host carrying its rule array, the shape
    :func:`gate_urls` joins against. Run once per robots refresh; the
    result is the static dim of the stream-static join. Hosts are
    lowercased HERE so a mixed-case host spelling in the rule source
    (common in fetch logs) still meets the lowercased host
    :func:`gate_urls` derives from each URL — a case mismatch would
    silently bypass the host's rules into default-allow. Empty patterns
    are dropped — RFC 9309 §2.2.2: an empty Disallow/Allow value
    matches nothing (it is how sites spell "disallow nothing"); kept,
    it would startswith-match EVERY target at precedence 0."""
    return (
        rules.filter(F.length("prefix") > 0)
        .groupBy(F.lower(F.col("host")).alias("host"))
        .agg(
            F.collect_list(
                robots_rule_of("prefix", "allow")
            ).alias("rules")
        )
    )


def gate_urls(
    urls: DataFrame,
    host_rules: DataFrame,
    broadcast_rules: bool = True,
) -> DataFrame:
    """Canonicalize + robots-evaluate a URL relation (batch OR stream —
    the plan is a projection plus one equi-join with the static
    ``host_rules`` dim from :func:`rules_by_host`).

    Adds: ``url_key`` (canonical form; NULL = malformed), ``host``,
    ``allowed`` (RFC 9309 longest-match, allow wins ties, default-allow
    when the host has no rules — but malformed URLs are NOT allowed),
    ``matched_prefix`` ('' when no rule matched). Rules are evaluated
    against the RFC's match target — the path PLUS the query string —
    so a rule whose pattern extends into the query (``/search?sess=``)
    matches; matching on the bare path would silently skip it.

    The input may not already carry the columns this gate produces (or
    the rule-array join key) — that would silently clobber caller data
    and emit duplicate column names; raise loudly instead."""
    reserved = {"url_key", "host", "allowed", "matched_prefix", "rules",
                "_match_target"}
    clash = reserved & set(urls.columns)
    if clash:
        raise ValueError(
            f"gate_urls input columns {sorted(clash)} collide with the "
            "gate's output/join columns — rename them upstream"
        )
    url_key = canonical_url("url")
    host = F.lower(F.try_parse_url(F.col("url"), F.lit("HOST")))
    path = F.coalesce(
        F.try_parse_url(F.col("url"), F.lit("PATH")), F.lit("/")
    )
    query = F.try_parse_url(F.col("url"), F.lit("QUERY"))
    target = F.concat(
        F.when(path == "", "/").otherwise(path),
        F.when(query.isNotNull(), F.concat(F.lit("?"), query)).otherwise(
            F.lit("")
        ),
    )
    # the rule dim is broadcast by default (robots.txt is RFC-capped at
    # 500 KiB per host and most hosts have a handful of lines; even a
    # large crawl's folded rule corpus is dim-sized). Pass
    # broadcast_rules=False only when the rule corpus genuinely exceeds
    # broadcast limits — the join then shuffles on host like any big dim.
    dim = F.broadcast(host_rules) if broadcast_rules else host_rules
    gated = (
        urls.withColumn("url_key", url_key)
        .withColumn("host", host)
        .withColumn("_match_target", target)
        .join(dim, "host", "left")
    )
    best = robots_best_match(F.col("_match_target"), F.col("rules"))
    return gated.select(
        *urls.columns,
        "url_key",
        "host",
        (
            F.col("url_key").isNotNull()
            & F.coalesce(best["allow"], F.lit(True))
        ).alias("allowed"),
        F.coalesce(best["prefix"], F.lit("")).alias("matched_prefix"),
    )


def crawl_frontier_stream(
    url_stream: DataFrame,
    host_rules: DataFrame,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """The admitted frontier: gate the stream, drop malformed and
    disallowed URLs, then admit each canonical key ONCE per watermark
    horizon. Returns an append-mode stream of the gated columns for
    first-seen keys only."""
    gated = gate_urls(url_stream, host_rules).filter(F.col("allowed"))
    return (
        gated.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["url_key"])
    )


def sitemap_frontier_stream(
    sitemap_pages: DataFrame,
    host_rules: DataFrame,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    xml_col: str = "xml",
) -> DataFrame:
    """The full discovery loop, streaming end to end: sitemap pages
    arrive (fetched urlset shards), their entries are extracted
    per-row (sources/sitemap.py — projection + explode, stream-safe),
    and each discovered URL rides the same gate + frontier as every
    other discovery source. ``sitemapindex`` children are NOT fetchable
    page URLs, so only ``kind='url'`` entries (with a non-NULL loc)
    enter the gate — index children go back to the fetcher, a different
    queue. One stateful stage total (the frontier dedup); extraction
    and gating add none."""
    from victor_spark.sources.sitemap import sitemap_entries

    if "url" in sitemap_pages.columns:
        # the rename below would otherwise create a second 'url' column
        # and fail much later with AMBIGUOUS_REFERENCE inside the gate
        raise ValueError(
            "sitemap_frontier_stream input already carries a 'url' "
            "column — rename it upstream (extracted locs become 'url')"
        )
    urls = (
        sitemap_entries(sitemap_pages, xml_col)
        .filter((F.col("kind") == "url") & F.col("loc").isNotNull())
        .withColumnRenamed("loc", "url")
        .drop("kind", "lastmod")
    )
    return crawl_frontier_stream(
        urls, host_rules, watermark=watermark, ts_col=ts_col
    )
