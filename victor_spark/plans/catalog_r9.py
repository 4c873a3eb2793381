"""Round-9 catalog queries — staged and oracle-hardened through round 8,
REGISTERED at round-9 start (catalog.py merges ``PENDING`` into
``QUERIES`` just before computing the gate order, so every query here
auto-fronts as never-green).

Why these lived in a separate module for a round: the driver's
correctness gate checks the FIRST 50 of ``QUERIES`` and never-green
queries auto-front, so registering new queries mid-round would have
evicted the r4/r5 stale tail the round-8 window was dedicated to.
``tests/test_r9_pending.py`` still runs the driver-gate compare for the
family at the gate's own SF, plus the plan-shape assertions.

``PENDING`` is kept as the module's registry (merged, not renamed) so
the staging-era tests, tools/driver_sim.py and tools/scale_probe.py
keep resolving names through one dict.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from victor_spark.functions.html import sql_normalize_ws
from victor_spark.functions.text import STOPWORDS as _T_STOPWORDS
from victor_spark.functions.vector import (
    _dot_sql,
    _norm_sql,
    dot,
    norm,
    to_double_array,
)
from victor_spark.plans.catalog import (
    SQL_TOKS,
    QuerySpec,
    _ingest_build_dir,
    _ingest_cache_dir,
    _publish_ingest_dir,
)
from victor_spark.sources import load_table

PENDING: dict[str, QuerySpec] = {}


def _q9(name: str, oracle, doc: str = ""):
    def wrap(fn):
        PENDING[name] = QuerySpec(name, fn, oracle, doc)
        return fn

    return wrap


# ---------------------------------------------------------------------------
# WET roundtrip: the pre-extracted-text half of the first mile
# ---------------------------------------------------------------------------

_WET_ORACLE = f"""
WITH norm AS (
  SELECT doc_id, {sql_normalize_ws("text")} AS t FROM documents
)
SELECT 'http://corpus.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
       CAST(length(t) AS BIGINT) AS n_chars,
       md5(t) AS text_md5
FROM norm
"""


@_q9(
    "ingest_wet_roundtrip",
    _WET_ORACLE,
    "Common Crawl's OTHER distribution: WET shards (the same WARC "
    "container carrying pre-extracted plain text as 'conversion' "
    "records). The documents table is packed into .warc.wet.gz shards "
    "(gzip member per record) and read back through wet_documents — "
    "whitespace-normalized with the SAME contract the HTML extractor "
    "ends with, so WARC- and WET-derived corpora agree. The oracle "
    "recomputes the normalization over documents.text; a match proves "
    "conversion-record framing + member transport + normalization end "
    "to end. Shuffle-free scan -> record walk -> projection",
)
def q_ingest_wet_roundtrip(spark, sf_dir):
    from victor_spark.sources.warc import wet_documents, write_warc

    docs = load_table(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("http://corpus.example/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("uri"),
        "text",
    )
    # cache key covers EVERY function that shapes the shard bytes —
    # the record/envelope builders included (round-6 lesson; same rule
    # as q_warc_extract)
    from victor_spark.sources import warc as _warc_mod

    out, built = _ingest_cache_dir(
        "wet", sf_dir,
        code_of=(q_ingest_wet_roundtrip, write_warc,
                 _warc_mod._record_bytes, _warc_mod._conversion_record,
                 _warc_mod._warcinfo_record),
    )
    if not built:
        build = _ingest_build_dir(out)
        write_warc(
            docs.repartition(8), build, "uri", "text",
            record_type="conversion",
        ).collect()
        _publish_ingest_dir(build, out)
    return wet_documents(spark, out).select(
        "url",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.md5("text").alias("text_md5"),
    )


# ---------------------------------------------------------------------------
# MP3 metadata probe over SYNTHESIZED streams (the external fixture pins
# reality in ingest_external_fixtures; this pins cross-engine determinism
# of the whole probe surface at corpus scale)
# ---------------------------------------------------------------------------

# the same public tables the probe carries, stated literally in SQL
_V1L3 = "list_value(32,40,48,56,64,80,96,112,128,160,192,224,256,320)"
_V2L3 = "list_value(8,16,24,32,40,48,56,64,80,96,112,128,144,160)"
_RATES_SQL = (
    "list_value(list_value(44100,48000,32000),"
    "list_value(22050,24000,16000),"
    "list_value(11025,12000,8000))"
)

_MP3_ORACLE = f"""
WITH p AS (
  SELECT doc_id AS media_id, md5(text) AS h FROM documents
),
d AS (
  SELECT media_id,
         (ord(substr(h, 1, 1)) % 3) + 1 AS vsel,      -- 1=MPEG1 2=MPEG2 3=MPEG2.5
         (ord(substr(h, 2, 1)) % 14) + 1 AS bridx,
         (ord(substr(h, 3, 1)) % 3) + 1 AS sridx,
         (ord(substr(h, 4, 1)) % 6) + 1 AS nf
  FROM p
),
e AS (
  SELECT media_id, nf,
         CASE WHEN vsel = 1 THEN {_V1L3}[bridx] ELSE {_V2L3}[bridx] END AS kbps,
         {_RATES_SQL}[vsel][sridx] AS rate,
         CASE WHEN vsel = 1 THEN 1152 ELSE 576 END AS spf
  FROM d
)
SELECT media_id,
       CAST(rate AS BIGINT) AS sample_rate,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(nf * spf AS BIGINT) AS n_samples,
       CAST(kbps AS BIGINT) AS mean_kbps,
       CAST(nf * (spf // 8 * kbps * 1000 // rate) AS BIGINT) AS n_bytes
FROM e
"""


@_q9(
    "multimodal_mp3_probe",
    _MP3_ORACLE,
    "MP3 metadata at corpus scale: per-document Layer-III streams are "
    "synthesized with md5-derived version/bitrate/rate/frame-count "
    "(headers + zero-fill payload — the probe reads headers only), and "
    "operators/mp3_probe.py walks every frame to report sample rate, "
    "frame/sample counts, mean bitrate and total bytes. The oracle "
    "restates the public ISO 11172-3/13818-3 tables and the "
    "samples/8*bitrate/rate frame-length formula in SQL, so a match "
    "proves the walk's integer math on BOTH engines; the committed "
    "real-encoder fixture (ingest_external_fixtures) pins the tables "
    "against reality. Arrow-batched synth + probe, shuffle-free",
)
def q_multimodal_mp3_probe(spark, sf_dir):
    from collections.abc import Iterator as _It

    import pandas as pd

    from victor_spark.operators.mp3_probe import _BITRATES, _RATES, mp3_probe

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), F.md5("text").alias("h")
    )

    def _synth_and_probe(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        vbits_for = {1: 3, 2: 2, 3: 0}  # vsel -> header version bits
        for pdf in batches:
            rows = {k: [] for k in (
                "media_id", "sample_rate", "n_frames", "n_samples",
                "mean_kbps", "n_bytes",
            )}
            for mid, h in zip(pdf["media_id"], pdf["h"]):
                vsel = (ord(h[0]) % 3) + 1
                bridx = (ord(h[1]) % 14) + 1
                sridx = ord(h[2]) % 3
                nf = (ord(h[3]) % 6) + 1
                vbits = vbits_for[vsel]
                hdr = (
                    (0x7FF << 21) | (vbits << 19) | (1 << 17)  # Layer III
                    | (bridx << 12) | (sridx << 10) | (0 << 9) | (3 << 6)
                ).to_bytes(4, "big")
                kbps = _BITRATES[(1 if vsel == 1 else 2, 3)][bridx - 1]
                rate = _RATES[vbits][sridx]
                spf = 1152 if vsel == 1 else 576
                flen = spf // 8 * kbps * 1000 // rate
                stream = (hdr + b"\x00" * (flen - 4)) * nf
                info = mp3_probe(stream)  # the REAL probe on real bytes
                rows["media_id"].append(mid)
                rows["sample_rate"].append(info["sample_rate"])
                rows["n_frames"].append(info["n_frames"])
                rows["n_samples"].append(info["n_samples"])
                rows["mean_kbps"].append(int(info["mean_kbps"]))
                rows["n_bytes"].append(len(stream))
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        _synth_and_probe,
        schema=(
            "media_id long, sample_rate long, n_frames long, "
            "n_samples long, mean_kbps long, n_bytes long"
        ),
    )


# ---------------------------------------------------------------------------
# WebP header probe over SYNTHESIZED containers (VP8X canvas + VP8
# keyframe header, cross-check enforced by the probe itself)
# ---------------------------------------------------------------------------

_WEBP_ORACLE = """
WITH p AS (SELECT doc_id AS media_id, md5(text) AS h FROM documents)
SELECT media_id,
       CAST((ord(substr(h, 1, 1)) % 300) + 1 AS BIGINT) AS width,
       CAST((ord(substr(h, 2, 1)) % 300) + 1 AS BIGINT) AS height,
       CAST(52 AS BIGINT) AS n_bytes
FROM p
"""


@_q9(
    "multimodal_webp_probe",
    _WEBP_ORACLE,
    "WebP metadata at corpus scale: per-document VP8X containers are "
    "synthesized with md5-derived dimensions (extended header + a VP8 "
    "keyframe header whose dims must AGREE — the probe enforces the "
    "cross-check — with zero-fill entropy bytes the header-only probe "
    "never reads), and multimodal.webp_dimensions reports the dims. "
    "The oracle restates the md5 derivation; the committed real VP8X "
    "fixture pins the field layout against a real encoder. "
    "Arrow-batched synth + probe, shuffle-free",
)
def q_multimodal_webp_probe(spark, sf_dir):
    import struct
    from collections.abc import Iterator as _It

    import pandas as pd

    from victor_spark.operators.multimodal import webp_dimensions

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), F.md5("text").alias("h")
    )

    def _synth_and_probe(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "width": [], "height": [], "n_bytes": []}
            for mid, h in zip(pdf["media_id"], pdf["h"]):
                w = (ord(h[0]) % 300) + 1
                hh = (ord(h[1]) % 300) + 1
                vp8x = (
                    b"VP8X" + struct.pack("<I", 10)
                    + b"\x00\x00\x00\x00"
                    + (w - 1).to_bytes(3, "little")
                    + (hh - 1).to_bytes(3, "little")
                )
                frame = (
                    b"\x00\x00\x00"  # keyframe tag (bit0 = 0)
                    + b"\x9d\x01\x2a"
                    + struct.pack("<H", w) + struct.pack("<H", hh)
                    + b"\x00" * 4  # entropy bytes the probe never reads
                )
                vp8 = b"VP8 " + struct.pack("<I", len(frame)) + frame
                body = b"WEBP" + vp8x + vp8
                payload = b"RIFF" + struct.pack("<I", len(body)) + body
                pw, ph = webp_dimensions(payload)  # the REAL probe
                rows["media_id"].append(mid)
                rows["width"].append(pw)
                rows["height"].append(ph)
                rows["n_bytes"].append(len(payload))
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        _synth_and_probe,
        schema="media_id long, width long, height long, n_bytes long",
    )


# ---------------------------------------------------------------------------
# URL-canonicalization dedup: the crawl pipeline's first dedup key
# ---------------------------------------------------------------------------

_URL_ORACLE = """
SELECT 'http://site' || CAST(doc_id % 7 AS VARCHAR) || '.example/p/'
         || CAST(doc_id AS VARCHAR) AS url_key,
       CAST(3 AS BIGINT) AS n_aliases
FROM documents
"""


@_q9(
    "dedup_url_canonical",
    _URL_ORACLE,
    "URL-alias dedup — the FIRST dedup every crawl pipeline runs: three "
    "alias spellings per document (uppercase scheme/host + explicit :80 "
    "+ fragment; the plain form; a userinfo-with-numeric-password form "
    "that a naive port regex would misparse) collapse to ONE canonical "
    "key via functions/url.canonical_url (pure codegen try_parse_url "
    "expressions), then an exact groupBy counts the aliases. The oracle "
    "states the expected canonical key and count per document. One "
    "hash exchange — URL dedup costs what exact dedup costs",
)
def q_dedup_url_canonical(spark, sf_dir):
    from victor_spark.functions.url import canonical_url

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    site = F.col("doc_id") % 7
    path = F.col("doc_id").cast("string")
    aliases = d.select(
        F.explode(
            F.array(
                F.concat(F.lit("HTTP://SITE"), site.cast("string"),
                         F.lit(".EXAMPLE:80/p/"), path, F.lit("#frag")),
                F.concat(F.lit("http://site"), site.cast("string"),
                         F.lit(".example/p/"), path),
                F.concat(F.lit("http://u:9"), path,
                         F.lit("@site"), site.cast("string"),
                         F.lit(".example/p/"), path),
            )
        ).alias("url")
    )
    return (
        aliases.groupBy(canonical_url("url").alias("url_key"))
        .agg(F.count("*").alias("n_aliases"))
    )


# ---------------------------------------------------------------------------
# Intra-document repeated-line removal (RefinedWeb-style line dedup WITHIN
# a doc — the complement of line_dedup_global's corpus-wide pass)
# ---------------------------------------------------------------------------

# A 5-line synthesized doc with two INTRA-doc repeats (the 40-char prefix
# and the boilerplate footer each appear twice), so the dedup has real
# work in every row. Shares the footer text with catalog.py's
# _MULTILINE_SQL family so the two line-level passes stay comparable.
_INTRA_SQL = (
    "concat(text, chr(10), substr(text, 1, 40), chr(10), "
    "'All rights reserved. Contact us today!', chr(10), "
    "substr(text, 1, 40), chr(10), "
    "'All rights reserved. Contact us today!')"
)

_INTRA_ORACLE = f"""
WITH d AS (SELECT doc_id, string_split({_INTRA_SQL}, chr(10)) AS lines
           FROM documents),
k AS (
  SELECT doc_id, lines,
         list_filter(lines, (l, i) -> list_position(lines, l) = i) AS kept
  FROM d
)
SELECT doc_id,
       CAST(len(lines) AS INTEGER) AS n_lines,
       CAST(len(kept) AS INTEGER) AS n_kept,
       CAST(sha256(array_to_string(kept, chr(10))) AS VARCHAR) AS cleaned_hash
FROM k
"""


@_q9(
    "line_dedup_intra_doc",
    _INTRA_ORACLE,
    "intra-document repeated-line removal (RefinedWeb's within-doc line "
    "dedup; the complement of line_dedup_global): each line of a "
    "synthesized 5-line doc — containing two deliberate repeats — is "
    "kept only at its FIRST position within its own document, via a "
    "single higher-order-function projection (filter keeping lines "
    "whose array_position equals their own index). ZERO shuffles, zero "
    "Python — per-row codegen, so at 100 TB this costs exactly one "
    "scan; order is preserved without the explode/groupBy/reassemble "
    "round-trip the global pass needs. The oracle is the identical "
    "index-lambda list_filter in DuckDB",
)
def q_line_dedup_intra_doc(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.split(
            F.concat(
                F.col("text"), F.lit("\n"),
                F.substring("text", 1, 40), F.lit("\n"),
                F.lit("All rights reserved. Contact us today!"), F.lit("\n"),
                F.substring("text", 1, 40), F.lit("\n"),
                F.lit("All rights reserved. Contact us today!"),
            ),
            "\n",
        ).alias("lines"),
    )
    lines = F.col("lines")
    # keep a line iff its first occurrence index IS its own index —
    # PySpark's filter lambda index is 0-based, array_position 1-based
    kept = F.filter(lines, lambda l, i: F.array_position(lines, l) == i + 1)
    return d.select(
        "doc_id",
        F.size("lines").alias("n_lines"),
        F.size(kept).alias("n_kept"),
        F.sha2(F.array_join(kept, "\n"), 256).alias("cleaned_hash"),
    )


# ---------------------------------------------------------------------------
# Domain-level corpus stats + blocklist flag (the CCNet/RefinedWeb
# per-host accounting that decides which domains to keep at all)
# ---------------------------------------------------------------------------

_HOST_ORACLE = """
WITH u AS (
  SELECT doc_id, length(text) AS nc,
         'site' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS host
  FROM documents
)
SELECT host,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nc) AS BIGINT) AS n_chars,
       host IN ('site0.example', 'site3.example') AS blocked
FROM u GROUP BY host
"""


@_q9(
    "url_host_stats",
    _HOST_ORACLE,
    "domain-level corpus accounting: every document's (messy, "
    "mixed-case, explicit-:80) URL is reduced to its canonical host via "
    "try_parse_url + lower (pure codegen — the REAL parse, not string "
    "arithmetic), then one partial-agg'd groupBy yields per-host doc "
    "and char counts with a blocklist membership flag (UT1-style "
    "domain filtering is this flag as an anti-join filter). The oracle "
    "restates the host derivation arithmetically, so a match proves "
    "the URL parser extracts what the synthesis intended. ONE hash "
    "exchange with map-side combine; hosts are the canonical skew key "
    "at 100 TB and partial aggregation is exactly the mitigation",
)
def q_url_host_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    url = F.concat(
        F.lit("HTTP://SITE"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".Example:80/p/"), F.col("doc_id").cast("string"),
        F.lit("?q=1"),
    )
    host = F.lower(F.try_parse_url(url, F.lit("HOST")))
    return (
        d.groupBy(host.alias("host"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("n_chars"),
        )
        .withColumn(
            "blocked", F.col("host").isin("site0.example", "site3.example")
        )
    )


# ---------------------------------------------------------------------------
# robots.txt longest-match evaluation (RFC 9309 §2.2.2): the crawl
# pipeline's politeness gate, evaluated per-URL with zero shuffles
# ---------------------------------------------------------------------------

_ROBOTS_ORACLE = """
WITH u AS (
  SELECT doc_id, doc_id % 7 AS s,
         CASE WHEN doc_id % 5 = 0 THEN '/private/p/' || CAST(doc_id AS VARCHAR)
              WHEN doc_id % 5 = 1 THEN '/tmp/' || CAST(doc_id AS VARCHAR)
              ELSE '/p/' || CAST(doc_id AS VARCHAR) END AS path
  FROM documents
),
r(parity, prefix, allow) AS (
  VALUES (NULL, '/private', FALSE), (NULL, '/tmp', FALSE),
         (0, '/private/p', TRUE)
),
m AS (
  SELECT u.doc_id, r.prefix, r.allow,
         row_number() OVER (
           PARTITION BY u.doc_id
           ORDER BY strlen(r.prefix) DESC, r.allow DESC
         ) AS rn
  FROM u JOIN r ON (r.parity IS NULL OR r.parity = u.s % 2)
             AND u.path LIKE r.prefix || '%'
)
SELECT u.doc_id,
       'http://site' || CAST(u.s AS VARCHAR) || '.example' || u.path AS url,
       coalesce(b.allow, TRUE) AS allowed,
       coalesce(b.prefix, '') AS matched_prefix
FROM u LEFT JOIN (SELECT doc_id, prefix, allow FROM m WHERE rn = 1) b
  ON u.doc_id = b.doc_id
"""


@_q9(
    "robots_filter",
    _ROBOTS_ORACLE,
    "robots.txt evaluation (RFC 9309 §2.2.2 longest-match, allow wins "
    "ties): per-host rule sets — Disallow /private and /tmp everywhere, "
    "Allow /private/p on even-parity hosts — are attached as LITERAL "
    "struct arrays and evaluated per-URL with filter + array_max over "
    "(prefix_len, allow) struct ordering, default-allow when nothing "
    "matches. ZERO shuffles: a real crawler's per-host rule set is tiny "
    "(robots.txt caps at 500 KiB by the RFC), so rules ride the plan as "
    "a broadcast-shaped literal / map-side lookup rather than a join — "
    "at 100 TB the politeness gate costs one scan. The oracle restates "
    "the rules as a VALUES table with LIKE-prefix longest-match",
)
def q_robots_filter(spark, sf_dir):
    from victor_spark.functions.url import robots_best_match, robots_rule

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    s = F.col("doc_id") % 7
    path = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("/private/p/"), F.col("doc_id").cast("string")),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(F.lit("/tmp/"), F.col("doc_id").cast("string")),
        )
        .otherwise(F.concat(F.lit("/p/"), F.col("doc_id").cast("string")))
    )
    base = [robots_rule("/private", False), robots_rule("/tmp", False)]
    rules = F.when(
        s % 2 == 0, F.array(*base, robots_rule("/private/p", True))
    ).otherwise(F.array(*base))
    best = robots_best_match(path, rules)
    return d.select(
        "doc_id",
        F.concat(
            F.lit("http://site"), s.cast("string"), F.lit(".example"), path
        ).alias("url"),
        F.coalesce(best["allow"], F.lit(True)).alias("allowed"),
        F.coalesce(best["prefix"], F.lit("")).alias("matched_prefix"),
    )


# ---------------------------------------------------------------------------
# Hard-negative mining: per query, the highest-cosine DIFFERENT-label
# corpus vectors — the contrastive-training triplet miner
# ---------------------------------------------------------------------------

_HARDNEG_ORACLE = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv,
             sqrt(list_dot_product(v, v)) AS qn
      FROM e WHERE vec_id < 8),
s AS (
  SELECT q.qid, e.vec_id,
         list_dot_product(e.v, q.qv)
           / (sqrt(list_dot_product(e.v, e.v)) * q.qn) AS sim
  FROM e, q WHERE e.label <> q.qlabel
),
r AS (
  SELECT qid, vec_id, sim,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id)
              AS INTEGER) AS rank
  FROM s
)
SELECT qid AS query_id, vec_id AS negative_id, rank, round(sim, 6) AS sim
FROM r WHERE rank <= 5
"""


@_q9(
    "hard_negatives",
    _HARDNEG_ORACLE,
    "hard-negative mining for contrastive training (the triplet miner "
    "every embedding-model pipeline runs): for each of 8 queries, the "
    "top-5 highest-cosine corpus vectors with a DIFFERENT label — the "
    "near-misses that make the best negatives (random negatives are "
    "too easy; same-label rows are positives, and the query row "
    "excludes itself by its own label). Query side broadcast, label "
    "filter BEFORE scoring prunes the rank input, per-query "
    "WindowGroupLimit bounds the heap — the batched-search shape, one "
    "corpus scan at 100 TB",
)
def q_hard_negatives(spark, sf_dir):
    from victor_spark.plans.catalog import _emb

    e = _emb(spark, sf_dir)
    q = F.broadcast(
        e.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlabel"),
            norm("v").alias("qn"),
            F.col("v").alias("qv"),
        )
    )
    s = (
        e.crossJoin(q)
        .filter(F.col("label") != F.col("qlabel"))
        .select(
            "qid", "vec_id",
            (dot("v", "qv") / (norm("v") * F.col("qn"))).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        s.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vec_id").alias("negative_id"),
            "rank",
            F.round("sim", 6).alias("sim"),
        )
    )


# ---------------------------------------------------------------------------
# Fill-in-middle transform (Bavarian et al. 2022): the pretraining data
# reordering for infilling-capable models, as pure substring codegen
# ---------------------------------------------------------------------------

_FIM_ORACLE = """
WITH p AS (
  SELECT doc_id, text, length(text) AS n, md5(text) AS h FROM documents
),
cut AS (
  SELECT doc_id, text, n,
         greatest(n // 3, 1) AS third,
         ord(substr(h, 1, 1)) AS h1,
         ord(substr(h, 2, 1)) AS h2
  FROM p
),
spans AS (
  SELECT doc_id, text, n,
         h1 % third AS a,
         third + (h2 % third) AS mlen
  FROM cut
)
SELECT doc_id,
       CAST(a AS BIGINT) AS prefix_len,
       CAST(least(mlen, greatest(n - a, 0)) AS BIGINT) AS middle_len,
       md5('<PRE>' || substr(text, 1, a) || '<SUF>'
           || substr(text, a + mlen + 1) || '<MID>'
           || substr(text, a + 1, mlen)) AS fim_md5
FROM spans
"""


@_q9(
    "fim_transform",
    _FIM_ORACLE,
    "fill-in-middle transform (Bavarian et al. 2022 PSM order) — the "
    "pretraining reordering behind infilling-capable code models: "
    "md5-derived deterministic cut points split each doc into "
    "prefix/middle/suffix, re-emitted as <PRE>prefix<SUF>suffix"
    "<MID>middle. Pure substring codegen, zero shuffles, zero Python — "
    "at 100 TB the transform costs one scan (exactly how FIM is "
    "applied in production: a map over the corpus at data-prep time). "
    "The oracle restates the cut arithmetic and the reassembled md5; "
    "short/empty docs fall out of the same clamping arithmetic on both "
    "engines",
)
def q_fim_transform(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("n"), F.md5("text").alias("h")
    )
    third = F.greatest(F.floor(F.col("n") / 3).cast("long"), F.lit(1))
    h1 = F.ascii(F.substring("h", 1, 1))
    h2 = F.ascii(F.substring("h", 2, 1))
    a = (h1 % third).cast("int")
    mlen = (third + (h2 % third)).cast("int")
    prefix = F.substring(F.col("text"), F.lit(1), a)
    middle = F.substring(F.col("text"), a + 1, mlen)
    suffix = F.substring(F.col("text"), a + mlen + 1, F.col("n").cast("int"))
    fim = F.concat(
        F.lit("<PRE>"), prefix, F.lit("<SUF>"), suffix, F.lit("<MID>"), middle
    )
    return d.select(
        "doc_id",
        a.cast("long").alias("prefix_len"),
        F.least(
            mlen.cast("long"),
            F.greatest(F.col("n") - a, F.lit(0).cast("long")),
        ).alias("middle_len"),
        F.md5(fim).alias("fim_md5"),
    )


# ---------------------------------------------------------------------------
# Retrieval evaluation metrics: graded nDCG@10 + MRR@10 over the real
# cosine retrieval — the eval leg of the ANN family (ann_recall audits
# set overlap; ranking quality needs the graded, rank-discounted form)
# ---------------------------------------------------------------------------

_NDCG_ORACLE = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv,
             sqrt(list_dot_product(v, v)) AS qn
      FROM e WHERE vec_id < 8),
s AS (
  SELECT q.qid, q.qlabel, e.vec_id, e.label,
         list_dot_product(e.v, q.qv)
           / (sqrt(list_dot_product(e.v, e.v)) * q.qn) AS sim
  FROM e, q WHERE e.vec_id <> q.qid
),
r AS (
  SELECT qid, qlabel, vec_id, label,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rk
  FROM s
),
g AS (
  SELECT qid, rk,
         CASE WHEN label = qlabel THEN 2
              WHEN (label - qlabel) % 2 = 0 THEN 1 ELSE 0 END AS rel
  FROM r
),
dcg AS (
  SELECT qid, sum((pow(2, rel) - 1) / log2(rk + 1)) AS dcg10,
         coalesce(max(CASE WHEN rel > 0 THEN 1.0 / rk END), 0) AS mrr10
  FROM g WHERE rk <= 10 GROUP BY qid
),
cnt AS (
  SELECT qid,
         sum(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS n2,
         sum(CASE WHEN rel = 1 THEN 1 ELSE 0 END) AS n1
  FROM g GROUP BY qid
),
idcg AS (
  SELECT cnt.qid,
         sum((pow(2, CASE WHEN gs <= n2 THEN 2
                          WHEN gs <= n2 + n1 THEN 1 ELSE 0 END) - 1)
             / log2(gs + 1)) AS idcg10
  FROM cnt, generate_series(1, 10) t(gs) GROUP BY cnt.qid
)
SELECT dcg.qid AS query_id,
       round(CASE WHEN idcg.idcg10 > 0 THEN dcg.dcg10 / idcg.idcg10
                  ELSE 0 END, 6) AS ndcg10,
       round(dcg.mrr10, 6) AS mrr10
FROM dcg JOIN idcg ON dcg.qid = idcg.qid
"""


@_q9(
    "retrieval_ndcg",
    _NDCG_ORACLE,
    "graded retrieval evaluation: 8 queries x corpus exact cosine "
    "ranking (self excluded), label-derived graded relevance (2 = same "
    "label, 1 = even label distance, 0 otherwise), nDCG@10 against the "
    "per-query IDEAL ranking (relevance counts over the FULL corpus "
    "fill the ideal slots — computed as one codegen fold over "
    "sequence(1,10), no per-slot join) and MRR@10. One corpus scan, "
    "one rank window per query partition, two small aggregations — the "
    "eval harness a retrieval pipeline runs after every index build; "
    "at 100 TB it shares the batched-search shape (query side "
    "broadcast, corpus never shuffled before scoring)",
)
def q_retrieval_ndcg(spark, sf_dir):
    from victor_spark.plans.catalog import _emb

    e = _emb(spark, sf_dir)
    q = F.broadcast(
        e.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlabel"),
            F.col("v").alias("qv"),
            norm("v").alias("qn"),
        )
    )
    s = (
        e.crossJoin(q)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "qlabel", "vec_id", "label",
            (dot("v", "qv") / (norm("v") * F.col("qn"))).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    g = s.withColumn("rk", F.row_number().over(w)).select(
        "qid", "rk",
        F.when(F.col("label") == F.col("qlabel"), 2)
        .when((F.col("label") - F.col("qlabel")) % 2 == 0, 1)
        .otherwise(0)
        .alias("rel"),
    )
    dcg = (
        g.filter(F.col("rk") <= 10)
        .groupBy("qid")
        .agg(
            F.sum(
                (F.pow(F.lit(2.0), F.col("rel")) - 1)
                / F.log2(F.col("rk") + 1)
            ).alias("dcg10"),
            F.coalesce(
                F.max(F.when(F.col("rel") > 0, 1.0 / F.col("rk"))), F.lit(0.0)
            ).alias("mrr10"),
        )
    )
    cnt = g.groupBy("qid").agg(
        F.sum((F.col("rel") == 2).cast("long")).alias("n2"),
        F.sum((F.col("rel") == 1).cast("long")).alias("n1"),
    )
    idcg = cnt.select(
        "qid",
        F.aggregate(
            F.sequence(F.lit(1), F.lit(10)),
            F.lit(0.0),
            lambda acc, gs: acc
            + (
                F.pow(
                    F.lit(2.0),
                    F.when(gs <= F.col("n2"), 2)
                    .when(gs <= F.col("n2") + F.col("n1"), 1)
                    .otherwise(0),
                )
                - 1
            )
            / F.log2(gs.cast("double") + 1),
        ).alias("idcg10"),
    )
    # both sides are 8-row aggregates; static stats can't see that, so
    # without the hint the final join plans as a SortMergeJoin
    return (
        dcg.join(F.broadcast(idcg), "qid")
        .select(
            F.col("qid").alias("query_id"),
            F.round(
                F.when(
                    F.col("idcg10") > 0, F.col("dcg10") / F.col("idcg10")
                ).otherwise(0.0),
                6,
            ).alias("ndcg10"),
            F.round("mrr10", 6).alias("mrr10"),
        )
    )


# ---------------------------------------------------------------------------
# BPE detokenization roundtrip: encode with an end-of-word marker,
# decode with pure codegen, prove the identity with a TOTAL oracle
# ---------------------------------------------------------------------------

# merge-independent oracle: whatever merges training produced, marked
# encode followed by decode must reproduce the tokens()-normalized text
# exactly. coalesce matters: DuckDB's array_to_string([]) is NULL while
# Spark decodes an empty token array to '' (the empty-doc edge row).
_BPE_RT_ORACLE = f"""
SELECT doc_id,
       md5(coalesce(array_to_string(
         {SQL_TOKS.format(s="lower(text)")}, ' '), '')) AS decoded_md5
FROM documents
"""


@_q9(
    "bpe_roundtrip",
    _BPE_RT_ORACLE,
    "BPE DETOKENIZATION leg (closes the tokenizer family: train -> "
    "encode -> decode): every doc is encoded with the 20 trained merges "
    "and Sennrich's end-of-word marker (without a marker the flat "
    "subword array loses word boundaries and decode cannot exist), "
    "then decoded by pure codegen (join, sentinel->space, drop final "
    "separator — zero Python; at 100 TB detokenization is a "
    "projection). The oracle is TOTAL and merge-independent: decode of "
    "encode must equal the tokens()-normalized text, md5-compared — "
    "any merge-table corruption, marker loss, or boundary bug breaks "
    "the hash. Training itself is pinned separately (bpe_train's "
    "dynamic oracle)",
)
def q_bpe_roundtrip(spark, sf_dir):
    from victor_spark.operators.bpe import (
        apply_bpe,
        decode_bpe,
        train_bpe_merges,
    )
    from victor_spark.sources.tables import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    merges = [
        (r["left"], r["right"])
        for r in train_bpe_merges(d, "text", num_merges=20)
        .orderBy("rank").collect()
    ]
    enc = apply_bpe(
        d.select("doc_id", "text"), "text", merges,
        out_col="bpe_tokens", word_end_marker="\x00",
    )
    return enc.select(
        "doc_id",
        F.md5(decode_bpe("bpe_tokens", "\x00")).alias("decoded_md5"),
    )


# ---------------------------------------------------------------------------
# Sitemap roundtrip: the crawl's other discovery source (sitemaps.org
# urlset + sitemapindex pages), synthesized with XML-escaped URLs and
# walked back by the pure-regexp extractor
# ---------------------------------------------------------------------------

_SITEMAP_ORACLE = """
SELECT 'url' AS kind,
       'http://site' || CAST(doc_id % 7 AS VARCHAR) || '.example/p/'
         || CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS loc,
       '2026-01-' || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0')
         AS lastmod
FROM documents
UNION ALL
SELECT 'sitemap' AS kind,
       'http://site' || CAST(s AS VARCHAR) || '.example/sitemap.xml' AS loc,
       CAST(NULL AS VARCHAR) AS lastmod
FROM (SELECT DISTINCT doc_id % 7 AS s FROM documents)
"""


@_q9(
    "ingest_sitemap_roundtrip",
    _SITEMAP_ORACLE,
    "sitemap discovery roundtrip (sitemaps.org protocol): per-site "
    "urlset pages — every URL carrying a query string, XML-escaped as "
    "the protocol requires — plus one sitemapindex page listing the "
    "site sitemaps, walked back by sources/sitemap.sitemap_entries "
    "(pure-regexp, entity decode amp-LAST, attribute-tolerant; the "
    "'<url' pattern proven not to swallow '<urlset'). The oracle "
    "states every expected (kind, loc, lastmod) row, so a match proves "
    "synthesis->escape->extract->decode end to end. One small shuffle "
    "builds the per-site pages; extraction itself is per-row codegen — "
    "at 100 TB it parallelizes with the shard scan",
)
def q_ingest_sitemap_roundtrip(spark, sf_dir):
    from victor_spark.functions.html import escape_html
    from victor_spark.sources.sitemap import sitemap_entries

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 7).alias("site"),
    )
    loc = F.concat(
        F.lit("http://site"), F.col("site").cast("string"),
        F.lit(".example/p/"), F.col("doc_id").cast("string"),
        F.lit("?a=1&b=2"),
    )
    lastmod = F.concat(
        F.lit("2026-01-"),
        F.lpad(((F.col("doc_id") % 28) + 1).cast("string"), 2, "0"),
    )
    entry = F.concat(
        F.lit("<url><loc>"), escape_html(loc), F.lit("</loc><lastmod>"),
        lastmod, F.lit("</lastmod></url>"),
    )
    site_pages = d.select("site", F.struct("doc_id", entry.alias("e")).alias(
        "se"
    )).groupBy("site").agg(
        F.concat(
            F.lit('<?xml version="1.0" encoding="UTF-8"?>'
                  '<urlset xmlns="http://www.sitemaps.org/schemas/'
                  'sitemap/0.9">'),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("se")), lambda s: s["e"]
                ),
                "",
            ),
            F.lit("</urlset>"),
        ).alias("xml")
    )
    # index page from the cheap distinct-site scan, NOT from site_pages:
    # referencing site_pages in both union branches would run the whole
    # page-build groupBy-concat shuffle twice (review-caught)
    index_page = d.select("site").distinct().agg(
        F.concat(
            F.lit('<?xml version="1.0" encoding="UTF-8"?><sitemapindex>'),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("site")),
                    lambda s: F.concat(
                        F.lit("<sitemap><loc>http://site"),
                        s.cast("string"),
                        F.lit(".example/sitemap.xml</loc></sitemap>"),
                    ),
                ),
                "",
            ),
            F.lit("</sitemapindex>"),
        ).alias("xml")
    )
    pages = site_pages.select("xml").unionAll(index_page)
    # sitemap_entries uses explode_outer, so an entry-free page emits one
    # all-NULL row (the "saw the page, found nothing" contract for crawl
    # accounting). Every page synthesized above carries entries, but this
    # query's oracle states only real entries — guard explicitly so a
    # future entry-free corpus can't silently diverge (review-caught).
    return (
        sitemap_entries(pages, "xml")
        .filter(F.col("loc").isNotNull())
        .select("kind", "loc", "lastmod")
    )


# ---------------------------------------------------------------------------
# Crawl admission: the full gate (canonicalize + RFC 9309 evaluation
# with wildcard/anchored/query-target rules) under the driver oracle
# ---------------------------------------------------------------------------

_ADMIT_ORACLE = """
SELECT doc_id,
       'http://site' || CAST(doc_id % 7 AS VARCHAR) || '.example' ||
       CASE doc_id % 5
         WHEN 0 THEN '/private/p/' || CAST(doc_id AS VARCHAR)
         WHEN 1 THEN '/tmp/' || CAST(doc_id AS VARCHAR)
         WHEN 2 THEN '/search?sess=' || CAST(doc_id AS VARCHAR)
         WHEN 3 THEN '/files/' || CAST(doc_id AS VARCHAR) || '.json'
         ELSE '/p/' || CAST(doc_id AS VARCHAR)
       END AS url_key,
       doc_id % 5 IN (0, 4) AS allowed,
       CASE doc_id % 5
         WHEN 0 THEN '/private/p'
         WHEN 1 THEN '/tmp'
         WHEN 2 THEN '/search?sess='
         WHEN 3 THEN '/files/*.json$'
         ELSE ''
       END AS matched_prefix
FROM documents
"""


@_q9(
    "crawl_admission",
    _ADMIT_ORACLE,
    "the full crawl admission gate (streaming/crawl_gate.gate_urls — "
    "the batch plane of topology 17) under the driver oracle: messy "
    "mixed-case/:80/#frag URL spellings are canonicalized and evaluated "
    "against a host-keyed rule dim exercising every RFC 9309 matcher "
    "branch — literal longest-match with allow-wins ('/private' vs "
    "'/private/p'), a rule extending into the QUERY string "
    "('/search?sess='), and a wildcard+anchored pattern "
    "('/files/*.json\\$'). The oracle states the expected canonical key, "
    "verdict, and winning pattern per residue class. Plan: one "
    "broadcast-shaped join with the 35-row rule dim + codegen "
    "projection — at 100 TB admission costs what a dim-join projection "
    "costs",
)
def q_crawl_admission(spark, sf_dir):
    from victor_spark.streaming.crawl_gate import gate_urls, rules_by_host

    rules = rules_by_host(
        spark.createDataFrame(
            [
                (f"site{s}.example", prefix, allow)
                for s in range(7)
                for prefix, allow in (
                    ("/private", False),
                    ("/private/p", True),
                    ("/tmp", False),
                    ("/search?sess=", False),
                    ("/files/*.json$", False),
                )
            ],
            "host string, prefix string, allow boolean",
        )
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    s = (F.col("doc_id") % 7).cast("string")
    i = F.col("doc_id").cast("string")
    path = (
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("/private/p/"), i))
        .when(F.col("doc_id") % 5 == 1, F.concat(F.lit("/tmp/"), i))
        .when(F.col("doc_id") % 5 == 2, F.concat(F.lit("/search?sess="), i))
        .when(
            F.col("doc_id") % 5 == 3,
            F.concat(F.lit("/files/"), i, F.lit(".json")),
        )
        .otherwise(F.concat(F.lit("/p/"), i))
    )
    urls = d.select(
        "doc_id",
        F.concat(
            F.lit("HTTP://SITE"), s, F.lit(".EXAMPLE:80"), path, F.lit("#frag")
        ).alias("url"),
    )
    return gate_urls(urls, rules).select(
        "doc_id", "url_key", "allowed", "matched_prefix"
    )


# ---------------------------------------------------------------------------
# Host-graph PageRank: the crawl-side quality prior (Common Crawl ranks
# hosts with exactly this family to pick what to fetch and keep)
# ---------------------------------------------------------------------------

_PR_ITER_SQL = """
c{i} AS (
  SELECT e.dst AS n,
         sum(CAST(r{p}.r * CAST(e.w AS DOUBLE) / CAST(o.tw AS DOUBLE)
                  AS DECIMAL(20,12))) AS s
  FROM e JOIN r{p} ON e.src = r{p}.n JOIN o ON e.src = o.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT nodes.n,
         CAST(0.15 AS DOUBLE) / nn.cnt
           + CAST(0.85 AS DOUBLE) * CAST(coalesce(c{i}.s, 0) AS DOUBLE) AS r
  FROM nodes CROSS JOIN nn LEFT JOIN c{i} ON nodes.n = c{i}.n
)"""

_PR_ORACLE = f"""
WITH e0 AS (SELECT doc_id % 97 AS src, (doc_id * 31 + 7) % 97 AS dst
            FROM documents),
e AS (SELECT src, dst, count(*) AS w FROM e0 WHERE src <> dst
      GROUP BY src, dst),
nodes AS (SELECT DISTINCT n
          FROM (SELECT src AS n FROM e UNION ALL SELECT dst FROM e)),
nn AS (SELECT count(*) AS cnt FROM nodes),
o AS (SELECT src, sum(w) AS tw FROM e GROUP BY src),
r0 AS (SELECT n, CAST(1.0 AS DOUBLE) / nn.cnt AS r FROM nodes CROSS JOIN nn),
{",".join(_PR_ITER_SQL.format(i=i, p=i - 1) for i in (1, 2, 3))}
SELECT n AS host, round(r, 6) AS pagerank FROM r3
"""


@_q9(
    "host_pagerank",
    _PR_ORACLE,
    "host-graph PageRank (3 damped iterations, d=0.85) — the crawl-side "
    "quality prior (Common Crawl publishes host ranks computed with "
    "exactly this family; pipelines use them to pick what to fetch and "
    "keep). A deterministic host link graph is synthesized from "
    "documents (doc_id%97 -> (31*doc_id+7)%97, self-loops dropped, "
    "parallel links weight-folded). Out-weights are folded INTO the "
    "edge matrix once before the loop, so each of the three damped "
    "iterations costs exactly one rank-x-edge equi-join plus a per-dst "
    "aggregation. Per-dst contribution sums are DECIMAL(20,12) (the "
    "embedding_outliers pattern) so the distributed sum is "
    "order-independent and both engines agree exactly. At 100 TB: the "
    "real host graph has tens of millions of hosts, so NOTHING "
    "node-sized carries a broadcast hint — the edge matrix is "
    "co-partitioned on src and materialized once (localCheckpoint, "
    "textrank's precedent), the node-sized rank table shuffles onto it "
    "per iteration, and AQE's stats-driven broadcast is the small-dim "
    "fast path when the graph genuinely fits (r8 verdict item 1). The "
    "node count is one bounded driver scalar",
)
def q_host_pagerank(spark, sf_dir):
    from victor_spark.operators.pagerank import pagerank

    d = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 97).alias("src"),
        ((F.col("doc_id") * 31 + 7) % 97).alias("dst"),
    )
    # one_minus_damping=0.15 exactly: the oracle states the literal, and
    # IEEE 1.0 - 0.85 is one ulp away — a value-hashed gate cares
    ranks = pagerank(d, iterations=3, damping=0.85, one_minus_damping=0.15)
    return ranks.select(
        F.col("node").alias("host"), F.round("rank", 6).alias("pagerank")
    )


# ---------------------------------------------------------------------------
# Matryoshka two-phase ANN: truncated-prefix coarse scan, exact rescore
# ---------------------------------------------------------------------------

_MRL_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
q AS (SELECT v AS qv, (v)[1:16] AS qv16 FROM e WHERE vec_id = 2),
c AS (
  SELECT vec_id, v, qv,
         list_dot_product((v)[1:16], qv16)
           / (sqrt(list_dot_product((v)[1:16], (v)[1:16]))
              * sqrt(list_dot_product(qv16, qv16))) AS s16
  FROM e, q
),
short AS (SELECT * FROM c ORDER BY s16 DESC, vec_id LIMIT 50),
r AS (
  SELECT vec_id,
         list_dot_product(v, qv)
           / (sqrt(list_dot_product(v, v))
              * sqrt(list_dot_product(qv, qv))) AS s
  FROM short
),
rk AS (
  SELECT vec_id, s,
         CAST(row_number() OVER (ORDER BY s DESC, vec_id) AS INTEGER) AS rank
  FROM r
)
SELECT vec_id, rank, round(s, 6) AS sim FROM rk WHERE rank <= 10
"""


@_q9(
    "ann_matryoshka_rescore",
    _MRL_ORACLE,
    "matryoshka two-phase search (MRL, Kusupati et al. 2022): cosine "
    "over the FIRST 16 of 64 dims shortlists 50 candidates (4x less "
    "arithmetic and memory traffic per corpus row — with MRL-trained "
    "embeddings the prefix IS a valid coarse embedding), then the "
    "exact full-dim cosine rescores only the shortlist for the top-10. "
    "Both phases are bounded heaps (TakeOrderedAndProject); the "
    "candidate rows carry their full vector through the first heap so "
    "the rescore needs NO second corpus pass or join — at 100 TB the "
    "query costs one quarter-width scan plus 50 rescores. The oracle "
    "restates both phases with DuckDB list slicing",
)
def q_ann_matryoshka_rescore(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    # the query-side 16-dim norm is a per-query CONSTANT — computed once
    # in the broadcast dim, never per corpus row; the corpus-side slice
    # is bound once per row (dot + norm would otherwise re-embed it)
    q = F.broadcast(
        e.filter(F.col("vec_id") == 2).select(
            F.col("v").alias("qv"),
            F.slice("v", 1, 16).alias("qv16"),
            norm("slice(v, 1, 16)").alias("qn16"),
        )
    )
    s16 = (
        f"get(transform(array(slice(v, 1, 16)), _v16 -> "
        f"{_dot_sql('_v16', '`qv16`')} / ({_norm_sql('_v16')} * `qn16`)), 0)"
    )
    coarse = e.crossJoin(q).select(
        "vec_id", "v", "qv", F.expr(s16).alias("s16")
    )
    short = coarse.orderBy(F.desc("s16"), F.asc("vec_id")).limit(50)
    rescored = short.select(
        "vec_id", (dot("v", "qv") / (norm("v") * norm("qv"))).alias("_s")
    )
    w = Window.orderBy(F.desc("_s"), F.asc("vec_id"))
    return (
        rescored.orderBy(F.desc("_s"), F.asc("vec_id"))
        .limit(10)
        .withColumn("rank", F.row_number().over(w))
        .select("vec_id", "rank", F.round("_s", 6).alias("sim"))
    )


# ---------------------------------------------------------------------------
# crawl_pipeline: the crawl-side capstone (r8 verdict item 5) — discovery,
# admission, frontier, fetch, WARC transport, extraction and curation
# composed into ONE oracle-checked dataflow (the crawl twin of
# curation_pipeline)
# ---------------------------------------------------------------------------

_CP_STOP = list(_T_STOPWORDS)

_CRAWL_PIPELINE_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text, doc_id % 7 AS s,
         CASE WHEN doc_id % 5 = 1 THEN '/tmp/' ELSE '/p/' END
           || CAST(doc_id AS VARCHAR) AS path
  FROM documents
),
admitted AS (
  -- the gate's verdict, restated: site hosts disallow /tmp; the mirror
  -- host publishes no robots.txt, so RFC 9309 default-allow admits even
  -- its /tmp paths. The duplicate sitemap listing (two shards per host)
  -- needs no restating: the frontier's distinct collapses it.
  SELECT doc_id, text,
         'http://site' || CAST(s AS VARCHAR) || '.example' || path AS url_key
  FROM base WHERE doc_id % 5 <> 1
  UNION ALL
  SELECT doc_id, text, 'http://mirror.example' || path AS url_key
  FROM base WHERE doc_id % 4 = 0
),
body AS (
  SELECT doc_id, url_key,
         text || chr(10) ||
         'Document ' || CAST(doc_id AS VARCHAR) || ' reports ' ||
         CASE WHEN doc_id % 9 = 0 THEN '!!! ??? *** $$$ ###'
              ELSE substr(text, 1, 40) END || '.' || chr(10) ||
         'Buy now' || chr(10) ||
         'All rights reserved. Contact us today!' AS bt
  FROM admitted
),
ex AS (
  -- WARC shard transport + HTML->text extraction are an identity on the
  -- page body under the shared whitespace contract (proven by
  -- warc_extract, which pins the same page template end to end)
  SELECT doc_id, url_key,
         {{NORM_DOC_BT}} AS t
  FROM body
),
c4 AS (
  SELECT doc_id, url_key,
         list_filter(string_split(t, chr(10)), l ->
           len(list_filter(string_split(l, ' '), x -> x <> '')) >= 3
           AND (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%."'
                OR l LIKE '%!"' OR l LIKE '%?"')) AS kept
  FROM ex
),
cl AS (
  SELECT doc_id, url_key, CAST(len(kept) AS INTEGER) AS n_kept,
         coalesce(array_to_string(kept, chr(10)), '') AS c
  FROM c4
),
dd AS (
  -- content-level exact dedup: mirror and site copies of a document
  -- share cleaned text; the lexicographically smallest URL wins
  SELECT arg_min(doc_id, url_key) AS doc_id,
         min(url_key) AS url_key,
         arg_min(n_kept, url_key) AS n_kept,
         arg_min(c, url_key) AS c
  FROM cl GROUP BY md5(c)
),
qs AS (
  SELECT doc_id, url_key, n_kept, c,
         CAST(len(tk) AS INTEGER) AS n_tokens,
         CASE WHEN len(tk) = 0 THEN 0.0
              ELSE CAST(list_sum(list_transform(tk, x -> len(x))) AS DOUBLE)
                   / len(tk) END AS atl,
         CASE WHEN len(c) = 0 THEN 0.0
              ELSE CAST(len(regexp_extract_all(c, '[^A-Za-z0-9 ]')) AS DOUBLE)
                   / len(c) END AS pr,
         CASE WHEN len(tk) = 0 THEN 0.0
              ELSE CAST(len(list_filter(tk, x ->
                     list_contains({_CP_STOP!r}, lower(x)))) AS DOUBLE)
                   / len(tk) END AS sr
  FROM (SELECT *, {SQL_TOKS.format(s='c')} AS tk FROM dd)
),
fin AS (
  SELECT doc_id, url_key, n_kept,
         CAST(length(c) AS INTEGER) AS cleaned_chars,
         round((least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
            + (CASE WHEN atl >= 3.0 AND atl <= 10.0 THEN 1.0 ELSE 0.5 END)
            + (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.5 END)
            + least(sr * 10.0, 1.0)) / 4.0, 6) AS quality,
         CAST(sha256(c) AS VARCHAR) AS cleaned_hash
  FROM qs
)
SELECT doc_id, url_key, n_kept, cleaned_chars, quality, cleaned_hash
FROM fin WHERE quality >= 0.5
""".replace(
    "{NORM_DOC_BT}",
    sql_normalize_ws("'doc ' || CAST(doc_id AS VARCHAR) || chr(10) || bt"),
)


def _crawl_fetch_pages(spark, sf_dir):
    """Stages 1-4 of the crawl capstone, as one dataflow that feeds the
    WARC writer: sitemap DISCOVERY (two shards per host list every URL —
    at-least-once, like real recrawls), robots ADMISSION (gate_urls over
    a host-keyed rule dim; mirror.example has no robots.txt and rides
    RFC 9309 default-allow), FRONTIER dedup (distinct on the canonical
    key — the batch twin of dropDuplicatesWithinWatermark in topology
    17), and FETCH simulation (equi-join back to documents, render the
    warc_extract page template around a multi-line body). Returns the
    (uri, html) relation the shard writer packs."""
    from victor_spark.functions.html import escape_html
    from victor_spark.sources.sitemap import sitemap_entries
    from victor_spark.streaming.crawl_gate import gate_urls, rules_by_host

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id").cast("string")
    path = F.concat(
        F.when(F.col("doc_id") % 5 == 1, F.lit("/tmp/")).otherwise(
            F.lit("/p/")
        ),
        i,
    )
    site_host = F.concat(
        F.lit("site"), (F.col("doc_id") % 7).cast("string"), F.lit(".example")
    )
    locs = docs.select(
        site_host.alias("h"),
        F.concat(F.lit("http://"), site_host, path).alias("loc"),
    ).unionAll(
        docs.filter(F.col("doc_id") % 4 == 0).select(
            F.lit("mirror.example").alias("h"),
            F.concat(F.lit("http://mirror.example"), path).alias("loc"),
        )
    )
    entry = F.concat(
        F.lit("<url><loc>"), escape_html(F.col("loc")), F.lit("</loc></url>")
    )
    pages = (
        locs.select(
            "h",
            F.explode(F.array(F.lit(0), F.lit(1))).alias("shard"),
            entry.alias("e"),
        )
        .groupBy("h", "shard")
        .agg(
            F.concat(
                F.lit('<?xml version="1.0"?><urlset>'),
                F.array_join(F.array_sort(F.collect_list("e")), ""),
                F.lit("</urlset>"),
            ).alias("xml")
        )
        .select("xml")
    )
    urls = (
        sitemap_entries(pages, "xml")
        .filter((F.col("kind") == "url") & F.col("loc").isNotNull())
        .select(F.col("loc").alias("url"))
    )
    rules = rules_by_host(
        spark.createDataFrame(
            [(f"site{s}.example", "/tmp", False) for s in range(7)],
            "host string, prefix string, allow boolean",
        )
    )
    frontier = (
        gate_urls(urls, rules)
        .filter(F.col("allowed"))
        .select("url_key")
        .dropDuplicates(["url_key"])
    )
    fetch = frontier.withColumn(
        "doc_id", F.regexp_extract("url_key", "/(\\d+)$", 1).cast("long")
    ).join(docs, "doc_id")
    body_text = F.concat(
        F.col("text"),
        F.lit("\n"),
        F.lit("Document "),
        i,
        F.lit(" reports "),
        F.when(
            F.col("doc_id") % 9 == 0, F.lit("!!! ??? *** $$$ ###")
        ).otherwise(F.substring("text", 1, 40)),
        F.lit(".\n"),
        F.lit("Buy now\n"),
        F.lit("All rights reserved. Contact us today!"),
    )
    paras = F.array_join(
        F.transform(
            F.split(escape_html(body_text), "\n"),
            lambda x: F.concat(F.lit("<p>"), x, F.lit("</p>")),
        ),
        "\n",
    )
    html = F.concat(
        F.lit("<!DOCTYPE html>\n<html>\n<head>\n<title>t"),
        i,
        F.lit(
            "</title>\n<style type=\"text/css\">\np { margin: 0; }\n"
            "</style>\n</head>\n<body>\n<script>\nif (a < b && c > d) "
            '{ document.write("<p>js junk</p>"); }\n</script>\n'
            "<!-- boilerplate <div>nav</div> -->\n<h1>doc&nbsp;"
        ),
        i,
        F.lit("</h1>\n<div class=\"content\">\n"),
        paras,
        F.lit("\n</div>\n<hr/>\n</body>\n</html>\n"),
    )
    return fetch.select(F.col("url_key").alias("uri"), html.alias("html"))


@_q9(
    "crawl_pipeline",
    _CRAWL_PIPELINE_ORACLE,
    "crawl-side capstone — the round-8 first-mile pieces composed into "
    "ONE dataflow, the crawl twin of curation_pipeline: sitemap "
    "discovery (every URL listed in TWO shards per host — at-least-once "
    "recrawl semantics) -> RFC 9309 admission gate (site hosts disallow "
    "/tmp; mirror.example has no robots.txt and default-allows) -> "
    "frontier dedup (distinct on the canonical key) -> fetch simulation "
    "(join back to documents; ~25% of docs also live on a mirror host) "
    "-> Common-Crawl-style .warc.gz shards -> HTML->text extraction -> "
    "C4 line filter -> content-level exact dedup (mirror copies "
    "collapse, smallest URL wins) -> quality-score filter (a shouty "
    "residue class fails the 0.5 bar). The oracle restates every stage "
    "from documents alone, so a match proves discovery, gating, "
    "frontier, WARC framing, extraction AND curation compose end to "
    "end. Scale: the only Python is the Arrow-batched WARC record walk; "
    "gate/extract/c4/quality are codegen projections; shuffles are the "
    "page-build groupBy, the frontier distinct, the fetch equi-join and "
    "the dedup groupBy — no corpus-sized broadcast anywhere (the rule "
    "dim is RFC-capped, the only sanctioned broadcast)",
)
def q_crawl_pipeline(spark, sf_dir):
    from victor_spark.functions import text as T
    from victor_spark.functions.html import escape_html, html_to_text
    from victor_spark.functions.url import robots_best_match, robots_rule
    from victor_spark.sources import warc as _warc_mod
    from victor_spark.sources.sitemap import sitemap_entries
    from victor_spark.sources.warc import load_warc, write_warc
    from victor_spark.streaming.crawl_gate import gate_urls, rules_by_host

    # cache key covers every function that shapes shard bytes OR decides
    # which URIs reach them (admission + discovery + rendering included)
    out, built = _ingest_cache_dir(
        "crawl_pipeline",
        sf_dir,
        code_of=(
            q_crawl_pipeline,
            _crawl_fetch_pages,
            write_warc,
            escape_html,
            gate_urls,
            rules_by_host,
            sitemap_entries,
            robots_rule,
            robots_best_match,
            _warc_mod._record_bytes,
            _warc_mod._response_record,
            _warc_mod._warcinfo_record,
        ),
    )
    if not built:
        build = _ingest_build_dir(out)
        write_warc(
            _crawl_fetch_pages(spark, sf_dir).repartition(8),
            build,
            "uri",
            "html",
        ).collect()
        _publish_ingest_dir(build, out)
    resp = load_warc(spark, out).filter(F.col("warc_type") == "response")
    ex = resp.select(
        F.col("target_uri").alias("url_key"),
        F.regexp_extract("target_uri", "/(\\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        html_to_text(F.decode("payload", "UTF-8")).alias("_t"),
    )
    kept = T.c4_kept_lines("split(_t, '\\n')")
    c4 = ex.select(
        "doc_id",
        "url_key",
        F.size(kept).alias("n_kept"),
        F.array_join(kept, "\n").alias("_c"),
    )
    dd = (
        c4.groupBy(F.md5("_c").alias("_h"))
        .agg(
            F.min_by(
                F.struct("doc_id", "url_key", "n_kept", "_c"), "url_key"
            ).alias("r")
        )
        .select("r.*")
    )
    return dd.select(
        "doc_id",
        "url_key",
        "n_kept",
        F.length("_c").alias("cleaned_chars"),
        F.round(T.quality_score("_c"), 6).alias("quality"),
        F.sha2("_c", 256).alias("cleaned_hash"),
    ).filter(F.col("quality") >= 0.5)
