"""The query catalog: every operator from SURVEY.md §2 (+ the LLM-pipeline
extensions) as a named (Spark builder, DuckDB oracle SQL) pair.

Contract (driver's correctness gate): for each entry, the Spark DataFrame
and the oracle SQL must produce identical row sets — same column names,
compatible types, and, after round(…, 6) applied inside the query itself,
identical values. Both sides therefore:

- compute in double precision with the same sequential fold order,
- use the shared md5-based hash family (functions/hashing.py) so even the
  approximate operators (MinHash/SimHash/hyperplane-LSH) compare exactly,
- alias every output column identically and round floats at the end.

Each builder takes (spark, sf_dir) and stays fully declarative — scans are
partition-pruned/pushed-down parquet reads, joins are broadcast where one
side is a dim/query set, and no builder collects to the driver. One
sanctioned exception: O(k·d) *model artifacts* (the PQ codebook/LUT, a
fitted PCA basis) are collected once and baked into the plan as literals —
the Spark analog of broadcasting a trained model, not a data collect.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from victor_spark.functions import hashing as H
from victor_spark.functions import text as T
from victor_spark.functions.html import sql_normalize_ws
from victor_spark.functions.vector import (
    bind,
    cosine_to_literal,
    dequantize,
    dot,
    euclidean,
    lit_doubles_sql,
    norm,
    py_norm,
    quantize,
    to_double_array,
)
from victor_spark.sources import load_table
from victor_spark.sources.tables import epoch_us, fan_out

# ---------------------------------------------------------------------------
# shared constants (stated literally in the oracle SQL)
# ---------------------------------------------------------------------------

MINHASH_NUM = 16
MINHASH_BANDS = 8
MINHASH_R = MINHASH_NUM // MINHASH_BANDS
MINHASH_PARAMS = H.hash_params(MINHASH_NUM)
P31 = H.MERSENNE31

# SQL fragment: 32-bit md5 hash of expression {x}
SQL_H32 = "CAST(concat('0x', substr(md5({x}), 1, 8)) AS BIGINT)"

# SQL fragment: whitespace tokens of {s}
SQL_TOKS = "list_filter(string_split({s}, ' '), t -> t <> '')"

# SQL fragment: word 3-gram shingles over token list {t}. The coalesce
# matters on EMPTY token lists: DuckDB's array_to_string([]) is NULL
# (which list_distinct then silently drops, leaving no shingle at all)
# while Spark's array_join([]) is '' — without it an empty/whitespace-only
# doc shingles to [''] on Spark but [] on DuckDB, and every downstream
# Jaccard turns 0/0-NULL on one engine only (edge-testdata-caught).
SQL_WORD_SHINGLES = (
    "list_distinct(CASE WHEN len({t}) >= 3 THEN "
    "list_transform(range(1, len({t}) - 1), "
    "i -> concat({t}[i], ' ', {t}[i+1], ' ', {t}[i+2])) "
    "ELSE [coalesce(array_to_string({t}, ' '), '')] END)"
)


def sql_word_ngrams(t: str, n: int) -> str:
    """DuckDB fragment: distinct word n-grams over token-list column ``t``
    (same semantics as functions/hashing.py::word_shingles — short docs
    yield one shingle = the space-joined text; coalesce for DuckDB's
    NULL array_to_string on empty lists, see SQL_WORD_SHINGLES)."""
    joined = " || ' ' || ".join(f"{t}[i+{off}]" if off else f"{t}[i]" for off in range(n))
    return (
        f"list_distinct(CASE WHEN len({t}) >= {n} THEN "
        f"list_transform(range(1, len({t}) - {n - 2}), i -> {joined}) "
        f"ELSE [coalesce(array_to_string({t}, ' '), '')] END)"
    )


@dataclass
class QuerySpec:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    # str: static DuckDB SQL. Callable[[sf_dir], str]: a DYNAMIC oracle —
    # resolved at gate time against the parquet under sf_dir (used when the
    # expected result needs a driver-side deterministic computation the SQL
    # then states literally, e.g. the BPE merge loop or a PCA basis).
    # None → non-SQL-expressible; driver does rows-only.
    oracle: Optional[str | Callable[[str], str]]
    doc: str = ""

    def oracle_sql(self, sf_dir: str) -> Optional[str]:
        """The DuckDB SQL for this query against sf_dir's tables."""
        return self.oracle(sf_dir) if callable(self.oracle) else self.oracle


QUERIES: dict[str, QuerySpec] = {}


def _q(name: str, oracle: Optional[str], doc: str = ""):
    def wrap(fn):
        QUERIES[name] = QuerySpec(name, fn, oracle, doc)
        return fn

    return wrap


def _emb(spark, sf_dir, alias_v="v"):
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", to_double_array("embedding").alias(alias_v)
    )


# ===========================================================================
# §2.3 search path — cosine / euclidean / tagged / batch / content join
# ===========================================================================

_COS_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
q AS (SELECT v AS qv, sqrt(list_dot_product(v, v)) AS qnorm FROM e WHERE vec_id = {qid})
SELECT vec_id,
       round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * qnorm), 6) AS sim
FROM e, q
ORDER BY list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * qnorm) DESC, vec_id
LIMIT {k}
"""


def _cosine_topk(spark, sf_dir, qid: int, k: int) -> DataFrame:
    e = _emb(spark, sf_dir)
    q = F.broadcast(
        e.filter(F.col("vec_id") == qid)
        .select(F.col("v").alias("qv"))
        .withColumn("qnorm", norm("qv"))
    )
    scored = e.crossJoin(q).select(
        "vec_id", (dot("v", "qv") / (norm("v") * F.col("qnorm"))).alias("_s")
    )
    return (
        scored.orderBy(F.desc("_s"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", F.round("_s", 6).alias("sim"))
    )


@_q(
    "topk_cosine",
    _COS_ORACLE.format(qid=0, k=10),
    "flagship: top-10 cosine neighbors of vec 0 (reference search_embedding, db.rs:217-283)",
)
def q_topk_cosine(spark, sf_dir):
    return _cosine_topk(spark, sf_dir, qid=0, k=10)


# tag-superset filtering: tags derived deterministically from `label`
# (lbl_<label>, par_<label%2>) — reference get_matching_db_files db.rs:687-706.
_TAGGED_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) v,
         ['lbl_' || CAST(label AS VARCHAR), 'par_' || CAST(label % 2 AS VARCHAR)] tags
  FROM embeddings
),
f AS (SELECT * FROM e WHERE list_has_all(tags, ['par_1'])),
q AS (SELECT v AS qv, sqrt(list_dot_product(v, v)) AS qnorm FROM e WHERE vec_id = 5)
SELECT vec_id,
       round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * qnorm), 6) AS sim
FROM f, q
ORDER BY list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * qnorm) DESC, vec_id
LIMIT 10
"""


@_q(
    "topk_cosine_tagged",
    _TAGGED_ORACLE,
    "tag-superset filtered search (reference P4 db.rs:687-706): query tags ['par_1']",
)
def q_topk_cosine_tagged(spark, sf_dir):
    e = _emb(spark, sf_dir).withColumn(
        "tags",
        F.array(
            F.concat(F.lit("lbl_"), F.col("label").cast("string")),
            F.concat(F.lit("par_"), (F.col("label") % 2).cast("string")),
        ),
    )
    query_tags = F.array(F.lit("par_1"))
    filtered = e.filter(F.forall(query_tags, lambda t: F.array_contains(F.col("tags"), t)))
    q = F.broadcast(
        e.filter(F.col("vec_id") == 5).select(F.col("v").alias("qv")).withColumn("qnorm", norm("qv"))
    )
    scored = filtered.crossJoin(q).select(
        "vec_id", (dot("v", "qv") / (norm("v") * F.col("qnorm"))).alias("_s")
    )
    return (
        scored.orderBy(F.desc("_s"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.round("_s", 6).alias("sim"))
    )


_EUC_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
d AS (
  SELECT vec_id,
         sqrt(CAST(list_sum(list_transform(range(1, len(v) + 1),
              i -> (v[i] - qv[i]) * (v[i] - qv[i]))) AS DOUBLE)) AS dist
  FROM e, q
)
SELECT vec_id, round(dist, 6) AS dist FROM d
ORDER BY dist ASC, vec_id LIMIT 10
"""


@_q(
    "topk_euclidean",
    _EUC_ORACLE,
    "euclidean nearest-k ASCENDING (projected-mode scoring, similarity.rs:26-43; "
    "fixes the reference's farthest-k bug, SURVEY.md §2.3)",
)
def q_topk_euclidean(spark, sf_dir):
    e = _emb(spark, sf_dir)
    q = F.broadcast(e.filter(F.col("vec_id") == 1).select(F.col("v").alias("qv")))
    scored = e.crossJoin(q).select("vec_id", euclidean("v", "qv").alias("_d"))
    return (
        scored.orderBy(F.asc("_d"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.round("_d", 6).alias("dist"))
    )


_BATCH_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv, sqrt(list_dot_product(v, v)) AS qnorm
      FROM e WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id AS corpus_id,
         list_dot_product(e.v, q.qv) / (sqrt(list_dot_product(e.v, e.v)) * q.qnorm) AS s
  FROM e, q
),
ranked AS (
  SELECT query_id, corpus_id, s,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY s DESC, corpus_id) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, corpus_id, rank, round(s, 6) AS sim
FROM ranked WHERE rank <= 5
"""


@_q(
    "topk_batch",
    _BATCH_ORACLE,
    "batch multi-query search: 8 queries × corpus, per-query top-5 via window "
    "(the distributed form of repeated search_embedding calls)",
)
def q_topk_batch(spark, sf_dir):
    e = _emb(spark, sf_dir)
    q = F.broadcast(
        e.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
        .withColumn("qnorm", norm("qv"))
    )
    # norm(v) folds ONCE per corpus row here, not once per (row, query)
    # pair — same arithmetic (identical fold), 8x fewer norm folds
    scored = e.withColumn("_vn", norm("v")).crossJoin(q).select(
        "query_id",
        F.col("vec_id").alias("corpus_id"),
        (dot("v", "qv") / (F.col("_vn") * F.col("qnorm"))).alias("_s"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_s"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "corpus_id", "rank", F.round("_s", 6).alias("sim"))
    )


_CONTENT_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
q AS (SELECT v AS qv, sqrt(list_dot_product(v, v)) AS qnorm FROM e WHERE vec_id = 2),
hits AS (
  SELECT vec_id,
         list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * qnorm) AS s
  FROM e, q
  ORDER BY s DESC, vec_id LIMIT 10
)
SELECT h.vec_id, round(h.s, 6) AS sim, d.text
FROM hits h LEFT JOIN documents d ON h.vec_id = d.doc_id
"""


@_q(
    "search_with_content",
    _CONTENT_ORACLE,
    "search + content fetch: top-k then ONE broadcast join to documents "
    "(replaces the reference's per-candidate content.bin reload, db.rs:590-605)",
)
def q_search_with_content(spark, sf_dir):
    hits = _cosine_topk(spark, sf_dir, qid=2, k=10)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        hits.join(F.broadcast(docs), hits.vec_id == docs.doc_id, "left")
        .select("vec_id", "sim", "text")
    )


# ===========================================================================
# §2.4 compression — quantization round-trip, storage; index listing; dims
# ===========================================================================

_QUANT_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
rng AS (
  SELECT vec_id, v,
         CAST(CAST(list_min(v) AS FLOAT) AS DOUBLE) lo,
         CAST(CAST(list_max(v) AS FLOAT) AS DOUBLE) hi,
         list_min(v) lo_d, list_max(v) hi_d
  FROM e
),
qd AS (
  SELECT vec_id, v, lo,
         CASE WHEN hi - lo = 0 THEN 1.0 ELSE hi - lo END span,
         CASE WHEN hi_d - lo_d = 0 THEN 1.0 ELSE hi_d - lo_d END span_d
  FROM rng
),
bins AS (
  SELECT vec_id, v, lo, span,
         list_transform(v, x -> least(255.0, greatest(0.0, round((x - lo) / span_d * 255.0)))) b
  FROM qd
),
err AS (
  SELECT vec_id,
         list_transform(range(1, len(v) + 1), i -> abs(v[i] - (lo + b[i] / 255.0 * span))) ae
  FROM bins
)
SELECT vec_id,
       round(CAST(list_max(ae) AS DOUBLE), 8) AS max_err,
       round(CAST(list_sum(ae) AS DOUBLE) / len(ae), 8) AS avg_err
FROM err
"""


@_q(
    "quantize_roundtrip",
    _QUANT_ORACLE,
    "8-bit scalar quantization pack→unpack error per vector "
    "(reference packed_vector.rs:11-35; min==max guarded per FIXTURES.md §2)",
)
def q_quantize_roundtrip(spark, sf_dir):
    e = _emb(spark, sf_dir)
    q = e.withColumn("q", quantize("v")).withColumn(
        "back", dequantize("q.quant", "q.qmin", "q.qmax")
    )
    ae = F.zip_with("v", "back", lambda a, b: F.abs(a - b))
    return q.select(
        "vec_id",
        F.round(F.array_max(ae), 8).alias("max_err"),
        F.round(
            F.aggregate(ae, F.lit(0.0), lambda acc, x: acc + x) / F.size(ae), 8
        ).alias("avg_err"),
    )


_INDEX_ORACLE = """
SELECT sha256(concat('lbl_', CAST(label AS VARCHAR), ',par_', CAST(label % 2 AS VARCHAR))) AS tag_set_id,
       count(*) AS n_vectors
FROM embeddings
GROUP BY 1
"""


@_q(
    "tag_index_listing",
    _INDEX_ORACLE,
    "the tag-set 'index': distinct canonical tag-set ids + sizes "
    "(reference Index/index.bin db.rs:629-685 → partition listing)",
)
def q_tag_index_listing(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    tags = F.array(
        F.concat(F.lit("lbl_"), F.col("label").cast("string")),
        F.concat(F.lit("par_"), (F.col("label") % 2).cast("string")),
    )
    return (
        e.select(F.sha2(F.array_join(F.array_sort(tags), ","), 256).alias("tag_set_id"))
        .groupBy("tag_set_id")
        .agg(F.count("*").alias("n_vectors"))
    )


@_q(
    "dim_check",
    "SELECT CAST(len(embedding) AS INTEGER) AS dim, count(*) AS n_vectors "
    "FROM embeddings GROUP BY 1",
    "uniform-dimension audit (reference asserts fixed record size, db.rs:516-539)",
)
def q_dim_check(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "embeddings")
        .groupBy(F.size("embedding").alias("dim"))
        .agg(F.count("*").alias("n_vectors"))
    )


@_q(
    "embedding_stats",
    """
WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) v FROM embeddings)
SELECT label, count(*) AS n,
       round(CAST(sum(CAST(sqrt(list_dot_product(v, v)) AS DECIMAL(20,12))) AS DOUBLE)
             / count(*), 6) AS avg_norm
FROM e GROUP BY label
""",
    "per-label corpus stats (vector-column aggregate demo); the per-row norm "
    "is summed as exact decimal so the distributed sum is order-independent",
)
def q_embedding_stats(spark, sf_dir):
    e = _emb(spark, sf_dir)
    return e.groupBy("label").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(norm("v").cast("decimal(20,12)")).cast("double") / F.count("*"), 6
        ).alias("avg_norm"),
    )


# ===========================================================================
# extensions: dedup family (on a corpus with synthesized duplicates)
# ===========================================================================
#
# The testdata documents are all distinct, so each dedup query unions in
# deterministic duplicates (every 10th doc re-inserted with doc_id+100000)
# — both engines state the same corpus, so the found pairs must agree.

_DUP_CORPUS_SQL = (
    "SELECT doc_id, text FROM documents UNION ALL "
    "SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0"
)


def _dup_corpus(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return d.unionAll(dups)


@_q(
    "dedup_exact",
    f"""
WITH corpus AS ({_DUP_CORPUS_SQL})
SELECT sha256(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS keep_id
FROM corpus GROUP BY 1 HAVING count(*) > 1
""",
    "exact dedup: sha256 hash-groupBy, keep min id",
)
def q_dedup_exact(spark, sf_dir):
    from victor_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_dup_corpus(spark, sf_dir), "doc_id", "text")


def _minhash_sig_sql() -> str:
    mins = ", ".join(
        f"coalesce(list_min(list_transform(h, x -> (x * {a} + {b}) % {P31})), {P31})"
        for a, b in MINHASH_PARAMS
    )
    return f"[{mins}]"


def _band_keys_sql() -> str:
    keys = []
    for j in range(MINHASH_BANDS):
        parts = " , '_', ".join(
            f"CAST(sig[{j * MINHASH_R + r + 1}] AS VARCHAR)" for r in range(MINHASH_R)
        )
        keys.append(f"concat('{j}_', {parts})")
    return "[" + ", ".join(keys) + "]"


# CTE chain shared by dedup_minhash (emits the verified pairs),
# dedup_clusters (connected components over them), and curation_pipeline
# (dedup stage over the raw documents table)
def _minhash_ctes(corpus_sql: str) -> str:
    return f"""corpus AS ({corpus_sql}),
toks AS (SELECT doc_id, {SQL_TOKS.format(s='text')} t FROM corpus),
sh AS (SELECT doc_id, {SQL_WORD_SHINGLES.format(t='t')} shing FROM toks),
hs AS (SELECT doc_id,
              list_distinct(list_transform(shing, s -> {SQL_H32.format(x='s')})) h
       FROM sh),
sig AS (SELECT doc_id, h, {_minhash_sig_sql()} sig FROM hs),
bands AS (SELECT doc_id, unnest({_band_keys_sql()}) band_key FROM sig),
cand AS (SELECT DISTINCT l.doc_id id_a, r.doc_id id_b
         FROM bands l JOIN bands r ON l.band_key = r.band_key AND l.doc_id < r.doc_id),
ver AS (
  SELECT c.id_a, c.id_b,
         CAST(len(list_intersect(sa.h, sb.h)) AS DOUBLE)
           / len(list_distinct(sa.h || sb.h)) AS jaccard
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b
)"""


_MINHASH_CTES = _minhash_ctes(_DUP_CORPUS_SQL)

_MINHASH_ORACLE = f"""
WITH {_MINHASH_CTES}
SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM ver WHERE jaccard >= 0.7
"""


@_q(
    "dedup_minhash",
    _MINHASH_ORACLE,
    "MinHash+LSH near-dup dedup: word-3-gram shingles → 16-hash signature → "
    "8 bands → bucket join → exact-Jaccard verify ≥ 0.7",
)
def q_dedup_minhash(spark, sf_dir):
    from victor_spark.operators.dedup import minhash_near_duplicates

    res = minhash_near_duplicates(
        _dup_corpus(spark, sf_dir), "doc_id", "text",
        threshold=0.7, num_hashes=MINHASH_NUM, bands=MINHASH_BANDS,
        shingle_n=3, unit="word",
    )
    return res.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@_q(
    "dedup_clusters",
    f"""
WITH RECURSIVE {_MINHASH_CTES},
dup_edges AS (
  SELECT id_a AS a, id_b AS b FROM ver WHERE jaccard >= 0.7
  UNION
  SELECT id_b AS a, id_a AS b FROM ver WHERE jaccard >= 0.7
),
reach(node, r) AS (
  SELECT a, a FROM dup_edges
  UNION
  SELECT e.b, r.r FROM reach r JOIN dup_edges e ON e.a = r.node
)
SELECT node AS doc, min(r) AS cluster FROM reach GROUP BY node
""",
    "transitive duplicate groups: distributed connected components "
    "(min-label propagation over the verified minhash pair graph, "
    "operators/dedup.py::duplicate_clusters) — A~B, B~C collapse into one "
    "cluster keyed by the smallest doc id even when A~C was never emitted; "
    "the oracle replays it as a recursive transitive closure",
)
def q_dedup_clusters(spark, sf_dir):
    from victor_spark.operators.dedup import duplicate_clusters, minhash_near_duplicates

    pairs = minhash_near_duplicates(
        _dup_corpus(spark, sf_dir), "doc_id", "text",
        threshold=0.7, num_hashes=MINHASH_NUM, bands=MINHASH_BANDS,
        shingle_n=3, unit="word",
    )
    return duplicate_clusters(pairs)


# dedup_keep: the dedup pipeline's actual OUTPUT — the corpus minus every
# non-representative duplicate (cluster member that isn't its cluster's
# min-id). The drop set is tiny relative to the corpus, so the subtraction
# is a broadcast anti-join: no corpus shuffle, which is what makes
# "rewrite the cleaned corpus" viable at 100 TB.


@_q(
    "dedup_keep",
    f"""
WITH RECURSIVE {_MINHASH_CTES},
dup_edges AS (
  SELECT id_a AS a, id_b AS b FROM ver WHERE jaccard >= 0.7
  UNION
  SELECT id_b AS a, id_a AS b FROM ver WHERE jaccard >= 0.7
),
reach(node, r) AS (
  SELECT a, a FROM dup_edges
  UNION
  SELECT e.b, r.r FROM reach r JOIN dup_edges e ON e.a = r.node
),
clusters AS (SELECT node AS doc, min(r) AS cluster FROM reach GROUP BY node)
SELECT doc_id, sha256(text) AS content_hash
FROM corpus
WHERE doc_id NOT IN (SELECT doc FROM clusters WHERE doc <> cluster)
""",
    "dedup materialization: keep one representative (min id) per duplicate "
    "cluster, drop the rest — the cleaned corpus a pipeline writes, via a "
    "broadcast anti-join of the (tiny) drop set against the corpus",
)
def q_dedup_keep(spark, sf_dir):
    from victor_spark.operators.dedup import duplicate_clusters, minhash_near_duplicates

    corpus = _dup_corpus(spark, sf_dir)
    pairs = minhash_near_duplicates(
        corpus, "doc_id", "text",
        threshold=0.7, num_hashes=MINHASH_NUM, bands=MINHASH_BANDS,
        shingle_n=3, unit="word",
    )
    clusters = duplicate_clusters(pairs)
    drops = clusters.filter(F.col("doc") != F.col("cluster")).select(
        F.col("doc").alias("doc_id")
    )
    return corpus.join(F.broadcast(drops), "doc_id", "left_anti").select(
        "doc_id", F.sha2("text", 256).alias("content_hash")
    )


# Incremental (batch-vs-corpus) MinHash dedup: the continuously-arriving
# data shape. The corpus is ALL documents; the "arriving batch" is every
# 10th doc re-submitted under a new id — each must match its original.

_INC_BATCH_SQL = ("SELECT doc_id + 100000 AS doc_id, text FROM documents "
                  "WHERE doc_id % 10 = 0")


def _inc_sig_ctes(name: str, src_sql: str) -> str:
    return f"""{name}_t AS (SELECT doc_id, {SQL_TOKS.format(s='text')} t FROM ({src_sql})),
{name}_sh AS (SELECT doc_id, {SQL_WORD_SHINGLES.format(t='t')} shing FROM {name}_t),
{name}_hs AS (SELECT doc_id,
              list_distinct(list_transform(shing, s -> {SQL_H32.format(x='s')})) h
       FROM {name}_sh),
{name}_sig AS (SELECT doc_id, h, {_minhash_sig_sql()} sig FROM {name}_hs),
{name}_bands AS (SELECT doc_id, h, unnest({_band_keys_sql()}) band_key FROM {name}_sig)"""


_INC_ORACLE = f"""
WITH {_inc_sig_ctes('c', 'SELECT doc_id, text FROM documents')},
{_inc_sig_ctes('b', _INC_BATCH_SQL)},
cand AS (SELECT DISTINCT b.doc_id batch_id, c.doc_id corpus_id, b.h hb, c.h hc
         FROM b_bands b JOIN c_bands c ON b.band_key = c.band_key),
ver AS (SELECT batch_id, corpus_id,
               CAST(len(list_intersect(hb, hc)) AS DOUBLE)
                 / len(list_distinct(hb || hc)) AS jaccard
        FROM cand)
SELECT batch_id, corpus_id, round(jaccard, 6) AS jaccard
FROM ver WHERE jaccard >= 0.7
"""


@_q(
    "dedup_incremental",
    _INC_ORACLE,
    "incremental dedup — which docs of an ARRIVING BATCH near-duplicate "
    "the existing corpus: batch band keys broadcast against the corpus "
    "band table, so the corpus is scanned once map-side with no "
    "corpus-sized shuffle (at 100 TB the corpus bands are a precomputed "
    "ingest artifact and daily dedup is one broadcast-join scan)",
)
def q_dedup_incremental(spark, sf_dir):
    from victor_spark.operators.dedup import incremental_near_duplicates

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    res = incremental_near_duplicates(
        d, batch, "doc_id", "text",
        threshold=0.7, num_hashes=MINHASH_NUM, bands=MINHASH_BANDS,
        shingle_n=3, unit="word",
    )
    return res.select("batch_id", "corpus_id",
                      F.round("jaccard", 6).alias("jaccard"))


_NGRAM_ORACLE = f"""
WITH corpus AS ({_DUP_CORPUS_SQL}),
sh0 AS (SELECT doc_id,
               {SQL_WORD_SHINGLES.format(t=SQL_TOKS.format(s='text'))} shing0
        FROM corpus),
sh AS (SELECT doc_id,
              list_sort(list_distinct(list_transform(shing0, s -> {SQL_H32.format(x='s')}))) s
       FROM sh0),
pre AS (SELECT doc_id,
               unnest(s[1 : CAST(len(s) - ceil(0.5 * len(s)) + 1 AS INTEGER)]) tok
        FROM sh),
cand AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
         FROM pre a JOIN pre b ON a.tok = b.tok AND a.doc_id < b.doc_id),
pairs AS (
  SELECT id_a, id_b,
         CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
           / len(list_distinct(sa.s || sb.s)) AS jaccard
  FROM cand JOIN sh sa ON cand.id_a = sa.doc_id
            JOIN sh sb ON cand.id_b = sb.doc_id
)
SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM pairs WHERE jaccard >= 0.5
"""


@_q(
    "dedup_ngram_jaccard",
    _NGRAM_ORACLE,
    "exact all-pairs n-gram Jaccard >= 0.5 over the whole corpus via prefix "
    "filtering (ppjoin): sorted shingle-hash prefixes explode to an "
    "equi-join that losslessly prunes the O(n²) pair space; only real "
    "candidates pay the exact hash-set |∩|/|∪| verify",
)
def q_dedup_ngram(spark, sf_dir):
    from victor_spark.operators.dedup import ngram_jaccard_join

    res = ngram_jaccard_join(
        _dup_corpus(spark, sf_dir), "doc_id", "text",
        threshold=0.5, shingle_n=3, unit="word",
    )
    return res.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _simhash_sql(th: str, n: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter({th}, x -> (x & {1 << i}) <> 0)) > {n} "
        f"THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(32)
    )
    return f"({terms})"


_SIMHASH_ORACLE = f"""
WITH corpus AS ({_DUP_CORPUS_SQL}),
th AS (SELECT doc_id,
              list_transform({SQL_TOKS.format(s='text')}, tok -> {SQL_H32.format(x='tok')}) h,
              len({SQL_TOKS.format(s='text')}) n
       FROM corpus),
fp AS (SELECT doc_id, {_simhash_sql('h', 'n')} simhash FROM th),
blocked AS (SELECT doc_id, simhash, simhash >> 16 blk FROM fp),
pairs AS (
  SELECT a.doc_id id_a, b.doc_id id_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) hamming
  FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
"""


@_q(
    "dedup_simhash",
    _SIMHASH_ORACLE,
    "SimHash near-dup dedup: 32-bit fingerprint over token hashes, blocked on "
    "high 16 bits, Hamming ≤ 3",
)
def q_dedup_simhash(spark, sf_dir):
    from victor_spark.operators.dedup import simhash_near_duplicates

    return simhash_near_duplicates(
        _dup_corpus(spark, sf_dir), "doc_id", "text", max_hamming=3, block_bits=16
    )


def _bucket_sql(v: str, num_planes: int = 8, d: int = 64) -> str:
    terms = []
    for j in range(num_planes):
        proj = (
            f"CAST(list_sum(list_transform(range(1, {d + 1}), "
            f"i -> {v}[i] * sin({j} * 12.9898 + (i - 1) * 78.233))) AS DOUBLE)"
        )
        terms.append(f"(CASE WHEN {proj} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


_EMB_DUP_SQL = (
    "SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings UNION ALL "
    "SELECT vec_id + 100000 AS vec_id, "
    "list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0) v "
    "FROM embeddings WHERE vec_id % 10 = 0"
)

_EMB_DEDUP_ORACLE = f"""
WITH corpus AS ({_EMB_DUP_SQL}),
b AS (SELECT vec_id, v, {_bucket_sql('v')} bucket FROM corpus),
pairs AS (
  SELECT a.vec_id id_a, b2.vec_id id_b,
         list_dot_product(a.v, b2.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))) cs
  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
)
SELECT id_a, id_b, round(cs, 6) AS cos_sim FROM pairs WHERE cs >= 0.99
"""


def _emb_dup_corpus(spark, sf_dir):
    e = _emb(spark, sf_dir).select("vec_id", "v")
    dups = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("v", lambda x: x * 2.0).alias("v"),
    )
    return e.unionAll(dups)


@_q(
    "dedup_embedding",
    _EMB_DEDUP_ORACLE,
    "embedding-cosine near-dup pairs ≥ 0.99, blocked by 8-plane hyperplane-LSH "
    "bucket (O(n²) → per-bucket join)",
)
def q_dedup_embedding(spark, sf_dir):
    from victor_spark.operators.dedup import embedding_near_duplicates

    res = embedding_near_duplicates(
        _emb_dup_corpus(spark, sf_dir), "vec_id", "v", threshold=0.99, num_planes=8
    )
    return res.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


# ===========================================================================
# extensions: ANN (LSH-bucketed approximate search)
# ===========================================================================

_ANN_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
b AS (SELECT vec_id, v, {_bucket_sql('v')} bucket FROM e),
q AS (SELECT v qv, bucket qb, sqrt(list_dot_product(v, v)) qn FROM b WHERE vec_id = 3),
cand AS (
  SELECT b.vec_id, b.v, q.qv, q.qn FROM b, q
  WHERE b.bucket = q.qb OR xor(b.bucket, q.qb) IN (1, 2, 4, 8, 16, 32, 64, 128)
),
scored AS (
  SELECT vec_id, list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * qn) s
  FROM cand
)
SELECT vec_id, round(s, 6) AS sim FROM scored ORDER BY s DESC, vec_id LIMIT 5
"""


@_q(
    "ann_lsh_topk",
    _ANN_ORACLE,
    "approximate top-5 for vec 3: scan only the query's hyperplane bucket ± "
    "one-bit probes, exact cosine within candidates (at scale: partition "
    "pruning on a bucket-partitioned table)",
)
def q_ann_lsh(spark, sf_dir):
    return _lsh_topk(spark, sf_dir, qid=3, k=5).select(
        "vec_id", F.round("_s", 6).alias("sim")
    )


def _lsh_topk(spark, sf_dir, qid: int, k: int) -> DataFrame:
    """Hyperplane-LSH candidates for vec ``qid`` (own bucket ± 1-bit
    probes), top-k by exact cosine; returns (vec_id, _s) unrounded."""
    e = _emb(spark, sf_dir).select("vec_id", "v")
    b = e.withColumn("bucket", H.hyperplane_bucket("v", 8))
    q = F.broadcast(
        b.filter(F.col("vec_id") == qid).select(
            F.col("v").alias("qv"), F.col("bucket").alias("qb")
        ).withColumn("qn", norm("qv"))
    )
    probes = F.col("bucket").bitwiseXOR(F.col("qb"))
    cand = b.join(
        q,
        (F.col("bucket") == F.col("qb"))
        | probes.isin([1, 2, 4, 8, 16, 32, 64, 128]),
    )
    scored = cand.select(
        "vec_id", (dot("v", "qv") / (norm("v") * F.col("qn"))).alias("_s")
    )
    return scored.orderBy(F.desc("_s"), F.asc("vec_id")).limit(k)


# IVF (inverted-file) ANN: a deterministic coarse quantizer — every 250th
# vector is a centroid (standing in for a kmeans fit job) — assigns each
# vector to its nearest centroid cell; a query probes only its nprobe=2
# nearest cells. At scale: cells are the partition key of the index table,
# so the probe is partition pruning over ~nprobe/n_cells of the data, and
# the centroid set (≤ a few thousand rows) is always broadcast.

_IVF_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
cent AS (SELECT vec_id AS cell, v AS cv, sqrt(list_dot_product(v, v)) cn
         FROM e WHERE vec_id % 250 = 0),
assign AS (
  SELECT vec_id, v, cell,
         row_number() OVER (PARTITION BY vec_id
           ORDER BY list_dot_product(v, cv) / (sqrt(list_dot_product(v, v)) * cn) DESC,
                    cell) rn
  FROM e, cent
),
cells AS (SELECT vec_id, v, cell FROM assign WHERE rn = 1),
q AS (SELECT v qv, sqrt(list_dot_product(v, v)) qn FROM e WHERE vec_id = 7),
qcells AS (
  SELECT cell FROM cent, q
  ORDER BY list_dot_product(cv, qv) / (cn * qn) DESC, cell LIMIT 2
),
cand AS (SELECT c.vec_id, c.v FROM cells c JOIN qcells p ON c.cell = p.cell),
scored AS (
  SELECT cand.vec_id,
         list_dot_product(cand.v, q.qv) / (sqrt(list_dot_product(cand.v, cand.v)) * q.qn) s
  FROM cand, q
)
SELECT vec_id, round(s, 6) AS sim FROM scored ORDER BY s DESC, vec_id LIMIT 5
"""


@_q(
    "ann_ivf_topk",
    _IVF_ORACLE,
    "IVF approximate top-5 for vec 7: nearest-centroid cell assignment "
    "(inverted lists), query probes its 2 nearest cells, exact cosine "
    "within candidates (at scale: cell = partition key, centroids broadcast)",
)
def q_ann_ivf(spark, sf_dir):
    return _ivf_topk(spark, sf_dir, qid=7, k=5).select(
        "vec_id", F.round("_s", 6).alias("sim")
    )


def _ivf_collect_model(e, qid_filter):
    """ONE fused driver collect for the IVF model artifacts: the centroid
    rows (every 250th vector — the deterministic stand-in for a k-means
    fit) and the query vector(s) selected by ``qid_filter``, in a single
    union'd round trip (the ann_recall ACTION-1 precedent: each serial
    driver action is a full job-launch barrier on a busy scheduler).

    Returns (centroids, qrows): centroids is {cell: cv}; qrows is
    [(vec_id, qv)] sorted by vec_id."""
    rows = (
        e.filter(F.col("vec_id") % 250 == 0)
        .select("vec_id", "v", F.lit("cent").alias("_part"))
        .unionAll(qid_filter.select("vec_id", "v", F.lit("q").alias("_part")))
    ).collect()
    centroids = {
        int(r["vec_id"]): [float(x) for x in r["v"]]
        for r in rows if r["_part"] == "cent"
    }
    qrows = sorted(
        (int(r["vec_id"]), [float(x) for x in r["v"]])
        for r in rows if r["_part"] == "q"
    )
    return centroids, qrows


def _ivf_topk(spark, sf_dir, qid: int, k: int) -> DataFrame:
    """IVF candidates for vec ``qid`` (nprobe=2), top-k by exact cosine;
    returns (vec_id, _s) with _s unrounded.

    ONE fused model collect (centroids + query), probe cells ranked
    driver-side (``ivfpq.probe_cells``), cell assignment as the map-side
    fold (``ivfpq.assign_cells``), scoring against the literal query —
    the whole query is collect + one map-side TakeOrdered pass, zero
    exchanges."""
    from victor_spark.operators.ivfpq import assign_cells, probe_cells

    e = _emb(spark, sf_dir).select("vec_id", "v")
    centroids, qrows = _ivf_collect_model(e, e.filter(F.col("vec_id") == qid))
    if not qrows:
        # the broadcast form yielded an EMPTY frame when qid was missing
        return e.select("vec_id", F.lit(0.0).alias("_s")).filter(F.lit(False))
    _, qv = qrows[0]
    probed = probe_cells(qv, centroids, 2)
    cand = assign_cells(e, "vec_id", "v", centroids).filter(
        F.col("cell").isin(probed) if probed else F.lit(False)
    )
    out = cand.select("vec_id", cosine_to_literal("v", qv).alias("_s"))
    return out.orderBy(F.desc("_s"), F.asc("vec_id")).limit(k)


_IVF_BATCH_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
cent AS (SELECT vec_id cell, v cv, sqrt(list_dot_product(v, v)) cn
         FROM e WHERE vec_id % 250 = 0),
assign AS (
  SELECT vec_id, v, cell,
         row_number() OVER (PARTITION BY vec_id
           ORDER BY list_dot_product(v, cv) / (sqrt(list_dot_product(v, v)) * cn) DESC,
                    cell) rn
  FROM e, cent
),
cells AS (SELECT vec_id, v, cell FROM assign WHERE rn = 1),
q AS (SELECT vec_id query_id, v qv, sqrt(list_dot_product(v, v)) qn
      FROM e WHERE vec_id % 100 = 11),
qcells AS (
  SELECT query_id, qv, qn, cell,
         row_number() OVER (PARTITION BY query_id
           ORDER BY list_dot_product(cv, qv) / (cn * qn) DESC, cell) rn
  FROM q, cent
),
probe AS (SELECT query_id, qv, qn, cell FROM qcells WHERE rn <= 2),
scored AS (
  SELECT p.query_id, c.vec_id,
         list_dot_product(c.v, p.qv)
           / (sqrt(list_dot_product(c.v, c.v)) * p.qn) s
  FROM cells c JOIN probe p ON c.cell = p.cell
),
ranked AS (
  SELECT query_id, vec_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id) rn
  FROM scored
)
SELECT query_id, vec_id, round(s, 6) AS sim, CAST(rn AS INTEGER) AS rank
FROM ranked WHERE rn <= 3
"""


@_q(
    "ann_ivf_batch",
    _IVF_BATCH_ORACLE,
    "BATCHED IVF serving — top-3 for every query in a query SET (vec_id % "
    "100 = 11) in one dataflow: cell probing becomes an equi-join of the "
    "(query, probed-cell) list against the cell-assigned corpus, ranked "
    "per query by a WindowGroupLimit. The single-query path prunes "
    "partitions; this is the throughput shape — N queries share one "
    "corpus scan instead of N scans",
)
def q_ann_ivf_batch(spark, sf_dir):
    from victor_spark.functions.vector import _norm_sql, cosine_normed
    from victor_spark.operators.ivfpq import assign_cells, probe_cells

    e = _emb(spark, sf_dir).select("vec_id", "v")
    # The _ivf_topk shape, batched: ONE fused model collect brings back
    # the centroid rows AND the bounded query set (vec_id % 100 = 11 —
    # n/100 rows, a model-sized artifact); each query's probe list is
    # ranked driver-side, and cell assignment is the map-side fold — the
    # corpus never shuffles, and the only join left is the probed-cell
    # BroadcastHashJoin the serving path needs.
    centroids, qrows = _ivf_collect_model(
        e, e.filter(F.col("vec_id") % 100 == 11)
    )
    probe = F.broadcast(spark.createDataFrame(
        [
            (query_id, qv, py_norm(qv), cell)
            for query_id, qv in qrows
            for cell in probe_cells(qv, centroids, 2)
        ],
        "query_id long, qv array<double>, qn double, cell long",
    ))
    cells = assign_cells(e, "vec_id", "v", centroids)
    scored = cells.join(probe, "cell").select(
        "query_id", "vec_id",
        cosine_normed("v", "qv", _norm_sql("`v`"), "qn").alias("_s"),
    )
    rw = Window.partitionBy("query_id").orderBy(F.desc("_s"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= 3)
        .select("query_id", "vec_id", F.round("_s", 6).alias("sim"), "rank")
    )


# Product quantization + ADC: the third ANN strategy (after hyperplane LSH
# and IVF cells). Codebook rows are picked deterministically (smallest
# salted md5 of vec_id — standing in for a k-means fit job, same seam as
# IVF's every-250th centroid rule), collected driver-side as a model
# artifact (k·d floats — the one sanctioned collect in this catalog, like a
# trained PCAModel), and baked into the plan as literals. Encode and ADC
# scoring are pure Column expressions: the scan that serves a query reads
# the m-byte code column only, never the float vectors.

_PQ_CTES = """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
cb AS (SELECT vec_id, v FROM e
       ORDER BY CAST(concat('0x', substr(md5(concat('pq:', CAST(vec_id AS VARCHAR))), 1, 8)) AS BIGINT),
                vec_id
       LIMIT 16),
cbo AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) code, v cv FROM cb),
subs AS (SELECT CAST(j AS INTEGER) j FROM range(0, 8) t(j)),
dists AS (
  SELECT e.vec_id, s.j, c.code,
         list_sum(list_transform(range(1, 9),
           i -> (e.v[CAST(s.j*8 + i AS INTEGER)] - c.cv[CAST(s.j*8 + i AS INTEGER)])^2)) dist
  FROM e, subs s, cbo c
),
enc AS (
  SELECT vec_id, j, code,
         row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, code) rn
  FROM dists
),
codes AS (SELECT vec_id, j, code FROM enc WHERE rn = 1),
q AS (SELECT v qv FROM e WHERE vec_id = 11),
scored AS (
  SELECT codes.vec_id,
         sum(list_sum(list_transform(range(1, 9),
           i -> (q.qv[CAST(codes.j*8 + i AS INTEGER)] - c.cv[CAST(codes.j*8 + i AS INTEGER)])^2))) adc
  FROM codes JOIN cbo c ON codes.code = c.code, q
  GROUP BY codes.vec_id
)"""

_PQ_ORACLE = f"""
WITH {_PQ_CTES}
SELECT vec_id, round(adc, 6) AS adc_dist FROM scored ORDER BY adc, vec_id LIMIT 5
"""


@_q(
    "ann_pq_topk",
    _PQ_ORACLE,
    "product-quantization ADC top-5 for vec 11: m=8 subvectors encoded "
    "against a 16-row deterministic codebook, query scored by LUT sums over "
    "the 8-byte code column alone (at scale: the float vectors are never "
    "read at query time)",
)
def q_ann_pq(spark, sf_dir):
    from victor_spark.operators import pq

    e = _emb(spark, sf_dir).select("vec_id", "v")
    # codebook + query vector are the ADC model artifacts (driver-side by
    # construction); one union'd collect fetches both in a single job
    cb, qv = pq.codebook_and_query(e, "vec_id", "v", k=16, query_id=11, salt="pq")
    enc = pq.encode(e, "v", cb, m=8)
    out = pq.adc_topk(enc, qv, cb, k=5, m=8, id_col="vec_id")
    return out.select("vec_id", F.round("adc_dist", 6).alias("adc_dist"))


# IVF-PQ: the FAISS-standard composition — nprobe cell pruning + PQ codes
# over the per-cell RESIDUALS (v − centroid), scored by a per-cell query-
# residual LUT. At 100 TB: partitionBy(cell) directory pruning + an
# m-bytes/vector code scan of the probed cells only.

_IVFPQ_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
cent AS (SELECT vec_id cell, v cv, sqrt(list_dot_product(v, v)) cn
         FROM e WHERE vec_id % 250 = 0),
assign AS (
  SELECT vec_id, v, cell,
         row_number() OVER (PARTITION BY vec_id
           ORDER BY list_dot_product(v, cv) / (sqrt(list_dot_product(v, v)) * cn) DESC,
                    cell) rn
  FROM e, cent
),
cells AS (SELECT vec_id, v, cell FROM assign WHERE rn = 1),
cbsrc AS (SELECT vec_id, v FROM e
          ORDER BY CAST(concat('0x', substr(md5(concat('pq:', CAST(vec_id AS VARCHAR))), 1, 8)) AS BIGINT),
                   vec_id
          LIMIT 16),
cbres AS (SELECT c.vec_id,
                 list_transform(range(1, 65),
                   i -> c.v[CAST(i AS INTEGER)] - ct.cv[CAST(i AS INTEGER)]) rv
          FROM cbsrc c JOIN cells cl ON c.vec_id = cl.vec_id
                       JOIN cent ct ON cl.cell = ct.cell),
rcb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) code, rv cv
        FROM cbres),
q AS (SELECT v qv, sqrt(list_dot_product(v, v)) qn FROM e WHERE vec_id = 7),
qc AS (SELECT cell, cv FROM cent, q
       ORDER BY list_dot_product(cv, qv) / (cn * qn) DESC, cell LIMIT 2),
cand AS (SELECT cl.vec_id, cl.cell,
                list_transform(range(1, 65),
                  i -> cl.v[CAST(i AS INTEGER)] - ct.cv[CAST(i AS INTEGER)]) rv
         FROM cells cl JOIN cent ct ON cl.cell = ct.cell
         WHERE cl.cell IN (SELECT cell FROM qc)),
subs AS (SELECT CAST(j AS INTEGER) j FROM range(0, 8) t(j)),
dists AS (
  SELECT cand.vec_id, s.j, r.code,
         list_sum(list_transform(range(1, 9),
           i -> (cand.rv[CAST(s.j*8 + i AS INTEGER)] - r.cv[CAST(s.j*8 + i AS INTEGER)])^2)) dist
  FROM cand, subs s, rcb r
),
enc AS (SELECT vec_id, j, code,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, code) rn
        FROM dists),
codes AS (SELECT vec_id, j, code FROM enc WHERE rn = 1),
rq AS (SELECT qc.cell,
              list_transform(range(1, 65),
                i -> q.qv[CAST(i AS INTEGER)] - qc.cv[CAST(i AS INTEGER)]) rqv
       FROM qc, q),
scored AS (
  SELECT codes.vec_id, cl.cell,
         sum(list_sum(list_transform(range(1, 9),
           i -> (rq.rqv[CAST(codes.j*8 + i AS INTEGER)] - r.cv[CAST(codes.j*8 + i AS INTEGER)])^2))) adc
  FROM codes JOIN cells cl ON codes.vec_id = cl.vec_id
             JOIN rq ON cl.cell = rq.cell
             JOIN rcb r ON codes.code = r.code
  GROUP BY codes.vec_id, cl.cell
)
SELECT vec_id, CAST(cell AS BIGINT) AS cell, round(adc, 6) AS adc_dist
FROM scored ORDER BY adc, vec_id LIMIT 5
"""


@_q(
    "ann_ivfpq_topk",
    _IVFPQ_ORACLE,
    "IVF-PQ ADC top-5 for vec 7 (FAISS-standard): nprobe=2 cell pruning + "
    "m=8 product-quantized RESIDUAL codes scored by a per-cell query-"
    "residual LUT — probed-cells-only scan of the code column, one fused "
    "model collect",
)
def q_ann_ivfpq(spark, sf_dir):
    from victor_spark.operators.ivfpq import ivfpq_topk

    e = _emb(spark, sf_dir).select("vec_id", "v")
    out = ivfpq_topk(e, "vec_id", "v", query_id=7, k=5, m=8, k_cb=16,
                     nprobe=2, centroid_mod=250, salt="pq")
    return out.select(
        "vec_id", F.col("cell").cast("long").alias("cell"),
        F.round("adc_dist", 6).alias("adc_dist"),
    )


# Recall audit: the quality counterpart of the ANN queries — recall@10 of
# each approximate strategy against the exact top-10, as a first-class
# query (the number a pipeline owner watches when tuning nprobe/m/planes).

_RECALL_ORACLE = f"""
WITH {_PQ_CTES},
adc_top AS (SELECT vec_id FROM scored ORDER BY adc, vec_id LIMIT 10),
l2_top AS (
  SELECT e.vec_id FROM e, q
  ORDER BY list_sum(list_transform(range(1, 65),
             i -> (e.v[CAST(i AS INTEGER)] - q.qv[CAST(i AS INTEGER)])^2)),
           e.vec_id
  LIMIT 10),
cent AS (SELECT vec_id AS cell, v AS cv, sqrt(list_dot_product(v, v)) cn
         FROM e WHERE vec_id % 250 = 0),
assign AS (
  SELECT vec_id, v, cell,
         row_number() OVER (PARTITION BY vec_id
           ORDER BY list_dot_product(v, cv) / (sqrt(list_dot_product(v, v)) * cn) DESC,
                    cell) rn
  FROM e, cent
),
cells AS (SELECT vec_id, v, cell FROM assign WHERE rn = 1),
q7 AS (SELECT v qv, sqrt(list_dot_product(v, v)) qn FROM e WHERE vec_id = 7),
qcells AS (
  SELECT cell FROM cent, q7
  ORDER BY list_dot_product(cv, qv) / (cn * qn) DESC, cell LIMIT 2
),
ivf_top AS (
  SELECT c.vec_id FROM cells c JOIN qcells p ON c.cell = p.cell, q7
  ORDER BY list_dot_product(c.v, q7.qv)
             / (sqrt(list_dot_product(c.v, c.v)) * q7.qn) DESC, c.vec_id
  LIMIT 10),
cos_top AS (
  SELECT e.vec_id FROM e, q7
  ORDER BY list_dot_product(e.v, q7.qv)
             / (sqrt(list_dot_product(e.v, e.v)) * q7.qn) DESC, e.vec_id
  LIMIT 10),
lsb AS (SELECT vec_id, v, {_bucket_sql('v')} bucket FROM e),
lsq AS (SELECT v qv, bucket qb, sqrt(list_dot_product(v, v)) qn
        FROM lsb WHERE vec_id = 3),
lstop AS (
  SELECT b.vec_id FROM lsb b, lsq
  WHERE b.bucket = lsq.qb
     OR xor(b.bucket, lsq.qb) IN (1, 2, 4, 8, 16, 32, 64, 128)
  ORDER BY list_dot_product(b.v, lsq.qv)
             / (sqrt(list_dot_product(b.v, b.v)) * lsq.qn) DESC, b.vec_id
  LIMIT 10),
cos3 AS (
  SELECT e.vec_id FROM e, lsq
  ORDER BY list_dot_product(e.v, lsq.qv)
             / (sqrt(list_dot_product(e.v, e.v)) * lsq.qn) DESC, e.vec_id
  LIMIT 10),
fp_qc AS (SELECT cell, cv FROM cent, q7
          ORDER BY list_dot_product(cv, q7.qv) / (cn * q7.qn) DESC, cell
          LIMIT 2),
fp_cbres AS (SELECT c.vec_id,
             list_transform(range(1, 65),
               i -> c.v[CAST(i AS INTEGER)] - ct.cv[CAST(i AS INTEGER)]) rv
             FROM cb c JOIN cells cl ON c.vec_id = cl.vec_id
                       JOIN cent ct ON cl.cell = ct.cell),
fp_rcb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) code,
                  rv cv
           FROM fp_cbres),
fp_cand AS (SELECT cl.vec_id, cl.cell,
            list_transform(range(1, 65),
              i -> cl.v[CAST(i AS INTEGER)] - ct.cv[CAST(i AS INTEGER)]) rv
            FROM cells cl JOIN cent ct ON cl.cell = ct.cell
            WHERE cl.cell IN (SELECT cell FROM fp_qc)),
fp_dists AS (SELECT fp_cand.vec_id, s.j, r.code,
             list_sum(list_transform(range(1, 9),
               i -> (fp_cand.rv[CAST(s.j*8 + i AS INTEGER)]
                     - r.cv[CAST(s.j*8 + i AS INTEGER)])^2)) dist
             FROM fp_cand, subs s, fp_rcb r),
fp_enc AS (SELECT vec_id, j, code,
                  row_number() OVER (PARTITION BY vec_id, j
                                     ORDER BY dist, code) rn
           FROM fp_dists),
fp_codes AS (SELECT vec_id, j, code FROM fp_enc WHERE rn = 1),
fp_rq AS (SELECT fp_qc.cell,
          list_transform(range(1, 65),
            i -> q7.qv[CAST(i AS INTEGER)] - fp_qc.cv[CAST(i AS INTEGER)]) rqv
          FROM fp_qc, q7),
fp_scored AS (SELECT fp_codes.vec_id,
              sum(list_sum(list_transform(range(1, 9),
                i -> (fp_rq.rqv[CAST(fp_codes.j*8 + i AS INTEGER)]
                      - r.cv[CAST(fp_codes.j*8 + i AS INTEGER)])^2))) adc
              FROM fp_codes JOIN cells cl ON fp_codes.vec_id = cl.vec_id
                            JOIN fp_rq ON cl.cell = fp_rq.cell
                            JOIN fp_rcb r ON fp_codes.code = r.code
              GROUP BY fp_codes.vec_id),
fp_top AS (SELECT vec_id FROM fp_scored ORDER BY adc, vec_id LIMIT 10),
l27 AS (SELECT e.vec_id FROM e, q7
        ORDER BY list_sum(list_transform(range(1, 65),
                   i -> (e.v[CAST(i AS INTEGER)] - q7.qv[CAST(i AS INTEGER)])^2)),
                 e.vec_id
        LIMIT 10)
SELECT 'pq_adc' AS method, 10 AS k,
       round(CAST((SELECT count(*) FROM adc_top JOIN l2_top USING (vec_id)) AS DOUBLE) / 10, 6) AS recall
UNION ALL
SELECT 'ivf', 10,
       round(CAST((SELECT count(*) FROM ivf_top JOIN cos_top USING (vec_id)) AS DOUBLE) / 10, 6)
UNION ALL
SELECT 'lsh', 10,
       round(CAST((SELECT count(*) FROM lstop JOIN cos3 USING (vec_id)) AS DOUBLE) / 10, 6)
UNION ALL
SELECT 'ivf_pq', 10,
       round(CAST((SELECT count(*) FROM fp_top JOIN l27 USING (vec_id)) AS DOUBLE) / 10, 6)
"""


@_q(
    "ann_recall",
    _RECALL_ORACLE,
    "recall@10 audit of the approximate strategies: PQ/ADC vs exact "
    "squared-L2 (query 11) and IVF nprobe=2 vs exact cosine (query 7) — "
    "the tuning metric for m/nprobe, computed as a query",
)
def q_ann_recall(spark, sf_dir):
    from victor_spark.operators import pq
    from victor_spark.operators.ivfpq import (
        _residual,
        assign_cells,
        ivfpq_topk,
        probe_cells,
    )
    from victor_spark.operators.topk import topk_per_group

    # Two driver actions TOTAL (the round-3 verdict's fix for the audit's
    # serial-barrier structure): (1) one fused model collect, (2) the
    # final result. Every downstream frame is built from literals of that
    # one collect, so no leg hides an extra round trip — on a busy
    # cluster scheduler each serial action is a full job-launch barrier.
    e = _emb(spark, sf_dir).select("vec_id", "v").localCheckpoint(eager=False)

    # ACTION 1 — fused model collect: PQ codebook rows, ALL THREE query
    # vectors (11, 7, and 3 — with 3's LSH bucket computed inside this
    # same job, so the bucket rule stays the executors' own expression),
    # and the IVF centroid rows, in a single union'd round trip.
    tagged = e.select(
        F.col("vec_id").alias("_id"), F.col("v").alias("_v")
    ).withColumn(
        "_h", H.md5_32(F.concat(F.lit("pq:"), F.col("_id").cast("string")))
    )
    zb = F.lit(0).cast("long").alias("_b")
    parts = (
        tagged.orderBy("_h", "_id").limit(16)
        .select("_id", "_v", zb, F.lit("cb").alias("_part"))
        .unionAll(tagged.filter(F.col("_id") == 11)
                  .select("_id", "_v", zb, F.lit("q11").alias("_part")))
        .unionAll(tagged.filter(F.col("_id") == 7)
                  .select("_id", "_v", zb, F.lit("q7").alias("_part")))
        .unionAll(tagged.filter(F.col("_id") == 3)
                  .select("_id", "_v",
                          H.hyperplane_bucket("_v", 8).alias("_b"),
                          F.lit("q3").alias("_part")))
        .unionAll(tagged.filter(F.col("_id") % 250 == 0)
                  .select("_id", "_v", zb, F.lit("cent").alias("_part")))
    ).collect()
    cb_rows = sorted(
        (r for r in parts if r["_part"] == "cb"), key=lambda r: r["_id"]
    )
    cb = [[float(x) for x in r["_v"]] for r in cb_rows]
    try:
        qv = [float(x) for x in next(r["_v"] for r in parts if r["_part"] == "q11")]
        q7v = [float(x) for x in next(r["_v"] for r in parts if r["_part"] == "q7")]
        q3 = next(r for r in parts if r["_part"] == "q3")
    except StopIteration:
        raise ValueError("query id 11, 7, or 3 not found in embeddings")
    q3v, qb3 = [float(x) for x in q3["_v"]], int(q3["_b"])
    centroids = {
        int(r["_id"]): [float(x) for x in r["_v"]]
        for r in parts if r["_part"] == "cent"
    }
    model = (centroids, [_residual(v, centroids) for v in cb], q7v)

    def _negl2(q):
        # negated so every leg ranks DESCENDING in the shared window
        return -euclidean("v", lit_doubles_sql(q))

    # exact baselines: ONE corpus pass scores all four (method, query,
    # metric) pairs; per-method top-10 rides WindowGroupLimit (partial
    # limits before the 4-group shuffle — ≤10·partitions rows move, so
    # the tiny group count is not a scale hazard)
    exact = topk_per_group(
        e.select(
            "vec_id",
            F.explode(F.array(
                F.struct(F.lit("pq_adc").alias("method"), _negl2(qv).alias("_s")),
                F.struct(F.lit("ivf").alias("method"),
                         cosine_to_literal("v", q7v).alias("_s")),
                F.struct(F.lit("lsh").alias("method"),
                         cosine_to_literal("v", q3v).alias("_s")),
                F.struct(F.lit("ivf_pq").alias("method"), _negl2(q7v).alias("_s")),
            )).alias("x"),
        ).select("vec_id", F.col("x.method").alias("method"),
                 F.col("x._s").alias("_s")),
        ["method"], "_s", 10, tie_cols=["vec_id"],
    ).select("method", "vec_id")

    # PQ/ADC leg over the full corpus (codebook is a literal)
    enc = pq.encode(e, "v", cb, m=8)
    adc_top = pq.adc_topk(enc, qv, cb, k=10, m=8, id_col="vec_id").select(
        F.lit("pq_adc").alias("method"), "vec_id"
    )

    # IVF leg: cell assignment via the OPERATOR (ivfpq.assign_cells —
    # the rule ivfpq_topk's assigned= seam must stay in lockstep with;
    # an inline copy here would silently drift if the operator's
    # tie-break ever changed), lineage-truncated and SHARED with the
    # IVF-PQ leg below; probe cells picked DRIVER-side from the model
    assigned = assign_cells(e, "vec_id", "v", centroids).localCheckpoint(
        eager=False
    )
    ivf_top = (
        assigned.filter(F.col("cell").isin(probe_cells(q7v, centroids, 2)))
        .select("vec_id", cosine_to_literal("v", q7v).alias("_s"))
        .orderBy(F.desc("_s"), F.asc("vec_id"))
        .limit(10)
        .select(F.lit("ivf").alias("method"), "vec_id")
    )

    # LSH leg: the query's own bucket came back in the fused collect, so
    # the candidate filter is a pure literal IN-list (bucket ± 1 bit)
    probes3 = [qb3] + [qb3 ^ d for d in (1, 2, 4, 8, 16, 32, 64, 128)]
    lsh_top = (
        e.withColumn("bucket", H.hyperplane_bucket("v", 8))
        .filter(F.col("bucket").isin(probes3))
        .select("vec_id", cosine_to_literal("v", q3v).alias("_s"))
        .orderBy(F.desc("_s"), F.asc("vec_id"))
        .limit(10)
        .select(F.lit("lsh").alias("method"), "vec_id")
    )

    # IVF-PQ leg: shares the model AND the cell assignment
    ivfpq_top = ivfpq_topk(
        e, "vec_id", "v", query_id=7, k=10, m=8, k_cb=16,
        nprobe=2, centroid_mod=250, salt="pq", model=model,
        assigned=assigned,
    ).select(F.lit("ivf_pq").alias("method"), "vec_id")

    approx = adc_top.unionAll(ivf_top).unionAll(lsh_top).unionAll(ivfpq_top)
    hits = (
        approx.join(exact, ["method", "vec_id"])
        .groupBy("method")
        .agg(F.count("*").alias("_n"))
    )
    # the literal leg table pins output order (oracle UNION order) and
    # keeps a 0-recall method in the result instead of dropping it
    legs = spark.createDataFrame(
        [("pq_adc", 1), ("ivf", 2), ("lsh", 3), ("ivf_pq", 4)],
        "method string, _ord int",
    )
    # ACTION 2 — the driver's collect of this frame is the only other job
    return (
        legs.join(hits, "method", "left")
        .orderBy("_ord")
        .select(
            "method",
            F.lit(10).alias("k"),
            F.round(
                F.coalesce(F.col("_n"), F.lit(0)) / F.lit(10.0), 6
            ).alias("recall"),
        )
    )


# ===========================================================================
# extensions: text analysis over documents
# ===========================================================================

_SQL_T = SQL_TOKS.format(s="text")

_TEXT_STATS_ORACLE = f"""
WITH d AS (SELECT doc_id, text, {_SQL_T} t FROM documents),
s AS (
  SELECT doc_id,
         CAST(len(t) AS INTEGER) n_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS INTEGER) n_words,
         CASE WHEN len(t) = 0 THEN 0.0
              ELSE CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE) / len(t) END atl,
         CASE WHEN len(text) = 0 THEN 0.0
              ELSE CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) / len(text) END pr,
         CASE WHEN len(t) = 0 THEN 0.0
              ELSE CAST(len(list_filter(t, x -> list_contains(
                     ['the','a','an','and','or','of','to','in','is','it'], lower(x)))) AS DOUBLE)
                   / len(t) END sr
  FROM d
)
SELECT doc_id, n_tokens, n_words,
       round(atl, 6) AS avg_token_len,
       round(pr, 6) AS punct_ratio,
       round(sr, 6) AS stopword_ratio,
       round((least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
              + (CASE WHEN atl >= 3.0 AND atl <= 10.0 THEN 1.0 ELSE 0.5 END)
              + (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.5 END)
              + least(sr * 10.0, 1.0)) / 4.0, 6) AS quality
FROM s
"""


@_q(
    "text_stats",
    _TEXT_STATS_ORACLE,
    "per-doc quality metrics: token counts, avg token length, punctuation & "
    "stopword ratios, composite quality score (C4/Gopher-style pre-filters)",
)
def q_text_stats(spark, sf_dir):
    d = fan_out(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        T.word_count("text").alias("n_words"),
        F.round(T.avg_token_len("text"), 6).alias("avg_token_len"),
        F.round(T.punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(T.stopword_ratio("text"), 6).alias("stopword_ratio"),
        F.round(T.quality_score("text"), 6).alias("quality"),
    )


def _lang_sql_parts() -> tuple[str, str, str]:
    """(score selects over column `lt`, winning-lang fold, max-score fold)
    mirroring text.lang_id: first language wins ties, strictly-greater
    replaces."""
    langs = list(T.LANG_MARKERS)
    expr_lang = f"'{langs[0]}'"
    expr_score = f"s_{langs[0]}"
    for lang in langs[1:]:
        expr_lang = f"(CASE WHEN s_{lang} > {expr_score} THEN '{lang}' ELSE {expr_lang} END)"
        expr_score = f"greatest(s_{lang}, {expr_score})"
    selects = ", ".join(
        f"len(list_filter(lt, x -> list_contains({[m for m in T.LANG_MARKERS[lang]]!r}, x))) s_{lang}".replace(
            '"', "'"
        )
        for lang in langs
    )
    return selects, expr_lang, expr_score


def _lang_id_sql() -> str:
    selects, expr_lang, expr_score = _lang_sql_parts()
    return f"""
WITH d AS (SELECT doc_id, lang, list_transform({_SQL_T}, x -> lower(x)) lt FROM documents),
sc AS (SELECT doc_id, lang, {selects} FROM d)
SELECT doc_id, lang AS actual_lang,
       (CASE WHEN {expr_score} > 0 THEN {expr_lang} ELSE 'und' END) AS pred_lang
FROM sc
"""


# The batch embedder (reference S3 `add`/Q1 `search`, db.rs:102-114: model
# over docs before insert). The stand-in feature-hashing encoder is
# md5-defined (functions/embedder.py), so the oracle can replay it exactly:
# token → dimension = first 4 md5 bytes % dim, sign = bit 0 of byte 4.
# Compared features are scale-invariant integers (count of non-zero dims,
# argmax/argmin dimension), so float32-vs-float64 normalization differences
# cannot flake the value-hash.
_EMBED_DIM = 64

_EMBED_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKS.format(s='lower(text)')}) AS t FROM documents
),
comp AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % {_EMBED_DIM} AS idx,
         CASE WHEN CAST(concat('0x', substr(md5(t), 10, 1)) AS INTEGER) % 2 = 1
              THEN 1.0 ELSE -1.0 END AS s
  FROM toks
),
sums AS (SELECT doc_id, idx, sum(s) AS v FROM comp GROUP BY 1, 2),
grid AS (SELECT d.doc_id, r.range AS idx FROM documents d, range(0, {_EMBED_DIM}) r),
vecs AS (
  SELECT g.doc_id, g.idx, coalesce(s.v, 0.0) AS v
  FROM grid g LEFT JOIN sums s ON g.doc_id = s.doc_id AND g.idx = s.idx
),
agg AS (
  SELECT doc_id,
         CAST(count(*) FILTER (WHERE v <> 0) AS INTEGER) AS n_nonzero,
         max(v) AS mx, min(v) AS mn
  FROM vecs GROUP BY doc_id
)
SELECT a.doc_id, a.n_nonzero,
       CAST(min(f.idx) FILTER (WHERE f.v = a.mx) AS INTEGER) AS max_idx,
       CAST(min(f.idx) FILTER (WHERE f.v = a.mn) AS INTEGER) AS min_idx
FROM vecs f JOIN agg a ON f.doc_id = a.doc_id
GROUP BY a.doc_id, a.n_nonzero
"""


@_q(
    "embed_documents",
    _EMBED_ORACLE,
    "batch embedding of every document via the Arrow pandas_udf hash-encoder "
    "(reference add/search model seam, db.rs:102-114) — scale-invariant "
    "integer features of each embedding, oracle-replayed from the md5 family",
)
def q_embed_documents(spark, sf_dir):
    from victor_spark.functions.embedder import embed

    d = fan_out(load_table(spark, sf_dir, "documents"))
    e = d.select("doc_id", embed("text", _EMBED_DIM).alias("v"))
    # argmax/argmin dimension over the full vector (zeros included),
    # 0-based, smallest index on ties — array_position returns the first
    # occurrence; order is normalization-invariant (positive scale)
    return e.select(
        "doc_id",
        F.size(F.filter("v", lambda x: x != 0.0)).cast("int").alias("n_nonzero"),
        (F.array_position("v", F.array_max("v")) - 1).cast("int").alias("max_idx"),
        (F.array_position("v", F.array_min("v")) - 1).cast("int").alias("min_idx"),
    )


# BPE-ish subword tokenization: letter runs, digit runs, and single
# punctuation marks as separate tokens (the GPT-2 pre-tokenizer's shape,
# minus unicode categories). Token COUNTING is the pipeline need (context
# budgeting / pricing) — counts per doc plus corpus totals per language.
_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

_BPE_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang,
         len({SQL_TOKS.format(s='text')}) ws_tokens,
         len(regexp_extract_all(text, '{_BPE_RE}')) bpe_tokens
  FROM documents
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
       CAST(sum(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
       round(CAST(sum(bpe_tokens) AS DOUBLE) / sum(ws_tokens), 6) AS bpe_per_ws
FROM d GROUP BY lang
"""


@_q(
    "token_count_bpe",
    _BPE_ORACLE,
    "token counting with a BPE-ish regex pre-tokenizer (letter runs / digit "
    "runs / punctuation) vs whitespace tokens, aggregated per language",
)
def q_token_count_bpe(spark, sf_dir):
    d = fan_out(load_table(spark, sf_dir, "documents"))
    counted = d.select(
        "lang",
        T.token_count("text").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), F.lit(0))).alias("bpe_tokens"),
    )
    return counted.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws_tokens").alias("total_ws_tokens"),
        F.sum("bpe_tokens").alias("total_bpe_tokens"),
        F.round(
            F.sum("bpe_tokens").cast("double") / F.sum("ws_tokens"), 6
        ).alias("bpe_per_ws"),
    )


@_q(
    "lang_id",
    _lang_id_sql(),
    "marker-word language-ID heuristic per doc (argmax, first-wins ties)",
)
def q_lang_id(spark, sf_dir):
    d = fan_out(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        T.lang_id("text").alias("pred_lang"),
    )


@_q(
    "doc_fingerprint",
    f"""
WITH d AS (SELECT doc_id, text FROM documents),
sh AS (SELECT doc_id,
              list_distinct(CASE WHEN len(text) >= 8 THEN
                list_transform(range(1, len(text) - 6), i -> substr(text, CAST(i AS INT), 8))
                ELSE [text] END) g
       FROM d)
SELECT doc_id,
       coalesce(list_min(list_transform(list_distinct(
         list_transform(g, s -> {SQL_H32.format(x='s')})), x -> x)), 0) AS fp
FROM sh
""",
    "winnowing-style document fingerprint: min 32-bit hash over char-8-gram shingles",
)
def q_doc_fingerprint(spark, sf_dir):
    d = fan_out(load_table(spark, sf_dir, "documents"))
    return d.select("doc_id", T.fingerprint64("text").alias("fp"))


_VOCAB_ORACLE = """
WITH toks AS (
  SELECT t.tok FROM documents d,
       unnest(list_filter(string_split(lower(d.text), ' '), x -> x <> '')) AS t(tok)
)
SELECT tok AS token, count(*) AS n
FROM toks GROUP BY tok
ORDER BY n DESC, token LIMIT 100
"""


@_q(
    "vocab_topk",
    _VOCAB_ORACLE,
    "corpus vocabulary: top-100 whitespace tokens by frequency (BPE vocab "
    "precursor; explode + partial-agg combine, bounded TakeOrdered merge)",
)
def q_vocab_topk(spark, sf_dir):
    d = fan_out(load_table(spark, sf_dir, "documents"))
    return (
        d.select(F.explode(T.tokens("lower(text)")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(100)
    )


# Text-entry search (reference Q1, db.rs:198-213): embed the query STRING
# with the same model as the corpus, then cosine top-k. The catalog's
# oracle replays the md5 feature-hash embedding for both sides in SQL and
# computes cosine over the RAW integer score vectors — cosine is
# normalization-invariant, so the exact-integer oracle matches the
# normalized-f32 serving path to ~1e-8, far inside round(…, 4).

_SEARCH_TEXT_QUERY = "machine learning model training data quality"


def _hash_embed_sql(src: str, id_sel: str, dim: int) -> str:
    """CTE body: (``id_sel``, idx, v) sparse hash-embedding of lower(text)
    rows from ``src`` — the md5 feature-hash family shared with
    embed_documents."""
    return (
        f"SELECT {id_sel}, "
        f"CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % {dim} AS idx, "
        "sum(CASE WHEN CAST(concat('0x', substr(md5(t), 10, 1)) AS INTEGER) % 2 = 1 "
        "THEN 1.0 ELSE -1.0 END) AS v "
        f"FROM (SELECT *, unnest({SQL_TOKS.format(s='lower(text)')}) AS t FROM {src}) "
        f"GROUP BY 1, 2"
    )


_SEARCH_TEXT_ORACLE = f"""
WITH dsum AS ({_hash_embed_sql('documents', 'doc_id', 64)}),
qsum AS ({_hash_embed_sql(f"(SELECT '{_SEARCH_TEXT_QUERY}' AS text)", "1 AS one", 64)}),
ddot AS (SELECT d.doc_id, sum(d.v * q.v) dp
         FROM dsum d JOIN qsum q USING (idx) GROUP BY 1),
dn AS (SELECT doc_id, sqrt(sum(v * v)) nn FROM dsum GROUP BY 1),
qn AS (SELECT sqrt(sum(v * v)) qq FROM qsum),
scored AS (
  SELECT dn.doc_id, coalesce(ddot.dp, 0.0) / (dn.nn * qn.qq) s
  FROM dn LEFT JOIN ddot USING (doc_id), qn
  WHERE dn.nn > 0
),
ranked AS (
  SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) rn
  FROM scored
)
SELECT doc_id, round(s, 4) AS sim, CAST(rn AS INTEGER) AS rank
FROM ranked WHERE rn <= 10
"""


@_q(
    "search_text_topk",
    _SEARCH_TEXT_ORACLE,
    "the reference's text-entry search (Q1, db.rs:198-213) as a query: "
    "embed the query string driver-side with the corpus model, cosine "
    "top-10 over the batch-embedded documents — the oracle replays the "
    "hash embedding for BOTH sides and scores raw integer vectors "
    "(cosine is normalization-invariant)",
)
def q_search_text(spark, sf_dir):
    from victor_spark.functions.embedder import embed, embed_query

    qv = embed_query(_SEARCH_TEXT_QUERY, _EMBED_DIM)
    qlit = lit_doubles_sql(qv)
    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", to_double_array(embed("text", _EMBED_DIM)).alias("v")
    )
    scored = d.select(
        "doc_id",
        (dot("v", qlit) / (norm("v") * norm(qlit))).alias("_s"),
    ).filter(norm("v") > 0)
    w = Window.orderBy(F.desc("_s"), F.asc("doc_id"))
    return (
        scored.orderBy(F.desc("_s"), F.asc("doc_id")).limit(10)
        .withColumn("rank", F.row_number().over(w))
        .select("doc_id", F.round("_s", 4).alias("sim"), "rank")
    )


# C4-style line-level cleaning (Raffel et al. 2020 §2.2): the standard
# boilerplate pass that runs BEFORE document-level quality filters — keep
# only lines that look like prose (>= 3 whitespace tokens and terminal
# punctuation). Pure codegen: split, filter with a lambda, rejoin — one
# map-side pass, no shuffle, no Python.

# Both line-level queries synthesize a DETERMINISTIC multi-line corpus
# from the (single-line) testdata documents: the original text, a 40-char
# prefix line, and a shared boilerplate footer. The footer line is what
# makes the checks meaningful — it recurs in EVERY document, so the
# global dedup must keep it exactly once and the C4 filter must judge it
# — and the prefix line exercises per-doc reassembly order.
_MULTILINE_SQL = (
    "concat(text, chr(10), substr(text, 1, 40), chr(10), "
    "'All rights reserved. Contact us today!')"
)


# the same synthesized text in Spark SQL, split into its lines
_MULTILINE_LINES = (
    "split(concat(`text`, '\\n', substring(`text`, 1, 40), '\\n', "
    "'All rights reserved. Contact us today!'), '\\n')"
)


_C4_LINE_ORACLE = f"""
WITH d AS (SELECT doc_id, string_split({_MULTILINE_SQL}, chr(10)) AS lines
           FROM documents),
f AS (
  SELECT doc_id, lines,
         list_filter(lines, l ->
           len(list_filter(string_split(l, ' '), t -> t <> '')) >= 3
           AND (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%."'
                OR l LIKE '%!"' OR l LIKE '%?"')) AS kept
  FROM d
)
SELECT doc_id,
       CAST(len(lines) AS INTEGER) AS n_lines,
       CAST(len(kept) AS INTEGER) AS n_kept,
       -- DuckDB's array_to_string of an EMPTY list is NULL (Spark's
       -- array_join is ''); coalesce aligns the engines
       CAST(len(coalesce(array_to_string(kept, chr(10)), '')) AS INTEGER)
         AS cleaned_chars,
       CAST(sha256(coalesce(array_to_string(kept, chr(10)), '')) AS VARCHAR)
         AS cleaned_hash
FROM f
"""


@_q(
    "c4_line_filter",
    _C4_LINE_ORACLE,
    "C4-style line-level boilerplate filter (Raffel 2020 §2.2): keep "
    "lines with >= 3 tokens ending in terminal punctuation (. ! ? or "
    "their close-quote forms — colons are boilerplate and dropped), "
    "rejoin — one codegen projection over a synthesized multi-line corpus "
    "with a recurring footer (counts + sha256 of the cleaned text, "
    "oracle-exact)",
)
def q_c4_line_filter(spark, sf_dir):
    d = fan_out(load_table(spark, sf_dir, "documents"))
    kept = T.c4_kept_lines(_MULTILINE_LINES)
    cleaned = F.array_join(kept, "\n")
    return d.select(
        "doc_id",
        F.size(F.expr(_MULTILINE_LINES)).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        F.length(cleaned).alias("cleaned_chars"),
        F.sha2(cleaned, 256).alias("cleaned_hash"),
    )


# Cross-document line dedup (C4 §2.2's global span dedup, line
# granularity): every line occurring anywhere in the corpus is kept ONLY
# at its first occurrence — ordered by (doc_id, position), encoded as one
# integer key so both engines share the argmin. Shuffle shape: explode is
# map-side; ONE groupBy on the line (partial-agg'd; hot boilerplate lines
# are exactly the point); the keep-filter rides the same join; reassembly
# is a per-doc aggregation. No all-pairs anything — this is how you
# de-boilerplate 100 TB.

_LINE_DEDUP_ORACLE = f"""
WITH d AS (SELECT doc_id, string_split({_MULTILINE_SQL}, chr(10)) AS lines
           FROM documents),
l AS (
  SELECT doc_id, generate_subscripts(lines, 1) AS pos, unnest(lines) AS line
  FROM d
),
firsts AS (SELECT line, min(row(doc_id, pos)) AS first_occ FROM l GROUP BY line),
kept AS (
  SELECT l.doc_id, l.pos, l.line
  FROM l JOIN firsts ON l.line = firsts.line
                    AND row(l.doc_id, l.pos) = firsts.first_occ
),
reassembled AS (
  SELECT doc_id,
         CAST(count(*) AS INTEGER) AS n_kept,
         array_to_string(list(line ORDER BY pos), chr(10)) AS cleaned
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(d.lines) AS INTEGER) AS n_lines,
       coalesce(r.n_kept, 0) AS n_kept,
       CAST(sha256(coalesce(r.cleaned, '')) AS VARCHAR) AS cleaned_hash
FROM d LEFT JOIN reassembled r ON d.doc_id = r.doc_id
"""


@_q(
    "line_dedup_global",
    _LINE_DEDUP_ORACLE,
    "cross-document line dedup (C4's global span dedup at line "
    "granularity): keep each line only at its first (doc_id, pos) "
    "occurrence corpus-wide — the recurring synthesized footer proves it "
    "survives in exactly one document. Explode, one line-keyed groupBy "
    "STRUCT argmin (no arithmetic key — an encoded doc_id*C+pos overflows "
    "int64 for hash-valued doc_ids); then reassembly rides the DROP set "
    "(round-9 dedup perf refactor): only the duplicate (doc_id, pos) "
    "rows — no text — shuffle into per-doc position arrays, and each doc "
    "is rebuilt by one codegen index-filter over its original lines "
    "array. The old shape regrouped every KEPT line's text through a "
    "corpus-sized collect_list shuffle plus a corpus-corpus join; at "
    "100 TB the drop set is the duplicate minority and the rebuild join "
    "is corpus-x-small (AQE broadcast). Output byte-identical; returns "
    "per-doc kept counts and the sha256 of the deduped text",
)
def q_line_dedup_global(spark, sf_dir):
    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.expr(_MULTILINE_LINES).alias("lines")
    )
    l = d.select(
        "doc_id", F.posexplode("lines").alias("pos0", "line")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "line")
    # Round-11 optimization (guide §2.4): first-occurrence detection is
    # ONE window min over the exploded lines instead of a groupBy(line)
    # + join of the explode with its own aggregate — the old shape
    # evaluated the explode subtree twice (agg input + join probe side)
    # and paid the aggregate exchange AND the join exchange on the same
    # key. min(struct(doc_id, pos)) OVER (PARTITION BY line) is exactly
    # the old first_occ, and the inner join matched every row, so the
    # filter sees identical values.
    first_occ = F.min(F.struct("doc_id", "pos")).over(
        Window.partitionBy("line")
    )
    dropped = (
        l.withColumn("first_occ", first_occ)
        .filter(
            (F.col("doc_id") != F.col("first_occ.doc_id"))
            | (F.col("pos") != F.col("first_occ.pos"))
        )
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("_dp"))
    )
    dp = F.coalesce(F.col("_dp"), F.array().cast("array<int>"))
    kept = bind(
        dp,
        lambda dps: F.filter(
            F.col("lines"), lambda x, i: ~F.array_contains(dps, i + 1)
        ),
    )
    return d.join(dropped, "doc_id", "left").select(
        "doc_id",
        F.size("lines").alias("n_lines"),
        F.size(kept).alias("n_kept"),
        F.sha2(F.array_join(kept, "\n"), 256).alias("cleaned_hash"),
    )


# Unigram log-probability scoring: the cheap end of the perplexity-filter
# family (CCNet scores with a KenLM 5-gram; the unigram variant is the
# same dataflow with n=1). Two aggregations over the token stream — corpus
# unigram distribution, then per-doc mean log p(w) via an equi-join of the
# token stream with the distribution — both map-side-combined shuffles on
# the token key. At 100 TB the distribution table is Heaps-law bounded
# (vocab ~ corpus^0.5); AQE broadcasts it when small, sort-merge otherwise.

_UNIGRAM_ORACLE = f"""
WITH d AS (SELECT doc_id, {SQL_TOKS.format(s='lower(text)')} t FROM documents),
tok AS (SELECT doc_id, unnest(t) tok FROM d),
dist AS (SELECT tok, count(*) c FROM tok GROUP BY tok),
total AS (SELECT sum(c) s FROM dist),
scored AS (
  SELECT tok.doc_id, ln(CAST(dist.c AS DOUBLE) / total.s) lp
  FROM tok JOIN dist ON tok.tok = dist.tok CROSS JOIN total
),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) n_tokens, avg(lp) avg_logp
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(p.n_tokens, 0) AS n_tokens,
       round(coalesce(p.avg_logp, 0.0), 6) AS avg_logp
FROM d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


@_q(
    "unigram_logprob",
    _UNIGRAM_ORACLE,
    "unigram log-probability quality score per doc (the n=1 member of the "
    "CCNet perplexity-filter family): corpus unigram distribution, then "
    "mean ln p(w) per doc via a token-key equi-join — two partial-agg "
    "shuffles, empty docs score 0",
)
def q_unigram_logprob(spark, sf_dir):
    # Round-11 measurement note: a distinct-(doc, token)-pair rewrite via
    # term_counts (the row-local sorted-run scan) was tried and REVERTED
    # — matched A/B wall-timing at sf0.1 showed the interpreted HOF scan
    # costs more than the codegen explode + partial-agg pipeline saves
    # (2.52s -> 3.69s). The occurrence-row form below is the measured
    # winner on this plan shape.
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    d = docs.select("doc_id", T.tokens("lower(text)").alias("t"))
    tok = d.select("doc_id", F.explode("t").alias("tok"))
    dist = tok.groupBy("tok").agg(F.count("*").alias("c"))
    # the corpus token total rides along as a broadcast 1-row cross join
    # (the oracle's CROSS JOIN total) — one lazy dataflow, no eager job
    # at plan-build time. Round-11 measurement note: a lazy-checkpoint
    # reuse barrier on dist was tried and REVERTED (min-of-5 matched A/B
    # at sf0.1: 1.18s -> 1.57s). The initial explain prints dist twice,
    # but AQE's runtime stage reuse already shares the aggregation
    # (qmetrics: task count identical with and without the barrier), so
    # the barrier only added a materialization sync — the same verdict
    # as the unigram-trainer barrier revert.
    total = F.broadcast(dist.agg(F.sum("c").cast("double").alias("_total")))
    scored = tok.join(dist, "tok").crossJoin(total).select(
        "doc_id", F.log(F.col("c").cast("double") / F.col("_total")).alias("lp")
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"), F.avg("lp").alias("avg_logp")
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.round(F.coalesce("avg_logp", F.lit(0.0)), 6).alias("avg_logp"),
        )
    )


# Gopher repetition signals (Rae et al. 2021, appendix A1.2), the
# token-level members (this corpus has no newlines, so the line/paragraph
# members are vacuous here): fraction of characters inside the most
# frequent 2-gram, and inside duplicated (count >= 2) 3-grams. All-integer
# numerators/denominators -> the single final division is IEEE-exact on
# both engines; no float caveats.

_REPETITION_ORACLE = f"""
WITH d AS (SELECT doc_id, {SQL_TOKS.format(s='lower(text)')} t FROM documents),
base AS (SELECT doc_id, t,
               coalesce(length(array_to_string(t, ' ')), 0) nc FROM d),
g2 AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 2 THEN
         list_transform(range(1, len(t)), i -> concat(t[i], ' ', t[i+1]))
         ELSE [] END) g
       FROM base),
c2 AS (SELECT doc_id, g, count(*) c FROM g2 GROUP BY doc_id, g),
m2 AS (SELECT doc_id, max(c * length(g)) chars2 FROM c2 GROUP BY doc_id),
g3 AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 3 THEN
         list_transform(range(1, len(t) - 1),
                        i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))
         ELSE [] END) g
       FROM base),
c3 AS (SELECT doc_id, g, count(*) c FROM g3 GROUP BY doc_id, g),
m3 AS (SELECT doc_id, sum(c * length(g)) chars3 FROM c3 WHERE c >= 2
       GROUP BY doc_id)
SELECT base.doc_id,
       CAST(len(base.t) AS BIGINT) AS n_tokens,
       round(CASE WHEN base.nc = 0 THEN 0.0
                  ELSE CAST(coalesce(m2.chars2, 0) AS DOUBLE) / base.nc END,
             6) AS top2_char_frac,
       round(least(1.0,
                   CASE WHEN base.nc = 0 THEN 0.0
                        ELSE CAST(coalesce(m3.chars3, 0) AS DOUBLE) / base.nc
                   END),
             6) AS dup3_char_frac,
       CASE WHEN base.nc = 0 THEN FALSE
            ELSE CAST(coalesce(m2.chars2, 0) AS DOUBLE) / base.nc > 0.2
       END AS gopher_top2_flag
FROM base LEFT JOIN m2 ON base.doc_id = m2.doc_id
          LEFT JOIN m3 ON base.doc_id = m3.doc_id
"""


def _word_ngrams_all(t, n: int):
    """ALL word n-gram occurrences (space-joined, WITH multiplicity —
    word_shingles is distinct-only, wrong for repetition counting)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - (n - 1)),
        lambda i: F.array_join(F.slice(t, i, n), " "),
    )
    return F.when(F.size(t) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


@_q(
    "repetition_stats",
    _REPETITION_ORACLE,
    "Gopher repetition signals (Rae et al. 2021 A1.2), token-level "
    "members: per-doc fraction of characters inside the most frequent "
    "2-gram and inside duplicated 3-grams (capped at 1.0 — overlapping "
    "occurrences overcount by construction), plus the top-2-gram > 0.2 "
    "removal flag. Two explode + partial-agg count pipelines joined per "
    "doc; all-integer until the final division, oracle exact",
)
def q_repetition_stats(spark, sf_dir):
    # Round-11 optimization: both repetition signals are statistics of
    # ONE document's own n-gram multiset, so the query is a row-local
    # projection — the previous two explode + groupBy(doc, gram) +
    # groupBy(doc) pipelines re-joined on doc_id (6 exchanges) moved
    # only intra-row data. Per-gram counts come from a sorted-run fold
    # over array_sort(grams): chars2 is the max over runs of
    # run·len(gram) (the max over a run's prefixes IS the full run's
    # value, so folding incrementally is exact), chars3 adds 2·len when
    # a run reaches 2 and +len per further repeat — both all-integer,
    # bit-identical to the grouped form and the unchanged oracle.
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id",
        T.tokens("lower(text)").alias("t"),
    ).select(
        "doc_id",
        "t",
        # coalesce mirrors the oracle's coalesce(length(...), 0) —
        # NULL text must take the nc=0 arms, not propagate NULL fracs
        F.coalesce(F.length(F.array_join("t", " ")), F.lit(0)).alias("nc"),
    )

    def _run_fold(arr, contrib, combine):
        """Fold sorted runs: struct(prev, run, acc) over array_sort(arr);
        ``contrib(run_new, x)`` is the value a run of length run_new
        ending at x contributes, combined into acc by ``combine``."""
        run = lambda a, x: F.when(x == a.prev, a.run + 1).otherwise(F.lit(1))
        return F.aggregate(
            F.array_sort(arr),
            F.struct(
                F.lit("").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).cast("long").alias("acc"),
            ),
            lambda a, x: F.struct(
                x.alias("prev"),
                run(a, x).alias("run"),
                combine(a.acc, contrib(run(a, x), x)).alias("acc"),
            ),
            lambda a: a.acc,
        )

    # max over distinct 2-grams of count * length(gram)
    chars2 = _run_fold(
        _word_ngrams_all(F.col("t"), 2),
        lambda r, x: (r * F.length(x)).cast("long"),
        F.greatest,
    )
    # sum over distinct 3-grams with count >= 2 of count * length(gram)
    chars3 = _run_fold(
        _word_ngrams_all(F.col("t"), 3),
        lambda r, x: F.when(r == 2, 2 * F.length(x))
        .when(r > 2, F.length(x))
        .otherwise(F.lit(0))
        .cast("long"),
        lambda a, c: a + c,
    )
    top2 = F.when(F.col("nc") == 0, F.lit(0.0)).otherwise(
        F.coalesce("chars2", F.lit(0)).cast("double") / F.col("nc")
    )
    dup3 = F.when(F.col("nc") == 0, F.lit(0.0)).otherwise(
        F.coalesce("chars3", F.lit(0)).cast("double") / F.col("nc")
    )
    return (
        base.withColumn("chars2", chars2)
        .withColumn("chars3", chars3)
        .select(
            "doc_id",
            F.size("t").cast("long").alias("n_tokens"),
            F.round(top2, 6).alias("top2_char_frac"),
            F.round(F.least(F.lit(1.0), dup3), 6).alias("dup3_char_frac"),
            F.when(F.col("nc") == 0, F.lit(False))
            .otherwise(top2 > 0.2)
            .alias("gopher_top2_flag"),
        )
    )


# CCNet perplexity buckets (Wenzek et al. 2020): per-language
# head/middle/tail terciles by LM score — the curation split CCNet
# publishes its corpus in. The LM here is the corpus unigram model
# (unigram_logprob's scoring); ordering for the tercile window is on the
# ROUNDED score (the repo's cross-engine parity boundary — raw ln values
# can differ in the last ulp between engines, and a flipped near-tie
# would flip a bucket) with doc_id as the deterministic tie-break.

_CCNET_ORACLE = f"""
WITH d AS (SELECT doc_id, lang, {SQL_TOKS.format(s='lower(text)')} t
           FROM documents),
tok AS (SELECT doc_id, unnest(t) tok FROM d),
dist AS (SELECT tok, count(*) c FROM tok GROUP BY tok),
total AS (SELECT CAST(sum(c) AS DOUBLE) s FROM dist),
scored AS (SELECT tok.doc_id, ln(dist.c / total.s) lp
           FROM tok JOIN dist USING (tok), total),
per_doc AS (SELECT doc_id, avg(lp) avg_logp FROM scored GROUP BY doc_id),
r AS (SELECT d.doc_id, d.lang,
             round(coalesce(per_doc.avg_logp, 0.0), 6) lp6
      FROM d LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id),
b AS (SELECT doc_id, lang, lp6,
             ntile(3) OVER (PARTITION BY lang ORDER BY lp6 DESC, doc_id) nt
      FROM r)
SELECT doc_id, lang, lp6 AS avg_logp,
       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         AS bucket
FROM b
"""


@_q(
    "ccnet_buckets",
    _CCNET_ORACLE,
    "CCNet head/middle/tail buckets (Wenzek et al. 2020): per-language "
    "terciles by unigram-LM score — ntile(3) over (rounded score desc, "
    "doc_id), the rounding being the cross-engine parity boundary so a "
    "last-ulp ln drift can never flip a bucket; one scoring pass + one "
    "per-language window over doc-count rows",
)
def q_ccnet_buckets(spark, sf_dir):
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    d = docs.select(
        "doc_id", "lang", T.tokens("lower(text)").alias("t")
    )
    tok = d.select("doc_id", F.explode("t").alias("tok"))
    # round-11 measurement note: a dist reuse barrier was tried and
    # REVERTED here too (min-of-5 matched A/B 1.19s -> 1.42s) — AQE's
    # runtime stage reuse already shares the aggregation (see
    # unigram_logprob)
    dist = tok.groupBy("tok").agg(F.count("*").alias("c"))
    total = F.broadcast(dist.agg(F.sum("c").cast("double").alias("_s")))
    scored = tok.join(dist, "tok").crossJoin(total).select(
        "doc_id", F.log(F.col("c").cast("double") / F.col("_s")).alias("lp")
    )
    per_doc = scored.groupBy("doc_id").agg(F.avg("lp").alias("avg_logp"))
    r = d.select("doc_id", "lang").join(per_doc, "doc_id", "left").select(
        "doc_id", "lang",
        F.round(F.coalesce("avg_logp", F.lit(0.0)), 6).alias("lp6"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("lp6"), F.asc("doc_id"))
    return r.select(
        "doc_id", "lang", F.col("lp6").alias("avg_logp"),
        F.when(F.ntile(3).over(w) == 1, "head")
        .when(F.ntile(3).over(w) == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


# Per-source corpus accounting over the documents table's source column —
# the ops dashboard a curation pipeline watches (docs, token mass, quality
# mix per crawl/source). One explode-free aggregation: token counts come
# from the size() of the split, so the shuffle carries one row per
# (source) per partition.

_SOURCE_STATS_ORACLE = f"""
WITH d AS (
  SELECT source, lang,
         len({SQL_TOKS.format(s='text')}) n_toks,
         len(text) n_chars
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       round(avg(n_toks), 6) AS avg_tokens,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM d GROUP BY source
"""


@_q(
    "source_stats",
    _SOURCE_STATS_ORACLE,
    "per-source corpus accounting: doc/token/char mass, mean doc length, "
    "language spread — one partial-agg'd aggregation keyed on source (the "
    "crawl-level dashboard of a curation pipeline)",
)
def q_source_stats(spark, sf_dir):
    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "source", "lang",
        T.token_count("text").alias("n_toks"),
        F.length("text").alias("n_chars"),
    )
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.round(F.avg("n_toks"), 6).alias("avg_tokens"),
        F.countDistinct("lang").alias("n_langs"),
    )


# One BPE merge iteration: adjacent-token-pair frequencies. This is the
# inner loop of byte-pair-encoding vocabulary learning (Sennrich 2016) —
# at 100 TB each iteration is exactly this query: explode pairs, partial
# map-side counts, one shuffle on the pair key, bounded top-k merge.

_BPE_PAIRS_ORACLE = f"""
WITH d AS (SELECT {SQL_TOKS.format(s='lower(text)')} t FROM documents),
p AS (
  SELECT unnest(list_transform(range(1, len(t)), i -> concat(t[i], ' ', t[i+1]))) pair
  FROM d WHERE len(t) >= 2
)
SELECT pair, CAST(count(*) AS BIGINT) AS n
FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20
"""


@_q(
    "bpe_pairs",
    _BPE_PAIRS_ORACLE,
    "one BPE merge iteration: top-20 adjacent token pairs by corpus "
    "frequency (the vocabulary-learning inner loop as a query)",
)
def q_bpe_pairs(spark, sf_dir):
    d = fan_out(load_table(spark, sf_dir, "documents"))

    def _pairs(t):
        return F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    pairs = bind(T.tokens("lower(text)"), _pairs)
    return (
        d.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


# TF-IDF: the classic IR weighting as two shuffles — per-(doc, term)
# counts, then a broadcast of the tiny document-frequency table back onto
# the term stream. ln-idf with the smoothed (1+N)/(1+df) form; top-3 terms
# per doc by (tfidf desc, term asc) through a rank-limit window.

_TFIDF_ORACLE = """
WITH d AS (SELECT doc_id,
                  list_filter(string_split(lower(text), ' '), x -> x <> '') t
           FROM documents),
n AS (SELECT count(*) nd FROM d),
tc AS (SELECT doc_id, tok, count(*) c
       FROM (SELECT doc_id, unnest(t) tok FROM d) GROUP BY 1, 2),
tot AS (SELECT doc_id, sum(c) s FROM tc GROUP BY 1),
df AS (SELECT tok, count(*) df FROM tc GROUP BY 1),
w AS (
  SELECT tc.doc_id, tc.tok,
         (CAST(tc.c AS DOUBLE) / tot.s)
           * ln((1.0 + n.nd) / (1.0 + df.df)) tfidf
  FROM tc JOIN tot USING (doc_id) JOIN df USING (tok) CROSS JOIN n
),
r AS (SELECT doc_id, tok, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, tok) rn
      FROM w)
SELECT doc_id, tok AS term, round(tfidf, 6) AS tfidf, CAST(rn AS INTEGER) AS rank
FROM r WHERE rn <= 3
"""


@_q(
    "tfidf_top_terms",
    _TFIDF_ORACLE,
    "TF-IDF top-3 terms per doc: per-(doc,term) counts, document-frequency "
    "join (broadcast — the df table is vocabulary-sized), smoothed ln-idf, "
    "rank-limit window (WindowGroupLimit keeps the per-doc heap bounded)",
)
def q_tfidf(spark, sf_dir):
    # Round-11 measurement note: a row-local term_counts rewrite of the
    # per-(doc,term) counting was tried and REVERTED — matched A/B
    # wall-timing at sf0.1 showed the interpreted sorted-run HOF costs
    # more than the codegen explode + partial-agg exchanges it removed
    # (1.93s -> 2.50s). What SURVIVES from that attempt is the doc-count
    # fix: the eager driver count() (a full extra corpus scan at 100 TB)
    # is a broadcast 1-row aggregate riding the same plan.
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # Round-11 optimization: the per-doc token total is size(t) — a
    # row-local fact known BEFORE the explode — so it rides the
    # (doc, tok) aggregation as a first() payload instead of being
    # re-derived by a groupBy(doc_id) shuffle of the pair table plus a
    # doc-keyed join back onto it (sum(c) over a doc's pairs == size(t)
    # exactly, both count every token occurrence). Two corpus-pair
    # exchanges disappear: the tot aggregation and the join re-shuffle.
    d = docs.select(
        "doc_id", T.tokens("lower(text)").alias("t")
    ).select("doc_id", F.size("t").alias("s"), F.explode("t").alias("tok"))
    tc = d.groupBy("doc_id", "tok").agg(
        F.count("*").alias("c"), F.first("s").alias("s")
    )
    # reuse barrier: tc feeds the df aggregation AND the scoring join,
    # and Catalyst reuses neither (the captured plan re-tokenized the
    # corpus for the broadcast side) — materialize the pair table once
    tc = tc.localCheckpoint(eager=False)
    df_t = tc.groupBy("tok").agg(F.count("*").alias("df"))
    # nd counts ALL documents (the oracle's SELECT count(*) FROM d), not
    # just docs with >=1 token — empty/whitespace-only docs shift every idf
    nd = F.broadcast(docs.agg(F.count("*").cast("double").alias("_nd")))
    w = (
        tc.join(F.broadcast(df_t), "tok")
        .crossJoin(nd)
        .select(
            "doc_id", "tok",
            (
                (F.col("c").cast("double") / F.col("s"))
                * F.log((1.0 + F.col("_nd")) / (1.0 + F.col("df")))
            ).alias("tfidf"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        w.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= 3)
        .select("doc_id", F.col("tok").alias("term"),
                F.round("tfidf", 6).alias("tfidf"), "rank")
    )


# Per-user anomaly detection: value z-scores against each user's own
# history — the monitoring query of an event pipeline. One groupBy for the
# per-user moments (map-side partials), broadcast back onto the stream;
# population stddev stated explicitly so both engines agree bit-for-bit.

_ANOMALY_ORACLE = """
WITH s AS (
  SELECT user_id, avg(value) mu,
         sqrt(avg(value * value) - avg(value) * avg(value)) sigma,
         count(*) n
  FROM events GROUP BY user_id
),
z AS (
  SELECT e.event_id, e.user_id, e.value,
         (e.value - s.mu) / s.sigma AS zs
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE s.n >= 20 AND s.sigma > 0
)
SELECT event_id, user_id, round(value, 6) AS value, round(zs, 4) AS zscore
FROM z WHERE abs(zs) >= 3.0
"""


@_q(
    "events_anomaly",
    _ANOMALY_ORACLE,
    "per-user value anomalies: |z| >= 3 against the user's own history "
    "(population moments via one partial-agg'd groupBy, broadcast back "
    "onto the stream; users with < 20 events or zero variance excluded)",
)
def q_events_anomaly(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    s = e.groupBy("user_id").agg(
        F.avg("value").alias("mu"),
        F.sqrt(
            F.avg(F.col("value") * F.col("value"))
            - F.avg("value") * F.avg("value")
        ).alias("sigma"),
        F.count("*").alias("n"),
    )
    z = (
        e.join(F.broadcast(s), "user_id")
        .filter((F.col("n") >= 20) & (F.col("sigma") > 0))
        .select(
            "event_id", "user_id", "value",
            ((F.col("value") - F.col("mu")) / F.col("sigma")).alias("zs"),
        )
    )
    return z.filter(F.abs("zs") >= 3.0).select(
        "event_id", "user_id",
        F.round("value", 6).alias("value"),
        F.round("zs", 4).alias("zscore"),
    )


_RETENTION_ORACLE = """
WITH su AS (SELECT user_id, min(date_trunc('day', ts)) d0 FROM events
            WHERE event_type = 'signup' GROUP BY user_id),
act AS (SELECT DISTINCT e.user_id,
               CAST(date_diff('day', su.d0, date_trunc('day', e.ts)) // 7 AS INTEGER) wk
        FROM events e JOIN su ON e.user_id = su.user_id
        WHERE date_trunc('day', e.ts) >= su.d0)
SELECT wk AS week, CAST(count(*) AS BIGINT) AS n_active,
       round(CAST(count(*) AS DOUBLE)
             / (SELECT count(*) FROM su), 6) AS retention
FROM act GROUP BY wk
"""


@_q(
    "events_retention",
    _RETENTION_ORACLE,
    "cohort retention: per user, weeks-since-signup with any activity; "
    "week-0-normalized retention curve (two aggregations, signup table "
    "broadcast back onto the event stream)",
)
def q_events_retention(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type",
        (epoch_us("ts") - (epoch_us("ts") % 86_400_000_000)).alias("day_us"),
    )
    su = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("day_us").alias("d0"))
    )
    n_signup = su.count()
    act = (
        e.join(F.broadcast(su), "user_id")
        .filter(F.col("day_us") >= F.col("d0"))
        .select(
            "user_id",
            ((F.col("day_us") - F.col("d0")) / 86_400_000_000 / 7)
            .cast("int").alias("week"),
        )
        .distinct()
    )
    return act.groupBy("week").agg(
        F.count("*").alias("n_active"),
        F.round(F.count("*") / F.lit(float(n_signup)), 6).alias("retention"),
    )


_MOVAVG_ORACLE = """
WITH h AS (SELECT event_type, date_trunc('hour', ts) hr, count(*) n
           FROM events GROUP BY 1, 2)
SELECT event_type, strftime(hr, '%Y-%m-%d %H') AS hour,
       CAST(n AS BIGINT) AS n_events,
       round(avg(CAST(n AS DOUBLE)) OVER (
         PARTITION BY event_type ORDER BY hr
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS ma7
FROM h
"""


@_q(
    "events_moving_avg",
    _MOVAVG_ORACLE,
    "7-hour moving average of hourly event counts per type (sliding window "
    "FRAME — rows between 6 preceding and current — over a pre-aggregated "
    "series: the frame walks per-type hourly rows, never raw events)",
)
def q_events_moving_avg(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").alias("n_events"))
    win = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(-6, Window.currentRow)
    )
    return h.select(
        "event_type",
        F.date_format("hr", "yyyy-MM-dd HH").alias("hour"),
        F.col("n_events").cast("long").alias("n_events"),
        F.round(F.avg(F.col("n_events").cast("double")).over(win), 6).alias("ma7"),
    )


# Frozen quality-classifier weights, exported once by
# operators.quality_ml.train_feature_lr (L2-regularized LR over the
# interpretable feature vector, Gopher composite as weak labels). Serving
# with frozen literals is the production deployment shape — training stays
# an offline job (train_quality_classifier / train_feature_lr, both
# pytest-covered); scoring is one codegen expression the oracle replays.
QUALITY_LR_INTERCEPT = 2.5106960825381015
QUALITY_LR_WEIGHTS = (
    0.45770167958350805,   # ln(1 + n_tokens)
    -0.05721580838177811,  # avg_token_len
    0.0,                   # punct_ratio
    4.52603331590116,      # stopword_ratio
)

_QUALITY_ML_ORACLE = f"""
WITH d AS (SELECT doc_id, text, {SQL_TOKS.format(s='text')} t FROM documents),
f AS (
  SELECT doc_id,
         ln(1.0 + len(t)) f1,
         CASE WHEN len(t) = 0 THEN 0.0
              ELSE CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE) / len(t) END f2,
         CASE WHEN len(text) = 0 THEN 0.0
              ELSE CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) / len(text) END f3,
         CASE WHEN len(t) = 0 THEN 0.0
              ELSE CAST(len(list_filter(t, x -> list_contains(
                     ['the','a','an','and','or','of','to','in','is','it'], lower(x)))) AS DOUBLE)
                   / len(t) END f4
  FROM d
),
s AS (
  SELECT doc_id,
         1.0 / (1.0 + exp(-({QUALITY_LR_INTERCEPT}
                            + {QUALITY_LR_WEIGHTS[0]} * f1
                            + {QUALITY_LR_WEIGHTS[1]} * f2
                            + {QUALITY_LR_WEIGHTS[2]} * f3
                            + {QUALITY_LR_WEIGHTS[3]} * f4))) q
  FROM f
)
SELECT doc_id, round(q, 4) AS ml_quality,
       CAST(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END AS INTEGER) AS ml_pass
FROM s
"""


@_q(
    "quality_ml",
    _QUALITY_ML_ORACLE,
    "learned quality classifier (CCNet/fastText-style curation leg), "
    "frozen-weights serving: sigmoid(b + w · [ln(1+n_tokens), "
    "avg_token_len, punct_ratio, stopword_ratio]) with weights exported "
    "from one offline LR run — scoring is pure whole-stage codegen and "
    "the oracle replays the dot+sigmoid exactly",
)
def q_quality_ml(spark, sf_dir):
    from victor_spark.operators.quality_ml import score_linear

    d = fan_out(load_table(spark, sf_dir, "documents"))
    out = score_linear(d.select("doc_id", "text"), "text",
                       QUALITY_LR_INTERCEPT, list(QUALITY_LR_WEIGHTS))
    return out.select(
        "doc_id",
        F.round("ml_quality", 4).alias("ml_quality"),
        (F.col("ml_quality") >= 0.5).cast("int").alias("ml_pass"),
    )


def _bpe_apply_merge(syms: list[str], left: str, right: str) -> list[str]:
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and (syms[i], syms[i + 1]) == (left, right):
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


import functools


@functools.lru_cache(maxsize=8)
def _expected_bpe_merges(sf_dir: str,
                         num_merges: int = 20) -> list[tuple[int, str, str, str, int]]:
    """Independent replay of BPE training: word counts via DuckDB SQL (not
    Spark), then the deterministic (max count, lexicographically-smallest)
    merge recurrence in plain Python. Pure function of the data — dynamic
    oracles recompute it at gate time so regenerated testdata stays
    covered; memoized per sf_dir because both the train and encode oracles
    need it in the same oracle_sql() sweep."""
    import os
    from collections import Counter

    import duckdb

    con = duckdb.connect()
    wc = con.execute(
        "SELECT word, CAST(count(*) AS BIGINT) FROM ("
        "  SELECT unnest(list_filter(string_split(lower(text), ' '),"
        "                            t -> t <> '')) AS word"
        f"  FROM read_parquet('{os.path.join(sf_dir, 'documents.parquet')}')"
        ") GROUP BY word"
    ).fetchall()
    con.close()
    vocab = [(list(word), int(n)) for word, n in wc]
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, num_merges + 1):
        pair_counts: Counter = Counter()
        for syms, n in vocab:
            for pair in zip(syms, syms[1:]):
                pair_counts[pair] += n
        if not pair_counts:
            break
        top = max(pair_counts.values())
        left, right = min(p for p, v in pair_counts.items() if v == top)
        merges.append((rank, left, right, left + right, top))
        vocab = [(_bpe_apply_merge(syms, left, right), n) for syms, n in vocab]
    return merges


def _bpe_train_oracle(sf_dir: str) -> str:
    """Dynamic oracle: state the independently recomputed merge table as a
    VALUES literal."""
    merges = _expected_bpe_merges(sf_dir)

    cols = '"rank", "left", "right", merged, pair_count'
    if not merges:
        return (
            f"SELECT CAST(NULL AS INTEGER) \"rank\", '' \"left\", '' \"right\","
            " '' merged, CAST(NULL AS BIGINT) pair_count WHERE false"
        )

    def esc(s: str) -> str:
        return s.replace("'", "''")

    values = ", ".join(
        f"({r}, '{esc(a)}', '{esc(b)}', '{esc(m)}', {n})"
        for r, a, b, m, n in merges
    )
    return (
        f'SELECT CAST("rank" AS INTEGER) AS "rank", "left", "right", merged, '
        f"CAST(pair_count AS BIGINT) AS pair_count "
        f"FROM (VALUES {values}) AS t({cols})"
    )


@_q(
    "bpe_train",
    _bpe_train_oracle,
    "BPE vocabulary training (Sennrich 2016): ONE distributed word-count "
    "shuffle, then 20 deterministic merge rounds over the collected "
    "vocabulary (the industrial trainer shape — merges are O(vocab), the "
    "corpus is touched exactly once); returns the merge table in rank "
    "order, checked against an independent DuckDB-word-count + Python "
    "replay of the merge recurrence",
)
def q_bpe_train(spark, sf_dir):
    from victor_spark.operators.bpe import train_bpe_merges

    d = fan_out(load_table(spark, sf_dir, "documents"))
    return train_bpe_merges(d, "text", num_merges=20)


def _bpe_encode_oracle(sf_dir: str) -> str:
    """Dynamic oracle for the ENCODE leg: train the merges independently
    (same recurrence as _bpe_train_oracle), apply them to every 25th doc
    in plain Python, and state the per-doc BPE token counts as VALUES."""
    import os

    import duckdb

    merge_pairs = [(a, b) for _r, a, b, _m, _n in _expected_bpe_merges(sf_dir)]
    con = duckdb.connect()
    docs = con.execute(
        "SELECT doc_id, text FROM "
        f"read_parquet('{os.path.join(sf_dir, 'documents.parquet')}') "
        "WHERE doc_id % 25 = 0"
    ).fetchall()
    con.close()

    def encode_word(word: str) -> list[str]:
        syms = list(word)
        for left, right in merge_pairs:
            syms = _bpe_apply_merge(syms, left, right)
        return syms

    rows = []
    for doc_id, text in docs:
        n = sum(len(encode_word(w))
                for w in (text or "").lower().split(" ") if w)
        rows.append((int(doc_id), n))
    if not rows:
        return ("SELECT CAST(NULL AS BIGINT) doc_id, "
                "CAST(NULL AS BIGINT) n_bpe_tokens WHERE false")
    values = ", ".join(f"({d}, {n})" for d, n in rows)
    return (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        "CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens "
        f"FROM (VALUES {values}) AS t(doc_id, n_bpe_tokens)"
    )


@_q(
    "bpe_encode",
    _bpe_encode_oracle,
    "BPE ENCODE leg: segment every 25th doc with the 20 trained merges "
    "(greedy rank-order application, Arrow-batched mapInPandas) and count "
    "the resulting subword tokens — the tokenizer-serving path a training "
    "pipeline ships; checked against an independent Python replay of "
    "train + encode",
)
def q_bpe_encode(spark, sf_dir):
    from victor_spark.operators.bpe import bpe_token_count, train_bpe_merges

    d = fan_out(load_table(spark, sf_dir, "documents"))
    merges = [
        (r["left"], r["right"])
        for r in train_bpe_merges(d, "text", num_merges=20)
        .orderBy("rank").collect()
    ]
    subset = d.filter(F.col("doc_id") % 25 == 0).select("doc_id", "text")
    # count-only farm: same segmentation, no token array shipped back
    # (round-11 optimization, guide §4.1)
    return bpe_token_count(subset, "text", merges, out_col="n_bpe_tokens")


# Gopher-style repetition/quality signals (Rae et al. 2021 §A1.1): unlike
# text_stats' per-row expressions, the fraction-of-top-token and duplicate
# 2-gram signals need per-(doc, term) counts — two explode+groupBy passes
# re-joined on doc_id. Each pass is a partial-agg'd shuffle on a composite
# key that includes doc_id, so at 100 TB the load is spread across the full
# corpus key space (no hot keys), and the final join is doc_id-aligned.

_QUALITY_GOPHER_ORACLE = f"""
WITH d AS (SELECT doc_id, {SQL_TOKS.format(s='lower(text)')} t FROM documents),
tok AS (SELECT doc_id, unnest(t) tok FROM d),
tc AS (SELECT doc_id, tok, count(*) c FROM tok GROUP BY 1, 2),
ts AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) n_tokens, CAST(count(*) AS BIGINT) n_unique,
         CAST(max(c) AS BIGINT) top_c, CAST(sum(c * len(tok)) AS BIGINT) sum_len
  FROM tc GROUP BY 1
),
g AS (
  SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> concat(t[i], ' ', t[i+1]))) g2
  FROM d WHERE len(t) >= 2
),
gc AS (SELECT doc_id, g2, count(*) c FROM g GROUP BY 1, 2),
gs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) total2, CAST(count(*) AS BIGINT) uniq2
       FROM gc GROUP BY 1),
j AS (
  SELECT d.doc_id,
         coalesce(ts.n_tokens, 0) n_tokens,
         CASE WHEN coalesce(ts.n_tokens, 0) = 0 THEN 0.0
              ELSE CAST(ts.n_unique AS DOUBLE) / ts.n_tokens END frac_unique,
         CASE WHEN coalesce(ts.n_tokens, 0) = 0 THEN 0.0
              ELSE CAST(ts.top_c AS DOUBLE) / ts.n_tokens END top_token_frac,
         CASE WHEN coalesce(ts.n_tokens, 0) = 0 THEN 0.0
              ELSE CAST(ts.sum_len AS DOUBLE) / ts.n_tokens END mean_word_len,
         CASE WHEN coalesce(gs.total2, 0) = 0 THEN 0.0
              ELSE CAST(gs.total2 - gs.uniq2 AS DOUBLE) / gs.total2 END dup_2gram_frac
  FROM d LEFT JOIN ts ON d.doc_id = ts.doc_id LEFT JOIN gs ON d.doc_id = gs.doc_id
)
SELECT doc_id, n_tokens,
       round(frac_unique, 6) AS frac_unique,
       round(top_token_frac, 6) AS top_token_frac,
       round(mean_word_len, 6) AS mean_word_len,
       round(dup_2gram_frac, 6) AS dup_2gram_frac,
       CAST(CASE WHEN n_tokens >= 10 AND n_tokens <= 100000
                  AND mean_word_len >= 2.0 AND mean_word_len <= 10.0
                  AND frac_unique >= 0.1 AND top_token_frac <= 0.2
                  AND dup_2gram_frac <= 0.6
             THEN 1 ELSE 0 END AS INTEGER) AS quality_pass
FROM j
"""


@_q(
    "quality_gopher",
    _QUALITY_GOPHER_ORACLE,
    "Gopher-style repetition & quality signals per doc: unique-token and "
    "top-token fractions, duplicate-2-gram mass, mean word length, and the "
    "composite pass flag (pretraining-corpus filter rules as a query)",
)
def q_quality_gopher(spark, sf_dir):
    # Round-11 optimization: every Gopher signal is a statistic of ONE
    # document's own token array, so the whole query is a row-local
    # projection — the previous two explode + double-groupBy pipelines
    # re-joined on doc_id (5 exchanges) moved only intra-row data
    # between partitions. Per-token counts come from a sorted-run fold
    # (array_sort + one aggregate), all-integer until the final
    # divisions, so the values are bit-identical to the grouped form
    # and the unchanged oracle. Zero shuffles beyond fan_out → at
    # 100 TB this is a pure map over the corpus.
    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", T.tokens("lower(text)").alias("t")
    )
    t = F.col("t")
    # NULL text → NULL token array; the oracle's grouped form yields 0
    # (no exploded rows → coalesce), so mirror it here
    n_tok = F.coalesce(F.size(t), F.lit(0)).cast("long")
    sum_len = F.aggregate(
        t, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    # longest run over the sorted tokens == max per-token count
    # (tokens are never '' — T.tokens filters empties — so the ''
    # init sentinel cannot collide with a real first token)
    def _max_run(arr):
        run = lambda acc, x: F.when(x == acc.prev, acc.run + 1).otherwise(
            F.lit(1)
        )
        return F.aggregate(
            F.array_sort(arr),
            F.struct(
                F.lit("").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                run(acc, x).alias("run"),
                F.greatest(acc.best, run(acc, x)).alias("best"),
            ),
            lambda acc: acc.best,
        )

    top_c = _max_run(t).cast("long")
    n_unique = F.size(F.array_distinct(t)).cast("long")
    pairs = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(t, i), F.element_at(t, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    total2 = F.size(pairs).cast("long")
    uniq2 = F.size(F.array_distinct(pairs)).cast("long")
    frac_unique = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        n_unique.cast("double") / n_tok
    )
    top_frac = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        top_c.cast("double") / n_tok
    )
    mwl = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        sum_len.cast("double") / n_tok
    )
    dup2 = F.when(total2 == 0, F.lit(0.0)).otherwise(
        (total2 - uniq2).cast("double") / total2
    )
    j = d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        frac_unique.alias("_fu"),
        top_frac.alias("_tf"),
        mwl.alias("_mwl"),
        dup2.alias("_d2"),
    )
    passes = (
        (F.col("n_tokens") >= 10)
        & (F.col("n_tokens") <= 100000)
        & (F.col("_mwl") >= 2.0)
        & (F.col("_mwl") <= 10.0)
        & (F.col("_fu") >= 0.1)
        & (F.col("_tf") <= 0.2)
        & (F.col("_d2") <= 0.6)
    )
    return j.select(
        "doc_id",
        "n_tokens",
        F.round("_fu", 6).alias("frac_unique"),
        F.round("_tf", 6).alias("top_token_frac"),
        F.round("_mwl", 6).alias("mean_word_len"),
        F.round("_d2", 6).alias("dup_2gram_frac"),
        F.when(passes, 1).otherwise(0).cast("int").alias("quality_pass"),
    )


# Cross-document duplicated-span signal (RefinedWeb/CCNet-style "exact
# substring dedup" audit): fraction of a doc's distinct word 8-grams that
# also occur in at least one other document. The per-shingle doc count is
# one shuffle on the 32-bit shingle hash (ints, uniformly distributed — no
# skew); the join back is shingle-aligned; at 100 TB this is the same
# dataflow as suffix-array dedup's candidate stage, minus the driver-side
# suffix sort that wouldn't distribute.

_DUP_SPAN_ORACLE = f"""
WITH d AS (SELECT doc_id, {SQL_TOKS.format(s='text')} t FROM documents),
sh AS (SELECT doc_id, unnest({sql_word_ngrams('t', 8)}) g FROM d),
hd AS (SELECT DISTINCT doc_id, {SQL_H32.format(x='g')} h FROM sh),
c AS (SELECT h, count(DISTINCT doc_id) nd FROM hd GROUP BY h)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       round(CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         AS dup_frac
FROM hd JOIN c USING (h) GROUP BY doc_id
"""


@_q(
    "dup_span_frac",
    _DUP_SPAN_ORACLE,
    "cross-doc duplicated-span audit: per doc, the fraction of its distinct "
    "word 8-grams shared with any other document (exact-substring-dedup "
    "candidate signal, computed corpus-wide in two hash-keyed shuffles)",
)
def q_dup_span_frac(spark, sf_dir):
    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", H.shingle_hashes("text", 8, unit="word").alias("hs")
    )
    ex = d.select("doc_id", F.explode("hs").alias("h"))
    # (doc_id, h) is distinct (shingle_hashes dedupes per doc), so the
    # per-shingle doc count is just the group size — gather each shingle's
    # doc list in ONE hash aggregation and fan it back out, instead of a
    # groupBy + self-join that re-shuffles the exploded table (and, worse,
    # re-computes the md5 shingling twice). Two shuffles total (h, doc_id),
    # no join, no sort; per-key doc lists are tiny (nd docs).
    per_h = ex.groupBy("h").agg(F.collect_list("doc_id").alias("docs"))
    fanned = per_h.select(
        F.size("docs").alias("nd"), F.explode("docs").alias("doc_id")
    )
    shared = F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
    return fanned.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        shared.alias("n_shared"),
        F.round(shared.cast("double") / F.count("*"), 6).alias("dup_frac"),
    )


# Sequence packing: the GPT-style concat-then-chunk layout. A single global
# running sum would serialize the corpus through one window task, so docs
# are salted-hashed into independent bucket streams that pack in parallel
# (operators/packing.py); (bucket, pack_id) is the training shard key.

_PACK_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         CAST(len({SQL_TOKS.format(s="text")}) AS INTEGER) n_tok,
         {SQL_H32.format(x="concat('pack:', CAST(doc_id AS VARCHAR))")} h
  FROM documents
),
w AS (
  SELECT doc_id, n_tok, CAST(h % 8 AS INTEGER) bucket,
         sum(n_tok) OVER (PARTITION BY h % 8 ORDER BY h, doc_id
                          ROWS UNBOUNDED PRECEDING) cum
  FROM d
)
SELECT doc_id, n_tok, bucket,
       CAST(cum - n_tok AS BIGINT) AS start_off,
       CAST((cum - n_tok) // 512 AS BIGINT) AS pack_id
FROM w
"""


@_q(
    "pack_sequences",
    _PACK_ORACLE,
    "LLM training sequence packing: concat-then-chunk assignment of every "
    "doc to (bucket, pack_id, start_off) at seq_len=512 over 8 parallel "
    "bucket streams — deterministic on any cluster size",
)
def q_pack_sequences(spark, sf_dir):
    from victor_spark.operators.packing import pack_sequences

    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", T.token_count("text").alias("n_tok")
    )
    out = pack_sequences(d, "doc_id", "n_tok", seq_len=512, n_buckets=8)
    return out.select("doc_id", "n_tok", "bucket", "start_off", "pack_id")


# ===========================================================================
# extensions: relational / events (engine generality; streaming-shaped aggs)
# ===========================================================================


@_q(
    "events_hourly",
    """
SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(24,8))) AS DOUBLE), 4) AS sum_value
FROM events GROUP BY 1, 2
""",
    "hourly windowed aggregation over the event stream table (the batch twin "
    "of the Structured Streaming ingest in streaming/)",
)
def q_events_hourly(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias("hour"),
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(24,8)")).cast("double"), 4).alias("sum_value"),
    )


@_q(
    "events_topn_per_user",
    """
WITH r AS (
  SELECT user_id, event_id, value,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS INTEGER) rank
  FROM events
)
SELECT user_id, event_id, CAST(rank AS INTEGER) AS rank, round(value, 6) AS value
FROM r WHERE rank <= 3
""",
    "per-user top-3 events by value (ranking window)",
)
def q_events_topn(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        e.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("user_id", "event_id", "rank", F.round("value", 6).alias("value"))
    )


_SESSION_ORACLE = """
WITH o AS (
  SELECT user_id, event_id, epoch_us(ts) tus,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) prev
  FROM events
),
flagged AS (
  SELECT user_id, event_id, tus,
         CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END new_s
  FROM o
),
sess AS (
  SELECT user_id, tus,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
                          ROWS UNBOUNDED PRECEDING) session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS INTEGER) AS session_id,
       count(*) AS n_events,
       CAST(min(tus) AS BIGINT) AS start_us,
       CAST(max(tus) AS BIGINT) AS end_us
FROM sess GROUP BY user_id, session_id
"""


@_q(
    "events_sessionize",
    _SESSION_ORACLE,
    "sessionization: per-user event-time sessions split on >30 min gaps "
    "(lag + running sum of boundaries; one shuffle on user_id shared by "
    "both windows and the final aggregate — the batch twin of "
    "session_window in streaming)",
)
def q_events_sessionize(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", epoch_us("ts").alias("tus")
    )
    w_order = Window.partitionBy("user_id").orderBy("tus", "event_id")
    flagged = e.withColumn(
        "new_s",
        F.when(
            F.lag("tus").over(w_order).isNull()
            | (F.col("tus") - F.lag("tus").over(w_order) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_s").over(w_order.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("tus").alias("start_us"),
        F.max("tus").alias("end_us"),
    )


_ASOF_ORACLE = """
WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')
SELECT c.event_id, c.user_id,
       epoch_us(c.ts) AS t_us,
       e.event_id AS err_event_id,
       epoch_us(c.ts) - epoch_us(e.ts) AS err_age_us
FROM c ASOF LEFT JOIN e ON c.user_id = e.user_id AND c.ts >= e.ts
"""


@_q(
    "events_asof_join",
    _ASOF_ORACLE,
    "as-of join: each click matched to the user's most recent error at or "
    "before it (union + last-ignorenulls window — one shuffle on user_id, "
    "no range-join explosion; operators/asof.py)",
)
def q_events_asof(spark, sf_dir):
    from victor_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    j = asof_join(clicks, errors, on=["user_id"], left_ts="ts", right_ts="ts", suffix="_err")
    return j.select(
        "event_id",
        "user_id",
        epoch_us("ts").alias("t_us"),
        F.col("event_id_err").alias("err_event_id"),
        (epoch_us("ts") - epoch_us("ts_err")).alias("err_age_us"),
    )


@_q(
    "events_json_props",
    """
SELECT event_type,
       count(*) AS n,
       round(sum(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE))
             / count(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k,
       round(max(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS max_k
FROM events GROUP BY 1
""",
    "semi-structured props column: JSON extraction + aggregate "
    "(try_cast to DOUBLE: one malformed props value must not kill a "
    "100 TB scan under ANSI, and int TRY_CAST semantics diverge between "
    "engines — DuckDB rounds '12.5', Spark nulls it; double is "
    "parity-exact)",
)
def q_events_json(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    # parse the JSON path ONCE in a projection below the aggregate —
    # three aggregate arguments each carrying their own
    # get_json_object would otherwise rely on codegen subexpression
    # elimination to avoid parsing the props string three times per row
    # (round-11 optimization, guide §1.2 "per-task work")
    k = F.get_json_object("props", "$.k").try_cast("double")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("k") / F.count("k"), 4).alias("avg_k"),
            F.round(F.max("k"), 4).alias("max_k"),
        )
    )


@_q(
    "events_rollup",
    """
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') AS day,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(24,8))) AS DOUBLE), 4) AS total_value
FROM events
GROUP BY ROLLUP (event_type, date_trunc('day', ts))
""",
    "hierarchical ROLLUP (type, day) → (type) → () in ONE aggregation pass "
    "— Spark expands the grouping sets map-side, so the cube costs one "
    "shuffle, not three scans; NULL group markers coalesced to 'ALL' on "
    "both engines",
)
def q_events_rollup(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "value",
        )
        .rollup("event_type", "day")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(24,8)")).cast("double"), 4).alias("total_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("day", F.lit("ALL")).alias("day"),
            "n_events",
            "total_value",
        )
    )


@_q(
    "events_cube",
    """
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(CAST(user_id % 4 AS VARCHAR), 'ALL') AS user_bucket,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(24,8))) AS DOUBLE), 4) AS total_value
FROM events
GROUP BY CUBE (event_type, user_id % 4)
""",
    "full CUBE over (type, user bucket): all four grouping sets in ONE "
    "aggregation pass (rollup's lattice-complete sibling); NULL markers "
    "coalesced to 'ALL' on both engines",
)
def q_events_cube(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            "event_type",
            (F.col("user_id") % 4).cast("string").alias("user_bucket"),
            "value",
        )
        .cube("event_type", "user_bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(24,8)")).cast("double"), 4).alias("total_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("user_bucket", F.lit("ALL")).alias("user_bucket"),
            "n_events",
            "total_value",
        )
    )


@_q(
    "events_first_last",
    """
SELECT event_type,
       CAST(arg_min(event_id, ts) AS BIGINT) AS first_event_id,
       round(arg_min(value, ts), 6) AS first_value,
       CAST(arg_max(event_id, ts) AS BIGINT) AS last_event_id,
       round(arg_max(value, ts), 6) AS last_value
FROM events GROUP BY event_type
""",
    "argmin/argmax aggregates: the first and last event per type in one "
    "aggregation pass (min_by/max_by — no sort, no window; ties impossible "
    "on the unique-microsecond ts)",
)
def q_events_first_last(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.min_by("event_id", "ts").cast("long").alias("first_event_id"),
        F.round(F.min_by("value", "ts"), 6).alias("first_value"),
        F.max_by("event_id", "ts").cast("long").alias("last_event_id"),
        F.round(F.max_by("value", "ts"), 6).alias("last_value"),
    )


@_q(
    "events_pivot",
    """
SELECT CAST(user_id % 4 AS VARCHAR) AS user_bucket,
       CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
       CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
       CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
       CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
FROM events GROUP BY 1
""",
    "pivot to wide form: per user-bucket event counts, one column per "
    "event type (explicit value list, so the plan is ONE aggregation pass "
    "— no second collect-distinct job and a fixed output schema)",
)
def q_events_pivot(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        e.select((F.col("user_id") % 4).cast("string").alias("user_bucket"),
                 "event_type")
        .groupBy("user_bucket")
        .pivot("event_type", types)
        .count()
    )
    return out.select(
        "user_bucket",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in types],
    )


@_q(
    "events_quantiles",
    """
SELECT event_type,
       count(*) AS n,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
""",
    "exact interpolated percentiles per group (Spark `percentile` == SQL "
    "percentile_cont semantics); at 100 TB the approx_percentile sketch is "
    "the drop-in scale path, this query pins the exact-path parity",
)
def q_events_quantiles(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.percentile("value", 0.5), 6).alias("p50"),
        F.round(F.percentile("value", 0.9), 6).alias("p90"),
        F.round(F.percentile("value", 0.99), 6).alias("p99"),
    )


@_q(
    "events_quantiles_approx",
    """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
FROM events GROUP BY event_type
""",
    "the 100 TB drop-in for events_quantiles AS A TESTED QUERY: "
    "percentile_approx (Greenwald-Khanna sketch, accuracy=1000) per "
    "group, then the sketch's rank-error CONTRACT is verified in-engine "
    "— each approx value's true rank fraction must sit within 2/accuracy "
    "of its target percentile, checked against exact rank counts from "
    "one broadcast-join pass (no per-group sort anywhere). The oracle "
    "pins n exactly and expects every bound to hold (TRUE); a sketch "
    "outside its contract hash-mismatches the gate",
)
def q_events_quantiles_approx(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    acc = 1000
    # theoretical rank error is n/accuracy; 2x headroom for merge
    # degradation across partial sketches
    eps = 2.0 / acc + 1e-12
    pcts = [0.5, 0.9, 0.99]
    ap = e.groupBy("event_type").agg(
        F.percentile_approx(
            "value", F.array(*[F.lit(p) for p in pcts]), F.lit(acc)
        ).alias("aps"),
        F.count("*").alias("n"),
    )
    j = e.select("event_type", "value").join(F.broadcast(ap), "event_type")
    aggs = [F.first("n").alias("n")]
    for i in range(len(pcts)):
        av = F.element_at(F.col("aps"), i + 1)
        aggs.append(
            F.sum(F.when(F.col("value") < av, 1).otherwise(0)).alias(f"_lt{i}")
        )
        aggs.append(
            F.sum(F.when(F.col("value") <= av, 1).otherwise(0)).alias(f"_le{i}")
        )
    counts = j.groupBy("event_type").agg(*aggs)
    ok_cols = []
    for i, (p, name) in enumerate(zip(pcts, ["p50_ok", "p90_ok", "p99_ok"])):
        # count(<v)/n may only undershoot the target rank by eps and
        # count(<=v)/n may only overshoot it — the two-sided restatement
        # of |rank(approx) - p*n| <= eps*n that is duplicate-safe
        ok = (
            (F.col(f"_lt{i}") / F.col("n") <= F.lit(p + eps))
            & (F.col(f"_le{i}") / F.col("n") >= F.lit(p - eps))
        ).alias(name)
        ok_cols.append(ok)
    return counts.select(
        "event_type", F.col("n").cast("long").alias("n"), *ok_cols
    )


# Range join: match every event to the 15-minute incident windows opened by
# high-value error events. No equi-key exists, so the naive join is a
# nested-loop/cartesian; operators/ranges.py rewrites it as an equi-join on
# time bins (interval side exploded to <=2 bins) + residual containment
# filter — a plain shuffleable join at any scale.

_RANGE_JOIN_ORACLE = """
WITH inc AS (SELECT event_id AS incident_id, epoch_us(ts) s
             FROM events WHERE event_type = 'error' AND value > 150),
p AS (SELECT epoch_us(ts) t, value FROM events)
SELECT incident_id,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(24,8))) AS DOUBLE), 4) AS sum_value
FROM inc JOIN p ON p.t >= inc.s AND p.t < inc.s + 900000000
GROUP BY incident_id
"""


@_q(
    "events_range_join",
    _RANGE_JOIN_ORACLE,
    "point-in-interval range join via bin bucketing: events joined to the "
    "15-min windows after high-value errors (equi-join on time bin + "
    "residual filter; no nested-loop, no row explosion)",
)
def q_events_range_join(spark, sf_dir):
    from victor_spark.operators.ranges import range_join_binned

    e = load_table(spark, sf_dir, "events")
    win_us = 900_000_000  # 15 min
    inc = (
        e.filter((F.col("event_type") == "error") & (F.col("value") > 150))
        .select(
            F.col("event_id").alias("incident_id"),
            epoch_us("ts").alias("w_start"),
            (epoch_us("ts") + win_us).alias("w_end"),
        )
    )
    pts = e.select(epoch_us("ts").alias("t"), "value")
    joined = range_join_binned(pts, inc, "t", "w_start", "w_end", win_us)
    # exact decimal SUM, not sum/count: a divided average can land exactly
    # on a round() half-boundary, where Spark (HALF_UP on the shortest
    # decimal repr) and native engines (round of the true binary value)
    # legitimately disagree by 1 ulp — observed at sf0.1
    return joined.groupBy("incident_id").agg(
        F.count("*").alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(24,8)")).cast("double"), 4
        ).alias("sum_value"),
    )


_FUNNEL_ORACLE = """
WITH s1 AS (SELECT user_id, min(epoch_us(ts)) t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) t2 FROM events e
       JOIN s1 ON e.user_id = s1.user_id
       WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
       GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) t3 FROM events e
       JOIN s2 ON e.user_id = s2.user_id
       WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
       GROUP BY e.user_id),
u AS (SELECT DISTINCT user_id FROM events)
SELECT u.user_id, s1.t1, s2.t2, s3.t3,
       CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                 WHEN s2.t2 IS NOT NULL THEN 2
                 WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS stage
FROM u LEFT JOIN s1 ON u.user_id = s1.user_id
       LEFT JOIN s2 ON u.user_id = s2.user_id
       LEFT JOIN s3 ON u.user_id = s3.user_id
"""


@_q(
    "events_funnel",
    _FUNNEL_ORACLE,
    "ordered funnel (view -> click -> purchase, strict ordering): per-user "
    "step times + stage reached, via ONE shuffle and a per-user sorted-array "
    "fold (no per-step self-joins); the oracle replays it as chained "
    "min-after-previous-step joins",
)
def q_events_funnel(spark, sf_dir):
    from victor_spark.operators.funnel import funnel_times

    e = load_table(spark, sf_dir, "events").select(
        "user_id", epoch_us("ts").alias("tus"), "event_type"
    )
    return funnel_times(e, "user_id", "tus", "event_type",
                        ["view", "click", "purchase"])


_GAPFILL_ORACLE = """
WITH b AS (SELECT date_trunc('hour', min(ts)) h0, date_trunc('hour', max(ts)) h1
           FROM events),
spine AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) h FROM b),
tys AS (SELECT DISTINCT event_type FROM events),
c AS (SELECT event_type, date_trunc('hour', ts) h, count(*) n FROM events
      GROUP BY 1, 2)
SELECT tys.event_type, strftime(spine.h, '%Y-%m-%d %H') AS hour,
       CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
FROM spine CROSS JOIN tys
LEFT JOIN c ON c.event_type = tys.event_type AND c.h = spine.h
"""


@_q(
    "events_gapfill",
    _GAPFILL_ORACLE,
    "time-series gap fill: dense hourly spine (scalar min/max -> sequence "
    "explode, broadcast) x event types, zero-filled via left join — the "
    "timeseries-DB densify operator; spine build is O(hours), never a scan "
    "of the fact table per slot",
)
def q_events_gapfill(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    hour_us = 3_600_000_000
    hr = (epoch_us("ts") - (epoch_us("ts") % hour_us)).alias("h")
    counts = e.groupBy(F.col("event_type"), hr).agg(F.count("*").alias("n"))
    bounds = e.agg(
        F.min(epoch_us("ts") - (epoch_us("ts") % hour_us)).alias("h0"),
        F.max(epoch_us("ts") - (epoch_us("ts") % hour_us)).alias("h1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("h0", "h1", F.lit(hour_us))).alias("h")
    )
    tys = e.select("event_type").distinct()
    epoch0 = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    dense = F.broadcast(spine).crossJoin(F.broadcast(tys))
    return (
        dense.join(counts, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.date_format(
                F.timestamp_add("MICROSECOND", F.col("h"), epoch0), "yyyy-MM-dd HH"
            ).alias("hour"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        )
    )


@_q(
    "tpch_q1",
    """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(24,8))) AS DOUBLE), 4) AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(24,8))) AS DOUBLE), 4) AS sum_base_price,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE), 4) AS sum_disc_price,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(24,8))) AS DOUBLE), 4) AS sum_charge,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(24,8))) AS DOUBLE) / count(*), 6) AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(24,8))) AS DOUBLE) / count(*), 6) AS avg_price,
       round(CAST(sum(CAST(l_discount AS DECIMAL(24,8))) AS DOUBLE) / count(*), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    "TPC-H Q1 pricing summary: scan-filter-aggregate with map-side partials "
    "(filter pushed to parquet; verify PushedFilters in explain)",
)
def q_tpch_q1(spark, sf_dir):
    # q1 is a pure scan->aggregate: the exact-decimal partial aggregation is
    # the map-side cost, and the testdata's single-row-group file would run
    # it on one core. fan_out is a no-op on a properly split table.
    li = fan_out(load_table(spark, sf_dir, "lineitem"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("decimal(24,8)")).cast("double"), 4).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(24,8)")).cast("double"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price.cast("decimal(24,8)")).cast("double"), 4).alias("sum_disc_price"),
            F.round(F.sum(charge.cast("decimal(24,8)")).cast("double"), 4).alias("sum_charge"),
            F.round(F.sum(F.col("l_quantity").cast("decimal(24,8)")).cast("double") / F.count("*"), 6).alias("avg_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(24,8)")).cast("double") / F.count("*"), 6).alias("avg_price"),
            F.round(F.sum(F.col("l_discount").cast("decimal(24,8)")).cast("double") / F.count("*"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@_q(
    "tpch_q3",
    """
SELECT l.l_orderkey AS orderkey,
       round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,8))) AS DOUBLE), 4) AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate, o.o_orderpriority AS orderpriority
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, orderkey
LIMIT 10
""",
    "TPC-H Q3-style shipping priority: selective dim filter + two joins + "
    "top-10 (customer side broadcast)",
)
def q_tpch_q3(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.round(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(24,8)")).cast("double"), 4
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
        )
        .agg(revenue.alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
        .select("orderkey", "revenue", "orderdate", "orderpriority")
    )


@_q(
    "revenue_by_nation",
    """
SELECT n.n_name AS nation,
       round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,8))) AS DOUBLE), 4) AS revenue,
       count(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
    "multi-join star query: fact → orders → customer → nation, dims broadcast",
)
def q_revenue_by_nation(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(24,8)")).cast("double"), 4
            ).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


@_q(
    "tpch_q4",
    """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
""",
    "TPC-H Q4 order-priority checking, adapted to this schema (testdata "
    "lineitem has no commit/receipt dates, so the EXISTS probes returned "
    "lines instead): EXISTS → left-semi hash join, no row duplication",
)
def q_tpch_q4(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@_q(
    "tpch_q5",
    """
SELECT n.n_name AS nation,
       round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,8))) AS DOUBLE), 4) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
""",
    "TPC-H Q5 local-supplier volume: six-way join (fact spine + three "
    "broadcast dims) with the customer-nation = supplier-nation theta "
    "condition folded into the supplier join",
)
def q_tpch_q5(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # Round-11 optimization (guide §3.2, the q8/q7 precedent): the region
    # join only FILTERED (no projected columns, unique keys); the theta
    # condition c_nationkey = s_nationkey means every surviving row has
    # BOTH nation keys inside ASIA — so one broadcast semi against the
    # ASIA nation-key set, applied to customer BEFORE its custkey
    # exchange and to the supplier broadcast side, is lossless and drops
    # ~80% of customer rows before anything shuffles at scale.
    asia = n.join(
        F.broadcast(r), F.col("n_regionkey") == r.r_regionkey
    ).select(F.col("n_nationkey").alias("_asia_nk"))
    c = c.join(
        F.broadcast(asia), c.c_nationkey == F.col("_asia_nk"), "left_semi"
    )
    s = s.join(
        F.broadcast(asia), s.s_nationkey == F.col("_asia_nk"), "left_semi"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(24,8)")).cast("double"), 4
            ).alias("revenue")
        )
    )


@_q(
    "tpch_q6",
    """
SELECT round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(24,8))) AS DOUBLE), 4) AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.05 AND l_quantity < 24
""",
    "TPC-H Q6 forecast revenue: pure scan-filter-aggregate; every predicate "
    "pushes into the parquet reader (PushedFilters) and the aggregate is a "
    "single map-side partial — the cheapest possible shape at 100 TB",
)
def q_tpch_q6(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.05)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(24,8)")).cast("double"), 4
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@_q(
    "tpch_q10",
    """
SELECT c.c_custkey AS custkey, c.c_name AS name, n.n_name AS nation,
       round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,8))) AS DOUBLE), 4) AS revenue,
       round(c.c_acctbal, 4) AS acctbal
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-07-01' AND o.o_orderdate < TIMESTAMP '1996-10-01'
GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
ORDER BY revenue DESC, custkey
LIMIT 20
""",
    "TPC-H Q10 returned-item reporting: selective fact filter, customer "
    "rollup, top-20 by lost revenue (TakeOrderedAndProject over the agg)",
)
def q_tpch_q10(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("n_name").alias("nation"),
            F.round("c_acctbal", 4).alias("acctbal"),
        )
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(24,8)")).cast("double"), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("custkey"))
        .limit(20)
        .select("custkey", "name", "nation", "revenue", "acctbal")
    )


@_q(
    "tpch_q14",
    """
SELECT round(CAST(100.0 * sum(CAST(CASE WHEN p.p_type = 'PROMO'
                     THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END AS DECIMAL(24,8)))
         / sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,8))) AS DOUBLE), 6) AS promo_revenue_pct,
       count(*) AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-09-01' AND l.l_shipdate < TIMESTAMP '1996-10-01'
""",
    "TPC-H Q14 promotion effect: conditional aggregation over a fact-dim "
    "join (part broadcasts; the CASE folds into one map-side partial)",
)
def q_tpch_q14(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
    )
    p = load_table(spark, sf_dir, "part")
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(24,8)")
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0).cast("decimal(24,8)"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round((F.lit(100.0) * F.sum(promo) / F.sum(disc_price)).cast("double"), 6).alias("promo_revenue_pct"),
            F.count("*").alias("n_lines"),
        )
    )


@_q(
    "tpch_q18",
    """
WITH big AS (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
)
SELECT c.c_name AS name, c.c_custkey AS custkey, o.o_orderkey AS orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       round(o.o_totalprice, 4) AS totalprice,
       round(CAST(sum(CAST(l.l_quantity AS DECIMAL(24,8))) AS DOUBLE), 4) AS sum_qty
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY totalprice DESC, orderkey
LIMIT 100
""",
    "TPC-H Q18 large-volume customer: grouped HAVING subquery feeding a "
    "semi join back against the same fact (the aggregate runs once; the "
    "IN-list never leaves the executors)",
)
def q_tpch_q18(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 300)
        .select("l_orderkey")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        li.join(big.withColumnRenamed("l_orderkey", "bk"), li.l_orderkey == F.col("bk"), "left_semi")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_name").alias("name"),
            F.col("c_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 4).alias("totalprice"),
        )
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("decimal(24,8)")).cast("double"), 4).alias("sum_qty")
        )
        .orderBy(F.desc("totalprice"), F.asc("orderkey"))
        .limit(100)
        .select("name", "custkey", "orderkey", "orderdate", "totalprice", "sum_qty")
    )


@_q(
    "tpch_q2",
    """
WITH ps AS (SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey FROM lineitem),
cand AS (
  SELECT p.p_partkey, p.p_name, s.s_acctbal, s.s_name, s.s_suppkey, n.n_name,
         row_number() OVER (PARTITION BY p.p_partkey
                            ORDER BY s.s_acctbal DESC, s.s_suppkey) AS rn
  FROM part p
  JOIN ps ON ps.partkey = p.p_partkey
  JOIN supplier s ON s.s_suppkey = ps.suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE p.p_size = 15 AND p.p_type = 'LARGE' AND r.r_name = 'EUROPE'
)
SELECT round(s_acctbal, 4) AS acctbal, s_name AS supp_name, n_name AS nation,
       p_partkey AS partkey, p_name AS part_name
FROM cand WHERE rn = 1
ORDER BY acctbal DESC, partkey
LIMIT 100
""",
    "TPC-H Q2 minimum-cost supplier, adapted to this schema (no partsupp "
    "table, so the part↔supplier relation is derived from lineitem and the "
    "per-part argmin over ps_supplycost becomes an argmax over s_acctbal): "
    "distinct projection → dim joins → per-group top-1 window",
)
def q_tpch_q2(spark, sf_dir):
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "LARGE")
    )
    # Round-11 optimization (guide §2.3/§3.2 — the tpch_q16 move):
    # the selective part-dim filter runs as a broadcast SEMI join BEFORE
    # the distinct, so only matching (partkey, suppkey) pairs pay the
    # dedup exchange; p_partkey is unique, so filter-then-distinct ==
    # distinct-then-join.
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey"))
        .join(
            F.broadcast(p.select("p_partkey")),
            F.col("partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    w = Window.partitionBy("p_partkey").orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    return (
        ps.join(F.broadcast(p), ps.partkey == p.p_partkey)
        .join(F.broadcast(s), ps.suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.round("s_acctbal", 4).alias("acctbal"),
            F.col("s_name").alias("supp_name"),
            F.col("n_name").alias("nation"),
            F.col("p_partkey").alias("partkey"),
            F.col("p_name").alias("part_name"),
        )
        .orderBy(F.desc("acctbal"), F.asc("partkey"))
        .limit(100)
    )


@_q(
    "tpch_q7",
    """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
       round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,8))) AS DOUBLE), 4) AS revenue
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY supp_nation, cust_nation, l_year
""",
    "TPC-H Q7 volume shipping: nation self-join twice (both broadcast, "
    "pre-filtered to the two nations of interest so the disjunctive pair "
    "predicate prunes before the fact join), revenue by direction and year",
)
def q_tpch_q7(spark, sf_dir):
    nations = ("NATION_1", "NATION_2")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(*nations))
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    # Round-11 optimization (guide §3.2 — reduce the big side BEFORE
    # shuffling it): only lineitems supplied by the two nations of
    # interest can survive the final n1 join, so a broadcast SEMI join
    # against that supplier slice (2/25 of the supplier dim the plan
    # already broadcasts) drops ~92% of lineitem rows before the
    # orderkey exchange. Inner joins commute with this filter —
    # identical results. The slice is built from FRESH scans (own expr
    # ids) so the main chain's s/n1 references stay unambiguous.
    pre_s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    pre_n = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*nations))
        .select("n_nationkey")
    )
    li = li.join(
        F.broadcast(
            pre_s.join(
                F.broadcast(pre_n),
                pre_s.s_nationkey == pre_n.n_nationkey,
            ).select(F.col("s_suppkey").alias("_pre_suppkey"))
        ),
        li.l_suppkey == F.col("_pre_suppkey"),
        "left_semi",
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(24,8)")).cast("double"), 4
            ).alias("revenue")
        )
    )


@_q(
    "tpch_q8",
    """
WITH vol AS (
  SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
         CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,8)) AS volume,
         n1.n_name AS supp_nation
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n2.n_regionkey
  JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
  WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1998-01-01'
)
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume
                           ELSE CAST(0 AS DECIMAL(24,8)) END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
FROM vol GROUP BY o_year
""",
    "TPC-H Q8 national market share: eight-way join (five broadcast dims), "
    "conditional share of NATION_1 supplier volume per order-year",
)
def q_tpch_q8(spark, sf_dir):
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region"))
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    # Round-12 REVERT of the round-11 broadcast-semi customer pre-filter
    # (verdict item 5: probe the four weak-evidence keeps at 64x, revert
    # any loser). Two independent 64x-replica probes measured the
    # pre-filtered shape slightly SLOWER (min-of-3 2.80 vs 2.73; min-of-4
    # 2.85 vs 2.61) and never faster: the semi join only shrinks the
    # CUSTOMER side of the o ⋈ c exchange — the orders/lineitem side,
    # which dominates the shuffle bytes, is untouched — so the extra
    # broadcast probe buys nothing measurable at any scale tried. The n2/r
    # inner joins below are the original shape (both keys unique: pure
    # filters, no row duplication; results identical — asserted at sf0.01
    # before reverting).
    volume = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(24,8)")
    nation_one = F.when(F.col("supp_nation") == "NATION_1", volume).otherwise(
        F.lit(0).cast("decimal(24,8)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_region") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(nation_one).cast("double") / F.sum(volume).cast("double"), 6
            ).alias("mkt_share")
        )
    )


@_q(
    "tpch_q9",
    """
SELECT n.n_name AS nation, CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
       round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           - 0.08 * p.p_retailprice * l.l_quantity AS DECIMAL(24,8))) AS DOUBLE), 4) AS sum_profit
FROM part p
JOIN lineitem l ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%widget%'
GROUP BY nation, o_year
""",
    "TPC-H Q9 product-type profit, adapted to this schema (no partsupp, so "
    "supply cost is proxied as 8% of p_retailprice per unit): LIKE-filtered "
    "part broadcast, profit by supplier nation and order year",
)
def q_tpch_q9(spark, sf_dir):
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.08) * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(24,8)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(profit).cast("double"), 4).alias("sum_profit"))
    )


@_q(
    "tpch_q11",
    """
WITH value_by_part AS (
  SELECT n.n_name AS nation, l.l_partkey AS partkey,
         sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,8))) AS val
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  GROUP BY nation, partkey
)
SELECT nation, partkey, round(CAST(val AS DOUBLE), 4) AS value
FROM value_by_part
WHERE CAST(val AS DOUBLE) > (SELECT 0.001 * CAST(sum(val) AS DOUBLE) FROM value_by_part)
ORDER BY value DESC, nation, partkey
LIMIT 100
""",
    "TPC-H Q11 important stock, adapted to this schema (no partsupp, so "
    "'stock value' is shipped line value per supplier-nation × part): "
    "grouped aggregate filtered against its own global total via an "
    "unpartitioned window — one fact scan instead of the two a "
    "scalar-subquery formulation costs; the window's single-partition "
    "exchange moves only the aggregated (nation, part) rows, never the fact",
)
def q_tpch_q11(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    vbp = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(24,8)")).alias("val")
        )
    )
    # the 0.001 threshold is a scalar: compute it as a 1-row aggregate and
    # broadcast, never an empty-partition window (which would shuffle the
    # whole (nation, part) aggregate into a single task — the exact
    # anti-pattern pack_sequences' plan test forbids)
    #
    # Round-11 optimization: vbp feeds both the threshold scalar and the
    # final filter — the lazy checkpoint stops the join + groupBy
    # subtree from being derived twice (the semdedup/doremi reuse-
    # barrier precedent; the checkpointed table is the (nation, partkey)
    # aggregate, part-dimension-sized, never lineitem-sized).
    vbp = vbp.localCheckpoint(eager=False)
    total = vbp.agg(F.sum("val").cast("double").alias("_tot"))
    return (
        vbp.crossJoin(F.broadcast(total))
        .filter(F.col("val").cast("double") > F.lit(0.001) * F.col("_tot"))
        .select("nation", "partkey", F.round(F.col("val").cast("double"), 4).alias("value"))
        .orderBy(F.desc("value"), F.asc("nation"), F.asc("partkey"))
        .limit(100)
    )


@_q(
    "tpch_q12",
    """
SELECT CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'high' ELSE 'low' END AS priority_class,
       CAST(sum(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS BIGINT) AS late_lines,
       CAST(sum(CASE WHEN l.l_shipdate <= o.o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS BIGINT) AS ontime_lines
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01' AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY priority_class
""",
    "TPC-H Q12 shipping modes, adapted to this schema (no l_shipmode / "
    "commit / receipt dates, so 'late' is shipped >60 days after order "
    "date and grouping is by priority class): conditional counts over the "
    "orders-lineitem join",
)
def q_tpch_q12(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    deadline = F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    pclass = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high"
    ).otherwise("low")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(pclass.alias("priority_class"))
        .agg(
            F.sum(F.when(F.col("l_shipdate") > deadline, 1).otherwise(0)).cast("long").alias("late_lines"),
            F.sum(F.when(F.col("l_shipdate") <= deadline, 1).otherwise(0)).cast("long").alias("ontime_lines"),
        )
    )


@_q(
    "tpch_q13",
    """
WITH c_orders AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
)
SELECT c_count, count(*) AS custdist
FROM c_orders GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    "TPC-H Q13 customer order-count distribution: outer join preserved "
    "through a two-level aggregation (count of counts; zero-order "
    "customers survive via the left join)",
)
def q_tpch_q13(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    c_orders = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        c_orders.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@_q(
    "tpch_q15",
    """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS total
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey AS suppkey, s.s_name AS supp_name,
       round(CAST(r.total AS DOUBLE), 4) AS total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total = (SELECT max(total) FROM revenue)
ORDER BY suppkey
""",
    "TPC-H Q15 top supplier: quarterly revenue view, equality against its "
    "own broadcast max (decimal-exact so the tie semantics match the "
    "oracle bit-for-bit)",
)
def q_tpch_q15(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(24,8)")).alias("total")
    )
    mx = revenue.agg(F.max("total").alias("mx"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total") == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("supp_name"),
            F.round(F.col("total").cast("double"), 4).alias("total_revenue"),
        )
        .orderBy("suppkey")
    )


@_q(
    "tpch_q16",
    """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p.p_brand AS brand, p.p_type AS type, CAST(p.p_size AS BIGINT) AS size,
       count(DISTINCT ps.l_suppkey) AS supplier_cnt
FROM ps JOIN part p ON p.p_partkey = ps.l_partkey
WHERE p.p_brand <> 'Brand#5' AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
GROUP BY brand, type, size
ORDER BY supplier_cnt DESC, brand, type, size
LIMIT 100
""",
    "TPC-H Q16 parts/supplier relationship, adapted to this schema (no "
    "partsupp, relation derived from lineitem; no supplier complaints "
    "column to exclude): distinct-project → broadcast dim filter → "
    "count-distinct rollup",
)
def q_tpch_q16(spark, sf_dir):
    # Round-11 optimization (guide §2.3/§3.2 — reduce the big side
    # BEFORE shuffling it): the selective broadcast part-dim filter now
    # runs before any exchange, and the standalone distinct is folded
    # into countDistinct's own two-phase aggregate — the old plan
    # shuffled the FULL (l_partkey, l_suppkey) projection through a
    # corpus-wide distinct first and filtered after. Same result set:
    # part.p_partkey is unique, so join-then-dedup == dedup-then-join,
    # and count(DISTINCT l_suppkey) dedups (brand,type,size,suppkey)
    # itself.
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").cast("long").alias("size"),
        )
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "brand", "type", "size")
        .limit(100)
    )


@_q(
    "tpch_q17",
    """
WITH a AS (
  SELECT l_partkey, sum(CAST(l_quantity AS DECIMAL(24,8))) AS sq, count(*) AS cq
  FROM lineitem GROUP BY l_partkey
)
SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(24,8))) AS DOUBLE) / 7.0, 4) AS avg_yearly,
       count(*) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN a ON a.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#3' AND l.l_quantity < 0.5 * (CAST(a.sq AS DOUBLE) / a.cq)
""",
    "TPC-H Q17 small-quantity-order revenue: correlated per-part average "
    "quantity (decimal-exact so the < boundary matches the oracle) joined "
    "back against the same fact; threshold raised to 0.5×avg for this "
    "data's uniform quantities",
)
def q_tpch_q17(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    a = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.sum(F.col("l_quantity").cast("decimal(24,8)")).alias("sq"),
        F.count("*").alias("cq"),
    )
    threshold = F.lit(0.5) * (F.col("sq").cast("double") / F.col("cq"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(a, li.l_partkey == F.col("a_partkey"))
        .filter(F.col("l_quantity") < threshold)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(24,8)")).cast("double") / F.lit(7.0), 4
            ).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


@_q(
    "tpch_q19",
    """
SELECT round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,8))) AS DOUBLE), 4) AS revenue,
       count(*) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5  AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3'  AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 20 AND 30)
""",
    "TPC-H Q19 discounted revenue, adapted to this schema (no p_container "
    "/ l_shipmode legs, so the three disjunctive arms combine brand, size "
    "and quantity ranges): OR-of-ANDs predicate spanning both join sides",
)
def q_tpch_q19(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(arm("Brand#12", 5, 1, 11) | arm("Brand#23", 10, 10, 20) | arm("Brand#3", 15, 20, 30))
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(24,8)")).cast("double"), 4
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@_q(
    "tpch_q20",
    """
WITH red AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
shipped AS (
  SELECT l_suppkey, l_partkey, sum(CAST(l_quantity AS DECIMAL(24,8))) AS qty
  FROM lineitem JOIN red ON p_partkey = l_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey, l_partkey
),
part_tot AS (SELECT l_partkey, sum(qty) AS tot FROM shipped GROUP BY l_partkey),
heavy AS (
  SELECT DISTINCT s2.l_suppkey
  FROM shipped s2 JOIN part_tot t ON t.l_partkey = s2.l_partkey
  WHERE CAST(s2.qty AS DOUBLE) > 0.3 * CAST(t.tot AS DOUBLE)
)
SELECT s.s_name AS supp_name, n.n_name AS nation
FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE s.s_suppkey IN (SELECT l_suppkey FROM heavy)
ORDER BY supp_name
""",
    "TPC-H Q20 potential part promotion, adapted to this schema (no "
    "partsupp availability, so a supplier qualifies by shipping >30% of a "
    "red part's 1996 volume): two-level aggregate → threshold join → "
    "IN-subquery as a left-semi join into supplier",
)
def q_tpch_q20(spark, sf_dir):
    red = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    shipped = (
        li.join(F.broadcast(red), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(24,8)")).alias("qty"))
    )
    # Round-11 optimization (guide §2.4): the per-part total is a window
    # sum over `shipped` instead of a second groupBy + join back — the
    # old shape evaluated the whole lineitem ⋈ part aggregation subtree
    # TWICE (once per join side; the captured before-plan shows two
    # lineitem and two part scans) and paid the aggregate + join
    # exchanges on top. sum(qty) OVER (PARTITION BY l_partkey) is
    # exactly part_tot's sum (same decimal sum, order-independent), and
    # the old inner join matched every row (every shipped row has a
    # part_tot row), so the filter sees identical (qty, tot) pairs.
    heavy = (
        shipped.withColumn(
            "tot", F.sum("qty").over(Window.partitionBy("l_partkey"))
        )
        .filter(F.col("qty").cast("double") > F.lit(0.3) * F.col("tot").cast("double"))
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(heavy, s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(F.col("s_name").alias("supp_name"), F.col("n_name").alias("nation"))
        .orderBy("supp_name")
    )


@_q(
    "tpch_q21",
    """
WITH f AS (
  SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F'
),
per_order AS (
  SELECT l_orderkey, max(l_shipdate) AS max_ship, count(DISTINCT l_suppkey) AS n_supp
  FROM f GROUP BY l_orderkey
),
lastg AS (
  SELECT f.l_orderkey, min(f.l_suppkey) AS the_supp, count(DISTINCT f.l_suppkey) AS n_last
  FROM f JOIN per_order p ON p.l_orderkey = f.l_orderkey AND f.l_shipdate = p.max_ship
  WHERE p.n_supp > 1
  GROUP BY f.l_orderkey
)
SELECT s.s_name AS supp_name, count(*) AS numwait
FROM lastg JOIN supplier s ON s.s_suppkey = lastg.the_supp
WHERE lastg.n_last = 1
GROUP BY supp_name
ORDER BY numwait DESC, supp_name
LIMIT 100
""",
    "TPC-H Q21 suppliers who kept orders waiting, adapted to this schema "
    "(no receipt/commit dates, so the waiting supplier is the unique "
    "latest shipper in a multi-supplier finalized order): the EXISTS / "
    "NOT-EXISTS pair becomes two grouped aggregates over the same fact",
)
def q_tpch_q21(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    f = li.join(o, li.l_orderkey == F.col("o_orderkey"), "left_semi").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    per_order = f.groupBy(F.col("l_orderkey").alias("po_key")).agg(
        F.max("l_shipdate").alias("max_ship"),
        F.countDistinct("l_suppkey").alias("n_supp"),
    )
    # Round-11 optimization (guide §2.4 "two operations keyed the same
    # way can often share one exchange"): joining on the orderkey ALONE
    # and filtering the shipdate equality afterwards keeps the join
    # keyed exactly like per_order's groupBy (its exchange is reused)
    # and like the groupBy below (no re-shuffle); the old compound
    # equi-join key (orderkey, shipdate) forced a fresh exchange of
    # both sides and a third one for the final groupBy. Identical inner
    # join result — the dropped key is reapplied as a filter.
    lastg = (
        f.join(per_order, f.l_orderkey == F.col("po_key"))
        .filter(
            (F.col("l_shipdate") == F.col("max_ship")) & (F.col("n_supp") > 1)
        )
        .groupBy("l_orderkey")
        .agg(
            F.min("l_suppkey").alias("the_supp"),
            F.countDistinct("l_suppkey").alias("n_last"),
        )
        .filter(F.col("n_last") == 1)
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        lastg.join(F.broadcast(s), lastg.the_supp == s.s_suppkey)
        .groupBy(F.col("s_name").alias("supp_name"))
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "supp_name")
        .limit(100)
    )


@_q(
    "tpch_q22",
    """
WITH cust AS (
  SELECT c_custkey, c_acctbal, CAST(c_nationkey % 7 AS BIGINT) AS cntrycode
  FROM customer WHERE c_nationkey % 7 IN (0, 1, 2, 3)
),
ab AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(24,8))) AS DOUBLE) / count(*) AS ab
  FROM cust WHERE c_acctbal > 0.0
)
SELECT cntrycode, count(*) AS numcust,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(24,8))) AS DOUBLE), 4) AS totacctbal
FROM cust, ab
WHERE c_acctbal > ab
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = cust.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY cntrycode
ORDER BY cntrycode
""",
    "TPC-H Q22 global sales opportunity, adapted to this schema (no "
    "c_phone, country code derived from c_nationkey; 'never ordered' "
    "becomes 'lapsed: no order since 2000'): above-average balances via a "
    "broadcast scalar (decimal-exact mean), NOT EXISTS as a left-anti join",
)
def q_tpch_q22(spark, sf_dir):
    cust = (
        load_table(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            "c_acctbal",
            (F.col("c_nationkey") % 7).cast("long").alias("cntrycode"),
        )
        .filter(F.col("cntrycode").isin(0, 1, 2, 3))
    )
    ab = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(F.col("c_acctbal").cast("decimal(24,8)")).cast("double") / F.count("*")).alias("ab")
    )
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz")
    ).select("o_custkey")
    return (
        cust.join(recent, cust.c_custkey == F.col("o_custkey"), "left_anti")
        .crossJoin(F.broadcast(ab))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(24,8)")).cast("double"), 4).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# ===========================================================================
# extensions: training-pipeline curation — deterministic splits, sampling,
# benchmark contamination
# ===========================================================================

_SPLIT_BUCKET = SQL_H32.format(x="concat('split:', CAST(doc_id AS VARCHAR))") + " % 1000"
_SAMPLE_BUCKET = SQL_H32.format(x="concat('sample:', CAST(doc_id AS VARCHAR))") + " % 1000"


@_q(
    "hash_split",
    f"""
WITH b AS (SELECT doc_id, n_chars, {_SPLIT_BUCKET} AS bucket FROM documents)
SELECT CASE WHEN bucket < 800 THEN 'train' WHEN bucket < 900 THEN 'val' ELSE 'test' END AS split,
       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM b GROUP BY split
""",
    "deterministic 80/10/10 train/val/test assignment from a salted md5 of "
    "the doc id — reproducible across runs/engines/cluster sizes, no "
    "shuffle, no RNG state; audited here as per-split counts",
)
def q_hash_split(spark, sf_dir):
    from victor_spark.operators.sampling import hash_split

    d = hash_split(load_table(spark, sf_dir, "documents"), "doc_id")
    return d.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@_q(
    "stratified_sample",
    f"""
WITH s AS (SELECT lang, {_SAMPLE_BUCKET} AS bucket FROM documents)
SELECT lang, count(*) AS n_total,
       CAST(sum(CASE WHEN bucket < 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       round(CAST(sum(CASE WHEN bucket < 200 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS sample_rate
FROM s GROUP BY lang
""",
    "deterministic ~20% hash sample audited per language stratum: "
    "membership is a pure function of the doc id, so realized rates "
    "concentrate around the target within every stratum with zero "
    "per-stratum coordination",
)
def q_stratified_sample(spark, sf_dir):
    from victor_spark.operators.sampling import BUCKETS, sample_bucket

    d = load_table(spark, sf_dir, "documents")
    in_sample = sample_bucket("doc_id", "sample") < int(0.2 * BUCKETS)
    return d.groupBy("lang").agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(in_sample, 1).otherwise(0)).cast("long").alias("n_sampled"),
        F.round(
            F.sum(F.when(in_sample, 1).otherwise(0)).cast("double") / F.count("*"), 6
        ).alias("sample_rate"),
    )


@_q(
    "contamination_check",
    f"""
WITH toks AS (SELECT doc_id, {SQL_TOKS.format(s='text')} t FROM documents),
sh AS (SELECT doc_id, {SQL_WORD_SHINGLES.format(t='t')} shing FROM toks),
hs AS (SELECT doc_id,
              list_distinct(list_transform(shing, s -> {SQL_H32.format(x='s')})) h
       FROM sh),
bench AS (SELECT list_distinct(flatten(list(h))) bl FROM hs WHERE doc_id < 20)
SELECT doc_id, CAST(len(h) AS INTEGER) AS n_shingles,
       CAST(len(list_intersect(h, bl)) AS BIGINT) AS n_shared
FROM hs, bench
WHERE doc_id >= 20 AND len(list_intersect(h, bl)) >= 1
ORDER BY n_shared DESC, doc_id
LIMIT 20
""",
    "benchmark-contamination check: word-3-gram hash overlap between each "
    "corpus doc and a held-out benchmark set (docs 0-19) — benchmark "
    "shingle set collapses to one broadcast array, each corpus row "
    "intersects map-side (zero added shuffles), top-20 offenders by "
    "shared-shingle count",
)
def q_contamination(spark, sf_dir):
    from victor_spark.operators.contamination import ngram_overlap_small_bench

    d = fan_out(load_table(spark, sf_dir, "documents"))
    bench = d.filter(F.col("doc_id") < 20)
    cand = d.filter(F.col("doc_id") >= 20)
    return (
        ngram_overlap_small_bench(cand, bench, "doc_id", "text", shingle_n=3, unit="word")
        .orderBy(F.desc("n_shared"), F.asc("doc_id"))
        .limit(20)
    )


def _curation_oracle() -> str:
    selects, expr_lang, expr_score = _lang_sql_parts()
    stop = list(T.STOPWORDS)
    return f"""
WITH {_minhash_ctes("SELECT doc_id, text FROM documents")},
losers AS (SELECT DISTINCT id_b FROM ver WHERE jaccard >= 0.7),
kept AS (SELECT doc_id, text, n_chars FROM documents
         WHERE doc_id NOT IN (SELECT id_b FROM losers)),
t2 AS (SELECT doc_id, n_chars, text, {SQL_TOKS.format(s='text')} t FROM kept),
qm AS (SELECT doc_id, n_chars, t, text,
         CAST(len(t) AS INTEGER) n_tokens,
         CASE WHEN len(t) = 0 THEN 0.0
              ELSE CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE) / len(t) END atl,
         CASE WHEN len(text) = 0 THEN 0.0
              ELSE CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) / len(text) END pr,
         CASE WHEN len(t) = 0 THEN 0.0
              ELSE CAST(len(list_filter(t, x -> list_contains({stop!r}, lower(x)))) AS DOUBLE)
                   / len(t) END sr
       FROM t2),
qs AS (SELECT doc_id, n_chars, list_transform(t, x -> lower(x)) lt,
         (least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
          + (CASE WHEN atl >= 3.0 AND atl <= 10.0 THEN 1.0 ELSE 0.5 END)
          + (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.5 END)
          + least(sr * 10.0, 1.0)) / 4.0 AS quality
       FROM qm),
sc AS (SELECT doc_id, n_chars, quality, {selects} FROM qs),
lp AS (SELECT doc_id, n_chars, quality,
         (CASE WHEN {expr_score} > 0 THEN {expr_lang} ELSE 'und' END) AS pred_lang
       FROM sc),
sp AS (SELECT n_chars, pred_lang, {_SPLIT_BUCKET} AS bucket
       FROM lp WHERE quality >= 0.5 AND pred_lang <> 'und')
SELECT CASE WHEN bucket < 800 THEN 'train' WHEN bucket < 900 THEN 'val' ELSE 'test' END AS split,
       pred_lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM sp GROUP BY split, pred_lang
""".replace("'", "'")


@_q(
    "curation_pipeline",
    _curation_oracle(),
    "capstone composition — the full curation pass a training corpus gets, "
    "as ONE dataflow: MinHash-LSH dedup (drop the larger id of every "
    "verified near-dup pair) → quality-score filter (≥ 0.5) → language-ID "
    "filter (drop 'und') → deterministic train/val/test hash split → "
    "per-(split, lang) audit counts. Every stage is an existing catalog "
    "operator; the composed plan still scans documents once per branch, "
    "broadcasts only band buckets, and shuffles on band_key / split only",
)
def q_curation_pipeline(spark, sf_dir):
    from victor_spark.operators.dedup import minhash_near_duplicates
    from victor_spark.operators.sampling import split_label

    d = fan_out(load_table(spark, sf_dir, "documents"))
    pairs = minhash_near_duplicates(
        d, "doc_id", "text",
        threshold=0.7, num_hashes=MINHASH_NUM, bands=MINHASH_BANDS,
        shingle_n=3, unit="word",
    )
    losers = pairs.select(F.col("id_b").alias("rm")).distinct()
    kept = d.join(losers, d.doc_id == F.col("rm"), "left_anti")
    enriched = kept.select(
        "doc_id",
        "n_chars",
        T.quality_score("text").alias("quality"),
        T.lang_id("text").alias("pred_lang"),
        split_label("doc_id").alias("split"),
    )
    return (
        enriched.filter((F.col("quality") >= 0.5) & (F.col("pred_lang") != "und"))
        .groupBy("split", "pred_lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# ===========================================================================
# extensions: multimodal (binary columns) — SQL-checkable metadata pass +
# rows-only Arrow decode pass
# ===========================================================================


@_q(
    "multimodal_stats",
    """
WITH media AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS kind,
         encode(text) AS payload
  FROM documents
)
SELECT kind, count(*) AS n_media,
       CAST(sum(octet_length(payload)) AS BIGINT) AS total_bytes,
       round(CAST(sum(octet_length(payload)) AS DOUBLE) / count(*), 4) AS avg_bytes
FROM media GROUP BY kind
""",
    "multimodal metadata pass (no decode): per-kind byte stats over the "
    "binary payload column",
)
def q_multimodal_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
    )
    return media.groupBy("kind").agg(
        F.count("*").alias("n_media"),
        F.sum(F.octet_length("payload")).alias("total_bytes"),
        F.round(
            F.sum(F.octet_length("payload")).cast("double") / F.count("*"), 4
        ).alias("avg_bytes"),
    )


@_q(
    "multimodal_resize",
    """
WITH media AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS kind,
         encode(text) AS payload,
         length(text) % 1024 + 1 AS meta_width,
         length(text) % 768 + 1 AS meta_height
  FROM documents
)
SELECT media_id, kind,
       CASE WHEN kind = 'image' THEN 64 ELSE meta_width END AS meta_width,
       CASE WHEN kind = 'image' THEN 64 ELSE meta_height END AS meta_height,
       CASE WHEN kind = 'image' THEN 64
            ELSE octet_length(payload) END AS n_bytes,
       CASE WHEN kind = 'image'
            THEN md5(rpad(substring(hex(payload), 1, 128), 128, '00'))
            ELSE md5(hex(payload)) END AS payload_md5
FROM media
""",
    "Arrow-batched image resize (mapInPandas, stub kernel): images "
    "re-encoded at 64x64 (1 byte per 8x8 block -> 64-byte payload, "
    "truncate/zero-pad), non-image rows pass through untouched; the oracle "
    "replays the byte contract on the blob",
)
def q_multimodal_resize(spark, sf_dir):
    from victor_spark.operators.multimodal import resize_images

    d = fan_out(load_table(spark, sf_dir, "documents"))
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        (F.length("text") % 1024 + 1).cast("int").alias("meta_width"),
        (F.length("text") % 768 + 1).cast("int").alias("meta_height"),
        F.lit(16000).alias("meta_sample_rate"),
    )
    resized = resize_images(media, 64, 64)
    return resized.select(
        "media_id",
        "kind",
        F.col("meta_width").cast("long").alias("meta_width"),
        F.col("meta_height").cast("long").alias("meta_height"),
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.md5(F.hex("payload")).alias("payload_md5"),
    )


_MULTIMODAL_FEATURES_ORACLE = """
WITH m AS (SELECT doc_id AS media_id, 'image' AS kind, encode(text) AS b
           FROM documents),
s AS (SELECT media_id, kind, octet_length(b) AS n_bytes, hex(b) AS h FROM m)
SELECT media_id, kind, CAST(n_bytes AS BIGINT) AS n_bytes,
       CAST(coalesce(list_sum(list_transform(range(1, n_bytes + 1),
             i -> CAST(concat('0x', substr(h, (i-1)*2 + 1, 2)) AS BIGINT))), 0)
            % 2147483647 AS BIGINT) AS checksum
FROM s
"""


@_q(
    "multimodal_features",
    _MULTIMODAL_FEATURES_ORACLE,
    "Arrow-batched mapInPandas decode/feature-extraction over binary media "
    "columns (decoders are deterministic stubs; plumbing is real). The "
    "query's byte-contract columns (n_bytes, checksum = byte-sum mod "
    "2^31-1) are oracle-replayed via hex decomposition of the utf-8 "
    "payload; the stubbed feature vectors stay pytest-covered",
)
def q_multimodal_features(spark, sf_dir):
    from victor_spark.operators.multimodal import extract_features, synthesize_media

    d = fan_out(load_table(spark, sf_dir, "documents"))
    media = synthesize_media(d, "doc_id", "text", kind="image")
    return extract_features(media).select("media_id", "kind", "n_bytes", "checksum")


# -- REAL uncompressed-format decode (round-4 verdict task 2): the media
# payloads below are genuine binary-PPM images / RIFF-WAVE PCM16 files,
# and the queries' outputs are statistics of the DECODED pixels/samples.
# The oracle can replay them because the synthesized raster/sample bytes
# derive from md5(text) — 32 lowercase-hex ASCII chars in BOTH engines
# (both hash the UTF-8 bytes), so the derivation is total (empty or
# unicode documents included) and chars == bytes by construction. DuckDB
# recomputes pixel/sample values with ord()/substr() while Spark
# actually parses the containers with the pure-numpy codecs
# (multimodal.py _parse_ppm / _parse_wav). Compressed formats remain
# stubs behind the same seams.


@_q(
    "multimodal_ppm_decode",
    """
WITH m AS (
  SELECT doc_id AS media_id,
         repeat(md5(text), 6) AS s
  FROM documents
),
px AS (
  SELECT media_id,
         list_transform(range(0, 192), i -> ord(substr(s, CAST(i AS INT) + 1, 1))) AS b
  FROM m
)
SELECT media_id,
       CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
       round(list_sum(list_transform(range(0, 64), j -> b[CAST(j*3 AS INT) + 1])) / 64.0, 6) AS mean_r,
       round(list_sum(list_transform(range(0, 64), j -> b[CAST(j*3 AS INT) + 2])) / 64.0, 6) AS mean_g,
       round(list_sum(list_transform(range(0, 64), j -> b[CAST(j*3 AS INT) + 3])) / 64.0, 6) AS mean_b,
       CAST(list_min(b) AS BIGINT) AS min_px, CAST(list_max(b) AS BIGINT) AS max_px
FROM px
""",
    "REAL image decode: genuine binary-PPM (P6) payloads synthesized in "
    "pure SQL, parsed by the pure-numpy PPM codec in an Arrow-batched "
    "mapInPandas stage, per-channel pixel statistics out; the oracle "
    "replays the decoded pixel values from the md5-hex raster derivation",
)
def q_multimodal_ppm_decode(spark, sf_dir):
    from victor_spark.operators.multimodal import decode_image_stats, synthesize_ppm

    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.md5("text").alias("text")
    )
    media = synthesize_ppm(d, "doc_id", "text", width=8, height=8)
    s = decode_image_stats(media)
    return s.select(
        "media_id", "width", "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        "min_px", "max_px",
    )


@_q(
    "multimodal_wav_decode",
    """
WITH m AS (
  SELECT doc_id AS media_id,
         list_transform(range(0, 64),
           j -> (ord(substr(md5(text), CAST(j % 32 AS INT) + 1, 1)) - 80) * 128) AS smp
  FROM documents
)
SELECT media_id, CAST(16000 AS BIGINT) AS sample_rate, CAST(64 AS BIGINT) AS n_samples,
       round(list_sum(smp) / 64.0, 6) AS mean_amp,
       round(sqrt(list_sum(list_transform(smp, x -> CAST(x AS DOUBLE) * x)) / 64.0), 6) AS rms_amp,
       CAST(list_min(smp) AS BIGINT) AS min_amp, CAST(list_max(smp) AS BIGINT) AS max_amp
FROM m
""",
    "REAL audio decode: genuine RIFF/WAVE PCM16 payloads (canonical "
    "fmt+data container built with struct packing), parsed by the "
    "chunk-walking WAV codec, int16 sample statistics out; the oracle "
    "replays the sample values from the md5-hex derivation",
)
def q_multimodal_wav_decode(spark, sf_dir):
    from victor_spark.operators.multimodal import decode_audio_stats, synthesize_wav

    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.md5("text").alias("text")
    )
    media = synthesize_wav(d, "doc_id", "text", n_samples=64, sample_rate=16000)
    s = decode_audio_stats(media)
    return s.select(
        "media_id", "sample_rate", "n_samples",
        F.round("mean_amp", 6).alias("mean_amp"),
        F.round("rms_amp", 6).alias("rms_amp"),
        "min_amp", "max_amp",
    )


@_q(
    "multimodal_wav_mulaw_decode",
    """
WITH m AS (SELECT doc_id AS media_id, md5(text) AS s FROM documents),
mu AS (
  SELECT media_id,
    list_transform(range(0, 64),
      j -> 255 - (ord(substr(s, CAST(j % 32 AS INT) + 1, 1)) + 91 * j) % 256) AS u
  FROM m
),
lin AS (
  SELECT media_id,
    list_transform(u, x ->
      CASE WHEN x >= 128 THEN 132 - ((x % 16) * 8 + 132) * ([1,2,4,8,16,32,64,128])[CAST((x // 16) % 8 AS INT) + 1]
           ELSE ((x % 16) * 8 + 132) * ([1,2,4,8,16,32,64,128])[CAST((x // 16) % 8 AS INT) + 1] - 132 END) AS sv
  FROM mu
),
mono AS (
  SELECT media_id,
    list_transform(range(0, 32), k ->
      CAST(floor((sv[CAST(k * 2 AS INT) + 1] + sv[CAST(k * 2 AS INT) + 2]) / 2.0) AS BIGINT)) AS mv
  FROM lin
)
SELECT media_id, CAST(8000 AS BIGINT) AS sample_rate, CAST(32 AS BIGINT) AS n_samples,
       round(list_sum(mv) / 32.0, 6) AS mean_amp,
       round(sqrt(list_sum(list_transform(mv, x -> CAST(x AS DOUBLE) * x)) / 32.0), 6) AS rms_amp,
       CAST(list_min(mv) AS BIGINT) AS min_amp, CAST(list_max(mv) AS BIGINT) AS max_amp
FROM mono
""",
    "REAL telephony-codec decode: genuine G.711 mu-law STEREO containers "
    "(8-bit companded bytes sweeping both sign branches), expanded to "
    "linear int16 and downmixed (l+r)//2 by the WAV codec, sample "
    "statistics out; the oracle replays the full expansion — complement, "
    "exponent/mantissa split, +33 bias, sign — integer-exactly per byte, "
    "so a match proves the non-trivial compressed-audio path bit for bit",
)
def q_multimodal_wav_mulaw_decode(spark, sf_dir):
    from victor_spark.operators.multimodal import decode_audio_stats, synthesize_wav

    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.md5("text").alias("text")
    )
    media = synthesize_wav(
        d, "doc_id", "text", n_samples=64, sample_rate=8000,
        channels=2, bits=8, audio_format=7,
    )
    s = decode_audio_stats(media)
    return s.select(
        "media_id", "sample_rate", "n_samples",
        F.round("mean_amp", 6).alias("mean_amp"),
        F.round("rms_amp", 6).alias("rms_amp"),
        "min_amp", "max_amp",
    )


@_q(
    "multimodal_gif_decode",
    """
WITH m AS (SELECT doc_id AS media_id, md5(text) AS s FROM documents),
ix AS (
  SELECT media_id,
         list_transform(range(0, 64),
           j -> (ord(substr(s, CAST(j % 32 AS INT) + 1, 1)) + 91 * j) % 256) AS iv
  FROM m
),
px AS (
  SELECT media_id,
         list_transform(range(0, 192), i -> CASE CAST(i % 3 AS INT)
           WHEN 0 THEN iv[CAST(i // 3 AS INT) + 1]
           WHEN 1 THEN (2 * iv[CAST(i // 3 AS INT) + 1]) % 256
           ELSE (7 * iv[CAST(i // 3 AS INT) + 1]) % 256 END) AS b
  FROM ix
)
SELECT media_id,
       CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
       round(list_sum(list_transform(range(0, 64), j -> b[CAST(j*3 AS INT) + 1])) / 64.0, 6) AS mean_r,
       round(list_sum(list_transform(range(0, 64), j -> b[CAST(j*3 AS INT) + 2])) / 64.0, 6) AS mean_g,
       round(list_sum(list_transform(range(0, 64), j -> b[CAST(j*3 AS INT) + 3])) / 64.0, 6) AS mean_b,
       CAST(list_min(b) AS BIGINT) AS min_px, CAST(list_max(b) AS BIGINT) AS max_px
FROM px
""",
    "REAL LZW-compressed decode: genuine GIF89a containers (variable-"
    "width LZW codes, dictionary growth, 255-byte sub-blocks, 256-entry "
    "palette) decoded by the pure-stdlib GIF codec in the Arrow-batched "
    "farm; the oracle replays index derivation + palette lookup "
    "integer-exactly, so a match proves the LZW decompressor bit for "
    "bit — GIF is lossless over its palette, which is what makes a "
    "compressed format's pixels SQL-replayable at all",
)
def q_multimodal_gif_decode(spark, sf_dir):
    from victor_spark.operators.multimodal import decode_image_stats, synthesize_gif

    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.md5("text").alias("text")
    )
    media = synthesize_gif(d, "doc_id", "text", width=8, height=8)
    s = decode_image_stats(media)
    return s.select(
        "media_id", "width", "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        "min_px", "max_px",
    )


@_q(
    "multimodal_gif_frames",
    """
WITH m AS (SELECT doc_id AS media_id, md5(text) AS s FROM documents),
fr AS (
  SELECT media_id, f,
         list_transform(range(0, 16), j ->
           (ord(substr(s, CAST((f * 16 + j) % 32 AS INT) + 1, 1)) + 91 * (f * 16 + j)) % 256) AS iv
  FROM m, (VALUES (0), (2)) v(f)
)
SELECT media_id, CAST(f AS BIGINT) AS frame_idx, CAST(4 AS BIGINT) AS n_frames,
       md5(list_aggregate(list_transform(range(0, 48), i -> lpad(hex(
         CASE CAST(i % 3 AS INT)
           WHEN 0 THEN iv[CAST(i // 3 AS INT) + 1]
           WHEN 1 THEN (2 * iv[CAST(i // 3 AS INT) + 1]) % 256
           ELSE (7 * iv[CAST(i // 3 AS INT) + 1]) % 256 END), 2, '0')),
         'string_agg', '')) AS frame_md5
FROM fr
""",
    "REAL compressed-ANIMATION demux: 4-frame GIF89a containers (the "
    "classic compressed animation format) LZW-decoded by sample_frames, "
    "every 2nd frame's palette-resolved RGB raster becoming a row; the "
    "oracle reconstructs each sampled frame's exact bytes (md5 over the "
    "hex expansion) from the index/palette derivation — the video "
    "modality's first compressed container with a bit-exact oracle, "
    "next to uncompressed y4m",
)
def q_multimodal_gif_frames(spark, sf_dir):
    from victor_spark.operators.multimodal import sample_frames, synthesize_gif

    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.md5("text").alias("text")
    )
    media = synthesize_gif(d, "doc_id", "text", width=4, height=4, n_frames=4)
    fr = sample_frames(media, stride=2)
    return fr.select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        "n_frames",
        F.md5(F.hex("frame")).alias("frame_md5"),
    )


@_q(
    "ingest_external_fixtures",
    """
SELECT * FROM (VALUES
  (CAST(41    AS BIGINT), 'image', CAST(16  AS BIGINT), CAST(16  AS BIGINT), CAST(NULL  AS BIGINT)),
  (CAST(71    AS BIGINT), 'image', CAST(2   AS BIGINT), CAST(2   AS BIGINT), CAST(NULL  AS BIGINT)),
  (CAST(269   AS BIGINT), 'image', CAST(16  AS BIGINT), CAST(16  AS BIGINT), CAST(NULL  AS BIGINT)),
  (CAST(282   AS BIGINT), 'image', CAST(16  AS BIGINT), CAST(16  AS BIGINT), CAST(NULL  AS BIGINT)),
  (CAST(405   AS BIGINT), 'image', CAST(16  AS BIGINT), CAST(16  AS BIGINT), CAST(NULL  AS BIGINT)),
  (CAST(781   AS BIGINT), 'image', CAST(16  AS BIGINT), CAST(16  AS BIGINT), CAST(NULL  AS BIGINT)),
  (CAST(1056  AS BIGINT), 'image', CAST(16  AS BIGINT), CAST(16  AS BIGINT), CAST(NULL  AS BIGINT)),
  (CAST(1162  AS BIGINT), 'image', CAST(16  AS BIGINT), CAST(16  AS BIGINT), CAST(NULL  AS BIGINT)),
  (CAST(1326  AS BIGINT), 'image', CAST(16  AS BIGINT), CAST(16  AS BIGINT), CAST(NULL  AS BIGINT)),
  (CAST(1967  AS BIGINT), 'image', CAST(16  AS BIGINT), CAST(16  AS BIGINT), CAST(NULL  AS BIGINT)),
  (CAST(19790 AS BIGINT), 'image', CAST(48  AS BIGINT), CAST(48  AS BIGINT), CAST(NULL  AS BIGINT)),
  (CAST(57746 AS BIGINT), 'image', CAST(256 AS BIGINT), CAST(256 AS BIGINT), CAST(NULL  AS BIGINT)),
  (CAST(543   AS BIGINT), 'image', CAST(16  AS BIGINT), CAST(16  AS BIGINT), CAST(NULL  AS BIGINT)),
  (CAST(690   AS BIGINT), 'image', CAST(32  AS BIGINT), CAST(32  AS BIGINT), CAST(NULL  AS BIGINT)),
  (CAST(1020  AS BIGINT), 'image', CAST(16  AS BIGINT), CAST(16  AS BIGINT), CAST(NULL  AS BIGINT)),
  (CAST(1264  AS BIGINT), 'image', CAST(16  AS BIGINT), CAST(16  AS BIGINT), CAST(NULL  AS BIGINT)),
  (CAST(5679  AS BIGINT), 'image', CAST(196 AS BIGINT), CAST(196 AS BIGINT), CAST(NULL  AS BIGINT)),
  (CAST(6525  AS BIGINT), 'image', CAST(493 AS BIGINT), CAST(58  AS BIGINT), CAST(NULL  AS BIGINT)),
  (CAST(36728 AS BIGINT), 'image', CAST(300 AS BIGINT), CAST(215 AS BIGINT), CAST(NULL  AS BIGINT)),
  (CAST(6638  AS BIGINT), 'audio', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(11025 AS BIGINT)),
  (CAST(6756  AS BIGINT), 'audio', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(11025 AS BIGINT)),
  (CAST(6892  AS BIGINT), 'audio', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(11025 AS BIGINT)),
  (CAST(6910  AS BIGINT), 'audio', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(11025 AS BIGINT)),
  (CAST(6910  AS BIGINT), 'audio', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(11025 AS BIGINT)),
  (CAST(13252 AS BIGINT), 'audio', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(11025 AS BIGINT)),
  (CAST(13506 AS BIGINT), 'audio', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(11025 AS BIGINT)),
  (CAST(19866 AS BIGINT), 'audio', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(11025 AS BIGINT)),
  (CAST(20120 AS BIGINT), 'audio', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(11025 AS BIGINT)),
  (CAST(13370 AS BIGINT), 'audio', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(11025 AS BIGINT)),
  (CAST(19922 AS BIGINT), 'audio', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(11025 AS BIGINT)),
  (CAST(19984 AS BIGINT), 'audio', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(11025 AS BIGINT)),
  (CAST(26598 AS BIGINT), 'audio', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(11025 AS BIGINT)),
  (CAST(9436  AS BIGINT), 'audio', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(22050 AS BIGINT)),
  (CAST(432   AS BIGINT), 'image', CAST(16  AS BIGINT), CAST(16  AS BIGINT), CAST(NULL  AS BIGINT))
) t(n_bytes, kind, meta_width, meta_height, meta_sample_rate)
""",
    "EXTERNAL-ENCODER interop gate over the COMMITTED fixture "
    "directory (tests/fixtures — real libjpeg 4:2:0 JPEG, TWO real "
    "PROGRESSIVE SOF2 JPEGs (one spectral-selection-only color, one "
    "successive-approximation grayscale), real GIF89a, "
    "real PNGs across color types 0/3/4/6 incl. a PALETTE and a "
    "16-BIT-depth stream, the full simple-raster family as real "
    "renditions of ONE source image (P6 PPM, P5 PGM, P4 PBM, 32-bit "
    "BI_BITFIELDS BMP, byte-RLE Sun raster, scanline-RLE SGI, "
    "uncompressed-RGBA TIFF, XBM — the five RGB containers decode "
    "bit-identically, pinned in pytest), five real stereo WAV "
    "renditions incl. 24/32-bit and WAVE_FORMAT_EXTENSIBLE, plus the "
    "SAME recording in THREE more audio containers — AIFF PCM "
    "8(signed)/16/24 big-endian with 80-bit-float rates, AIFF-C "
    "G.711 ulaw AND alaw, Sun AU PCM16/24 + ulaw — all decoding "
    "consistently with the WAV reference, pinned in pytest — plus a "
    "real MPEG-2 Layer-III MP3 (ID3v2-tagged, 22050 Hz mono) that the "
    "frame-header metadata probe must classify as audio with its true "
    "rate, no entropy decode, and a real VP8X WebP whose header probe "
    "must agree between the extended-canvas and VP8-keyframe dims): every "
    "fixture must ingest "
    "through the media sniffer with the right kind + container "
    "metadata, none quarantined to kind='binary'. The oracle is the "
    "literal expected table (fixtures are committed bytes, so the "
    "answer is a constant), keyed by payload size — stable across "
    "machines where path-derived ids are not. Catches any decoder "
    "regression against REAL third-party encoder conventions at the "
    "driver gate, not just in pytest",
)
def q_ingest_external_fixtures(spark, sf_dir):
    import os as _os

    from victor_spark.sources.media import load_media_dir

    fixtures = _os.path.join(
        _os.path.dirname(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
        ),
        "tests", "fixtures",
    )
    m = load_media_dir(spark, fixtures, glob="real_*")
    return m.select(
        F.length("payload").cast("long").alias("n_bytes"),
        "kind",
        F.col("meta_width").cast("long").alias("meta_width"),
        F.col("meta_height").cast("long").alias("meta_height"),
        F.col("meta_sample_rate").cast("long").alias("meta_sample_rate"),
    )


@_q(
    "multimodal_avi_frames",
    """
SELECT doc_id AS media_id, f.f AS frame_idx, CAST(4 AS BIGINT) AS n_frames,
       CAST(16 * 16 * 3 AS BIGINT) AS n_bytes,
       true AS ok_r, true AS ok_g, true AS ok_b
FROM documents
CROSS JOIN (SELECT unnest([CAST(0 AS BIGINT), CAST(2 AS BIGINT)]) AS f) f
""",
    "COMPRESSED-VIDEO demux + decode: MJPEG-in-AVI containers (RIFF "
    "hdrl/movi/idx1 with one baseline-JPEG stream per frame — the "
    "classic camera/OpenCV interchange) demuxed by sample_frames, "
    "which DCT-decodes only the SAMPLED frames (stride pruning before "
    "the expensive step). Each sampled frame's decoded channel means "
    "must land within 2 levels of the exact per-frame source means "
    "the oracle knows (ord(md5 char at (c+f) mod 32) + 15) — the "
    "JPEG bounded-error contract lifted to the video modality, making "
    "AVI the compressed-video story next to palette-animation GIF and "
    "uncompressed y4m. Composes the RIFF walker + JPEG codec; "
    "plan-asserted shuffle-free decode farm",
)
def q_multimodal_avi_frames(spark, sf_dir):
    from victor_spark.operators.multimodal import (
        frame_stats,
        sample_frames,
        synthesize_avi_mjpeg,
    )

    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.md5("text").alias("text")
    )
    media = synthesize_avi_mjpeg(
        d, "doc_id", "text", width=16, height=16, n_frames=4, quality=90
    )
    stats = frame_stats(sample_frames(media, stride=2))
    joined = stats.join(F.broadcast(d), stats.media_id == d.doc_id)
    ok = [
        (
            F.abs(
                F.col(m)
                - (
                    F.ascii(
                        F.substring(
                            "text",
                            ((F.lit(c) + F.col("frame_idx")) % 32 + 1).cast(
                                "int"
                            ),
                            1,
                        )
                    )
                    + 15
                )
            )
            <= 2.0
        ).alias(f"ok_{ch}")
        for c, (m, ch) in enumerate(
            [("mean_r", "r"), ("mean_g", "g"), ("mean_b", "b")]
        )
    ]
    return joined.select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("n_frames").cast("long").alias("n_frames"),
        F.col("n_bytes").cast("long").alias("n_bytes"),
        *ok,
    )


@_q(
    "dedup_audio_cross_format",
    """
WITH m AS (SELECT doc_id AS media_id, md5(text) AS s FROM documents),
allm AS (
  SELECT media_id, s FROM m
  UNION ALL
  SELECT media_id + 1000000, s FROM m WHERE media_id % 10 = 0
),
g AS (
  SELECT media_id,
    list_transform(range(0, 65),
      j -> (ord(substr(s, CAST(j * 64 // 65 % 32 AS INT) + 1, 1)) - 80) * 128) AS sv
  FROM allm
),
fp AS (
  SELECT media_id,
    list_aggregate(list_transform(range(0, 64), k ->
      CASE WHEN sv[CAST(k AS INT) + 1] < sv[CAST(k AS INT) + 2]
           THEN '1' ELSE '0' END), 'string_agg', '') AS fingerprint
  FROM g
)
SELECT fingerprint, CAST(count(*) AS BIGINT) AS n_media,
       CAST(min(media_id) AS BIGINT) AS min_media_id
FROM fp GROUP BY fingerprint HAVING count(*) >= 2
""",
    "CROSS-CONTAINER audio dedup: originals are RIFF/WAVE PCM16, every "
    "10th clip's clone is the SAME audio stored as STEREO MID/SIDE "
    "LPC-compressed FLAC under a different id (each mono sample s "
    "becomes the pair (s+d, s-d), whose (l+r)//2 downmix is s exactly) "
    "— the perceptual fingerprint is computed over DECODED DOWNMIXED "
    "samples, so identical audio dedups across container format, "
    "channel layout AND predictor family (byte/container hashing "
    "catches nothing here; FLAC is lossless so the grouping is "
    "deterministic, unlike any lossy cross-format pairing). Same "
    "exact-groupBy shuffle shape as the image cross-format twin; the "
    "oracle replays every bit",
)
def q_dedup_audio_cross_format(spark, sf_dir):
    from victor_spark.operators.multimodal import (
        audio_fingerprint,
        synthesize_flac,
        synthesize_wav,
    )

    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.md5("text").alias("text")
    )
    base = synthesize_wav(d, "doc_id", "text", n_samples=64,
                          sample_rate=16000)
    flac_clones = synthesize_flac(
        d.filter(F.col("doc_id") % 10 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1_000_000
        ),
        "doc_id", "text", n_samples=64, sample_rate=16000,
        stereo_mode="mid_side", lpc_order=4,
    )
    fps = audio_fingerprint(base.unionByName(flac_clones)).withColumnRenamed(
        "dhash", "fingerprint"
    )
    return (
        fps.groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_media"),
            F.min("media_id").alias("min_media_id"),
        )
        .filter(F.col("n_media") >= 2)
    )


@_q(
    "multimodal_flac_decode",
    """
WITH m AS (
  SELECT doc_id AS media_id,
         list_transform(range(0, 64),
           j -> (ord(substr(md5(text), CAST(j % 32 AS INT) + 1, 1)) - 80) * 128) AS smp
  FROM documents
)
SELECT media_id, CAST(16000 AS BIGINT) AS sample_rate, CAST(64 AS BIGINT) AS n_samples,
       round(list_sum(smp) / 64.0, 6) AS mean_amp,
       round(sqrt(list_sum(list_transform(smp, x -> CAST(x AS DOUBLE) * x)) / 64.0), 6) AS rms_amp,
       CAST(list_min(smp) AS BIGINT) AS min_amp, CAST(list_max(smp) AS BIGINT) AS max_amp
FROM m
""",
    "REAL COMPRESSED-audio decode: genuine FLAC streams (rice-coded "
    "fixed-predictor residuals, CRC-8/CRC-16-verified frames, "
    "STREAMINFO) decoded by the pure-python FLAC codec in the "
    "Arrow-batched farm. FLAC is LOSSLESS, so — unlike the lossy JPEG "
    "twin — the oracle replays the decoded samples bit-exactly from "
    "the same md5 derivation as multimodal_wav_decode: a match proves "
    "the whole rice/predictor/CRC pipeline sample for sample",
)
def q_multimodal_flac_decode(spark, sf_dir):
    from victor_spark.operators.multimodal import decode_audio_stats, synthesize_flac

    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.md5("text").alias("text")
    )
    media = synthesize_flac(d, "doc_id", "text", n_samples=64,
                            sample_rate=16000)
    s = decode_audio_stats(media)
    return s.select(
        "media_id", "sample_rate", "n_samples",
        F.round("mean_amp", 6).alias("mean_amp"),
        F.round("rms_amp", 6).alias("rms_amp"),
        "min_amp", "max_amp",
    )


@_q(
    "multimodal_jpeg_roundtrip",
    """
SELECT doc_id AS media_id,
       CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
       true AS ok_r, true AS ok_g, true AS ok_b
FROM documents
""",
    "REAL LOSSY-codec roundtrip: genuine baseline JFIF/JPEG containers "
    "(level shift, 8x8 DCT, quality-90 Annex-K quantization, zigzag, "
    "Huffman DC-prediction/AC-run-size entropy coding with byte "
    "stuffing) decoded back through the inverse pipeline. JPEG pixels "
    "are not SQL-replayable (lossy DCT), so the oracle contract is "
    "BOUNDED ERROR: the synthesized content is a smooth per-channel "
    "vertical gradient whose exact source means the oracle knows "
    "(ord(md5 char)+15), and every decoded channel mean must land "
    "within 2 levels — a broken DCT, quantizer, Huffman table or color "
    "transform lands far outside. Geometry comes from the real decode",
)
def q_multimodal_jpeg_roundtrip(spark, sf_dir):
    return _jpeg_roundtrip_query(spark, sf_dir, progressive=False)


def _jpeg_roundtrip_query(spark, sf_dir, progressive):
    """Shared body of the baseline/progressive JPEG roundtrip twins —
    the bounded-error oracle expression and the synthesis geometry must
    stay ONE source of truth (they share the same SQL oracle)."""
    from victor_spark.operators.multimodal import decode_image_stats, synthesize_jpeg

    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.md5("text").alias("text")
    )
    media = synthesize_jpeg(d, "doc_id", "text", width=16, height=16,
                            quality=90, progressive=progressive)
    s = decode_image_stats(media)
    joined = s.join(F.broadcast(d), s.media_id == d.doc_id)
    ok = [
        (F.abs(F.col(m) - (F.ascii(F.substring("text", c + 1, 1)) + 15))
         <= 2.0).alias(f"ok_{ch}")
        for c, (m, ch) in enumerate(
            [("mean_r", "r"), ("mean_g", "g"), ("mean_b", "b")]
        )
    ]
    return joined.select("media_id", "width", "height", *ok)


@_q(
    "multimodal_jpeg_progressive",
    """
SELECT doc_id AS media_id,
       CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
       true AS ok_r, true AS ok_g, true AS ok_b
FROM documents
""",
    "PROGRESSIVE (SOF2) twin of multimodal_jpeg_roundtrip: the same "
    "smooth-gradient content pushed through the Annex-G multi-scan "
    "encoder (spectral selection + successive approximation over the "
    "libjpeg-style script, EOB runs) and decoded back through the "
    "progressive scan-accumulation path. Progressive transmission "
    "reorders the SAME quantized coefficients, so the identical "
    "bounded-error oracle holds (decoded channel means within 2 of the "
    "exact source means ord(md5 char)+15) — and pytest pins the far "
    "stronger bit-exact progressive==baseline property. Web-dominant "
    "layout, driver-gated like the baseline path; shuffle-free "
    "Arrow-batched farm",
)
def q_multimodal_jpeg_progressive(spark, sf_dir):
    return _jpeg_roundtrip_query(spark, sf_dir, progressive=True)


def _ingest_cache_dir(tag: str, sf_dir: str, code_of=()) -> tuple[str, bool]:
    """Deterministic staging dir for the ingest-roundtrip queries, keyed
    on (query tag, dataset path, documents.parquet mtime+size, and the
    SOURCE TEXT of the callables in ``code_of``). The roundtrip queries
    must materialize real shards before their read plan exists; caching
    the materialization (a) bounds /tmp usage instead of leaking a fresh
    mkdtemp per plan BUILD (gate + bench + plan tests each build every
    query), and (b) makes re-builds after the first write-free. The key
    auto-invalidates when the testdata is regenerated in place OR when
    the builder / synthesis / writer code changes (pass those functions
    in ``code_of`` — a parameter edit is a source edit). Returns
    (path, already_built); ``path`` only ever appears COMPLETE because
    builders publish it with _publish_ingest_dir's atomic rename."""
    import hashlib
    import inspect
    import os
    import tempfile

    doc = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(doc)
        stamp = f"{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        stamp = "unknown"
    src = "".join(inspect.getsource(f) for f in code_of)
    key = hashlib.md5(
        f"{tag}:{os.path.abspath(sf_dir)}:{stamp}:{src}".encode()
    ).hexdigest()[:16]
    path = os.path.join(tempfile.gettempdir(), f"victor_ingest_{tag}_{key}")
    return path, os.path.exists(os.path.join(path, "_BUILT"))


def _ingest_build_dir(path: str) -> str:
    """A private build target next to ``path``: the builder writes the
    WHOLE materialization (marker last) here, then publishes."""
    import uuid

    return f"{path}.build-{uuid.uuid4().hex}"


def _publish_ingest_dir(build_dir: str, path: str) -> None:
    """Atomically publish a fully-built staging dir: one rename, so
    readers never observe a partial directory and two concurrent
    builders can't delete files under each other's running scans (the
    loser discards its own build and uses the winner's)."""
    import os
    import shutil

    with open(os.path.join(build_dir, "_BUILT"), "w"):
        pass
    try:
        os.rename(build_dir, path)
    except OSError:
        shutil.rmtree(build_dir, ignore_errors=True)  # another builder won


@_q(
    "ingest_webdataset_roundtrip",
    """
SELECT doc_id, lang, md5(text) AS text_md5
FROM documents
""",
    "WebDataset tar-shard ingest roundtrip — the LAION-style interchange "
    "layout for multimodal training corpora: the documents table is "
    "packed into POSIX tar shards (one per partition, members grouped "
    "by key with .txt/.cls extensions, packed and written executor-"
    "side) and read back through binaryFile + an Arrow-batched untar "
    "that pivots members into one row per sample; the oracle is the "
    "identity projection, so a match proves lossless sample transport. "
    "Shards are whole-file tasks by design (the format's sizing "
    "contract); read parallelism = shard count",
)
def q_ingest_webdataset_roundtrip(spark, sf_dir):
    from victor_spark.sources.webdataset import (
        load_webdataset,
        write_webdataset,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    out, built = _ingest_cache_dir(
        "wds", sf_dir,
        code_of=(q_ingest_webdataset_roundtrip, write_webdataset),
    )
    if not built:
        build = _ingest_build_dir(out)
        write_webdataset(
            docs.repartition(8), build, "doc_id",
            {"text": "txt", "lang": "cls"},
        ).collect()
        _publish_ingest_dir(build, out)
    back = load_webdataset(spark, out, ["txt", "cls"])
    return back.select(
        F.col("key").cast("long").alias("doc_id"),
        F.decode("cls", "utf-8").alias("lang"),
        F.md5(F.decode("txt", "utf-8")).alias("text_md5"),
    )


@_q(
    "ingest_webdataset_media_decode",
    """
WITH m AS (
  SELECT doc_id AS media_id,
         repeat(md5(text), 6) AS s
  FROM documents
),
px AS (
  SELECT media_id,
         list_transform(range(0, 192), i -> ord(substr(s, CAST(i AS INT) + 1, 1))) AS b
  FROM m
)
SELECT media_id,
       CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
       round(list_sum(list_transform(range(0, 64), j -> b[CAST(j*3 AS INT) + 1])) / 64.0, 6) AS mean_r,
       round(list_sum(list_transform(range(0, 64), j -> b[CAST(j*3 AS INT) + 2])) / 64.0, 6) AS mean_g,
       round(list_sum(list_transform(range(0, 64), j -> b[CAST(j*3 AS INT) + 3])) / 64.0, 6) AS mean_b,
       CAST(list_min(b) AS BIGINT) AS min_px, CAST(list_max(b) AS BIGINT) AS max_px
FROM px
""",
    "the full multimodal lake pipeline in one oracle-checked query: "
    "synthesize real PNGs, PACK them into WebDataset tar shards "
    "(executor-side, one per partition), read the shards back through "
    "binaryFile + untar, and run the decoded-pixel stats farm on the "
    "transported members — a match proves tar transport is byte-"
    "lossless AND the compressed codec decodes the transported bytes, "
    "end to end (same oracle as multimodal_png_decode by construction)",
)
def q_ingest_webdataset_media_decode(spark, sf_dir):
    from victor_spark.operators.multimodal import decode_image_stats, synthesize_png
    from victor_spark.sources.webdataset import (
        load_webdataset,
        write_webdataset,
    )

    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.md5("text").alias("text")
    )
    media = synthesize_png(d, "doc_id", "text", width=8, height=8,
                           filter_type="cycle")
    out, built = _ingest_cache_dir(
        "wdsmedia", sf_dir,
        code_of=(q_ingest_webdataset_media_decode, synthesize_png,
                 write_webdataset),
    )
    if not built:
        build = _ingest_build_dir(out)
        write_webdataset(
            media.repartition(8), build, "media_id", {"payload": "png"}
        ).collect()
        _publish_ingest_dir(build, out)
    back = load_webdataset(spark, out, ["png"]).selectExpr(
        "CAST(key AS LONG) AS media_id", "'image' AS kind",
        "png AS payload", "CAST(8 AS INT) AS meta_width",
        "CAST(8 AS INT) AS meta_height",
        "CAST(NULL AS INT) AS meta_sample_rate",
    )
    s = decode_image_stats(back)
    return s.select(
        "media_id", "width", "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        "min_px", "max_px",
    )


@_q(
    "ingest_jsonl_gz_roundtrip",
    """
SELECT doc_id, lang,
       CAST(length(text) AS BIGINT) AS n_chars_rt,
       md5(text) AS text_md5
FROM documents
""",
    "gzip-compressed JSON-Lines ingest roundtrip — THE training-corpus "
    "interchange format: the documents table is written as .json.gz "
    "shards (Spark's gzip codec) and read back through the transparent "
    "decompression path with an explicit schema (no inference pass); "
    "the oracle is the identity projection, so a match proves byte-"
    "lossless transport of every document INCLUDING embedded newlines "
    "and unicode (JSON escaping — exactly what raw text lines can't "
    "carry). Scale note in write_jsonl's docstring: gzip shards are "
    "not splittable, so parallelism = shard count by construction",
)
def q_ingest_jsonl_gz_roundtrip(spark, sf_dir):
    from victor_spark.sources.formats import read_jsonl, write_jsonl

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    out, built = _ingest_cache_dir(
        "jsonlgz", sf_dir,
        code_of=(q_ingest_jsonl_gz_roundtrip, write_jsonl),
    )
    if not built:
        build = _ingest_build_dir(out)
        write_jsonl(docs.repartition(8), build, compression="gzip")
        _publish_ingest_dir(build, out)
    back = read_jsonl(spark, out, "doc_id bigint, text string, lang string")
    return back.select(
        "doc_id", "lang",
        F.length("text").cast("long").alias("n_chars_rt"),
        F.md5("text").alias("text_md5"),
    )


# warc_extract oracle: the synthesized page embeds each document's text
# HTML-ESCAPED inside <p> blocks under an <h1>doc&nbsp;{id}</h1> header
# (plus head/title/style/script/comment boilerplate the extractor must
# drop), so extraction provably returns 'doc {id}\n' + text under the
# shared whitespace-normalization contract — which the oracle recomputes
# from documents.text directly with the SAME four regex patterns
# (functions/html.py module constants, interpolated here so the engines
# cannot drift apart silently).
_WARC_ORACLE = f"""
WITH norm AS (
  SELECT doc_id,
         {sql_normalize_ws("'doc ' || CAST(doc_id AS VARCHAR) || chr(10) || text")} AS t
  FROM documents
)
SELECT doc_id, CAST(200 AS BIGINT) AS status,
       CAST(length(t) AS BIGINT) AS n_chars,
       md5(t) AS text_md5
FROM norm
"""


@_q(
    "warc_extract",
    _WARC_ORACLE,
    "the text pipeline's FIRST MILE: the documents table is rendered "
    "into full HTML pages (head/title/style/script/comment boilerplate, "
    "entity-escaped body text in <p> blocks), packed into Common-Crawl-"
    "style .warc.gz shards (one per partition, every record its own "
    "gzip member, HTTP/1.1 response envelopes), read back through "
    "binaryFile + an Arrow-batched record walk (Content-Length framing, "
    "member-wise gunzip), and fed to the deterministic JVM-side "
    "HTML->text extractor (functions/html.py — pure regexp_replace "
    "chain, whole-stage codegen, no Python in the hot path). The oracle "
    "recomputes the expected extraction from documents.text with the "
    "same whitespace contract, so a match proves WARC framing, gzip "
    "member transport, HTTP envelope split, tag/boilerplate stripping "
    "AND entity decode end to end. Plan: scan -> narrow map -> project; "
    "shuffle-free by construction, parallelism = shard count",
)
def q_warc_extract(spark, sf_dir):
    from victor_spark.functions.html import escape_html, html_to_text
    from victor_spark.sources.warc import load_warc, write_warc

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    esc = escape_html(F.col("text"))
    paras = F.array_join(
        F.transform(
            F.split(esc, "\n"),
            lambda x: F.concat(F.lit("<p>"), x, F.lit("</p>")),
        ),
        "\n",
    )
    html = F.concat(
        F.lit("<!DOCTYPE html>\n<html>\n<head>\n<title>t"),
        F.col("doc_id").cast("string"),
        F.lit(
            "</title>\n<style type=\"text/css\">\np { margin: 0; }\n"
            "</style>\n</head>\n<body>\n<script>\nif (a < b && c > d) "
            '{ document.write("<p>js junk</p>"); }\n</script>\n'
            "<!-- boilerplate <div>nav</div> -->\n<h1>doc&nbsp;"
        ),
        F.col("doc_id").cast("string"),
        F.lit("</h1>\n<div class=\"content\">\n"),
        paras,
        F.lit("\n</div>\n<hr/>\n</body>\n</html>\n"),
    )
    pages = docs.select(
        F.concat(
            F.lit("http://corpus.example/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("uri"),
        html.alias("html"),
    )
    # cache key covers EVERY function that shapes the shard bytes — the
    # record/envelope builders included (round-6 lesson: cache dirs keyed
    # without the full code hash serve stale shards after builder edits)
    from victor_spark.sources import warc as _warc_mod

    out, built = _ingest_cache_dir(
        "warc", sf_dir,
        code_of=(q_warc_extract, write_warc, escape_html,
                 _warc_mod._record_bytes, _warc_mod._response_record,
                 _warc_mod._warcinfo_record),
    )
    if not built:
        build = _ingest_build_dir(out)
        write_warc(pages.repartition(8), build, "uri", "html").collect()
        _publish_ingest_dir(build, out)
    resp = load_warc(spark, out).filter(F.col("warc_type") == "response")
    return resp.select(
        F.regexp_extract("target_uri", "doc/(\\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("http_status").cast("long").alias("status"),
        html_to_text(F.decode("payload", "UTF-8")).alias("_t"),
    ).select(
        "doc_id",
        "status",
        F.length("_t").cast("long").alias("n_chars"),
        F.md5("_t").alias("text_md5"),
    )


@_q(
    "multimodal_ppm_resize",
    """
WITH m AS (
  SELECT doc_id AS media_id,
         repeat(md5(text), 6) AS s
  FROM documents
),
r AS (
  SELECT media_id,
         'P6' || chr(10) || '4 4' || chr(10) || '255' || chr(10) ||
         list_aggregate(list_transform(range(0, 48), i ->
           substr(s, CAST((i // 3) // 4 * 48 + (i // 3) % 4 * 6 + i % 3 AS INT) + 1, 1)),
           'string_agg', '') AS p
  FROM m
)
SELECT media_id, CAST(4 AS BIGINT) AS meta_width, CAST(4 AS BIGINT) AS meta_height,
       CAST(octet_length(encode(p)) AS BIGINT) AS n_bytes,
       md5(hex(encode(p))) AS payload_md5
FROM r
""",
    "REAL image resize: P6 payloads decoded, nearest-neighbor resampled "
    "8x8 -> 4x4 with numpy index selection, re-encoded as P6; the oracle "
    "reconstructs the exact resized container bytes (output pixel (x,y) "
    "= input (2x,2y)) and compares payload md5",
)
def q_multimodal_ppm_resize(spark, sf_dir):
    from victor_spark.operators.multimodal import resize_images, synthesize_ppm

    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.md5("text").alias("text")
    )
    media = synthesize_ppm(d, "doc_id", "text", width=8, height=8)
    resized = resize_images(media, 4, 4)
    return resized.select(
        "media_id",
        F.col("meta_width").cast("long").alias("meta_width"),
        F.col("meta_height").cast("long").alias("meta_height"),
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.md5(F.hex("payload")).alias("payload_md5"),
    )


@_q(
    "dedup_image_phash",
    """
WITH m AS (SELECT doc_id AS media_id, md5(text) AS s FROM documents),
allm AS (
  SELECT media_id, s FROM m
  UNION ALL
  SELECT media_id + 1000000, s FROM m WHERE media_id % 10 = 0
),
g AS (
  SELECT media_id,
    list_transform(range(0, 72), t ->
      ord(substr(s, CAST(((t // 9) * 8 + (t % 9) * 8 // 9) * 3 % 32 AS INT) + 1, 1)) +
      ord(substr(s, CAST((((t // 9) * 8 + (t % 9) * 8 // 9) * 3 + 1) % 32 AS INT) + 1, 1)) +
      ord(substr(s, CAST((((t // 9) * 8 + (t % 9) * 8 // 9) * 3 + 2) % 32 AS INT) + 1, 1))
    ) AS gv
  FROM allm
),
hh AS (
  SELECT media_id,
    list_aggregate(list_transform(range(0, 64), k ->
      CASE WHEN gv[CAST((k // 8) * 9 + (k % 8) AS INT) + 1]
                < gv[CAST((k // 8) * 9 + (k % 8) AS INT) + 2]
           THEN '1' ELSE '0' END), 'string_agg', '') AS dhash
  FROM g
)
SELECT dhash, CAST(count(*) AS BIGINT) AS n_media,
       CAST(min(media_id) AS BIGINT) AS min_media_id
FROM hh GROUP BY dhash HAVING count(*) >= 2
""",
    "image dedup via perceptual difference-hash over DECODED pixels: "
    "every 10th image also appears as a REAL nearest-neighbor 16x16 "
    "upscale under a different id, and the dHash (integer-gray 9x8 "
    "grid, horizontal-neighbor bits) groups each upscale with its "
    "original — resize-invariance is the property byte-hashing lacks. "
    "Exact groupBy on the 64-bit hash = same shuffle shape as the text "
    "dedup family; the oracle replays every hash bit integer-exactly "
    "from the md5-hex raster derivation",
)
def q_dedup_image_phash(spark, sf_dir):
    from victor_spark.operators.multimodal import (
        image_dhash,
        resize_images,
        synthesize_ppm,
    )

    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.md5("text").alias("text")
    )
    base = synthesize_ppm(d, "doc_id", "text", width=8, height=8)
    clones = resize_images(
        base.filter(F.col("media_id") % 10 == 0).withColumn(
            "media_id", F.col("media_id") + 1_000_000
        ),
        16, 16,
    )
    hashes = image_dhash(base.unionByName(clones))
    return (
        hashes.groupBy("dhash")
        .agg(
            F.count("*").alias("n_media"),
            F.min("media_id").alias("min_media_id"),
        )
        .filter(F.col("n_media") >= 2)
    )


@_q(
    "multimodal_png_decode",
    """
WITH m AS (
  SELECT doc_id AS media_id,
         repeat(md5(text), 6) AS s
  FROM documents
),
px AS (
  SELECT media_id,
         list_transform(range(0, 192), i -> ord(substr(s, CAST(i AS INT) + 1, 1))) AS b
  FROM m
)
SELECT media_id,
       CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
       round(list_sum(list_transform(range(0, 64), j -> b[CAST(j*3 AS INT) + 1])) / 64.0, 6) AS mean_r,
       round(list_sum(list_transform(range(0, 64), j -> b[CAST(j*3 AS INT) + 2])) / 64.0, 6) AS mean_g,
       round(list_sum(list_transform(range(0, 64), j -> b[CAST(j*3 AS INT) + 3])) / 64.0, 6) AS mean_b,
       CAST(list_min(b) AS BIGINT) AS min_px, CAST(list_max(b) AS BIGINT) AS max_px
FROM px
""",
    "REAL COMPRESSED-format decode: genuine PNG containers (stdlib-zlib "
    "deflate, CRC'd chunks, scanline filter y mod 5 so every unfilter "
    "path — None/Sub/Up/Average/Paeth — runs per image), parsed by the "
    "pure-stdlib PNG codec in the Arrow-batched decode farm; the oracle "
    "replays the decoded pixels from the md5-hex derivation, so a match "
    "proves the whole inflate+unfilter pipeline bit-exactly",
)
def q_multimodal_png_decode(spark, sf_dir):
    from victor_spark.operators.multimodal import decode_image_stats, synthesize_png

    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.md5("text").alias("text")
    )
    media = synthesize_png(d, "doc_id", "text", width=8, height=8,
                           filter_type="cycle")
    s = decode_image_stats(media)
    return s.select(
        "media_id", "width", "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        "min_px", "max_px",
    )


@_q(
    "multimodal_png_resize",
    """
WITH m AS (SELECT doc_id AS media_id, md5(text) AS s FROM documents),
px AS (
  SELECT media_id,
         list_transform(range(0, 48), i ->
           ord(substr(s, CAST((((i // 12) * 2 * 8 + ((i % 12) // 3) * 2) * 3 + i % 3) % 32 AS INT) + 1, 1))) AS b
  FROM m
)
SELECT media_id, CAST(4 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
       round(list_sum(list_transform(range(0, 16), j -> b[CAST(j*3 AS INT) + 1])) / 16.0, 6) AS mean_r,
       round(list_sum(list_transform(range(0, 16), j -> b[CAST(j*3 AS INT) + 2])) / 16.0, 6) AS mean_g,
       round(list_sum(list_transform(range(0, 16), j -> b[CAST(j*3 AS INT) + 3])) / 16.0, 6) AS mean_b,
       CAST(list_min(b) AS BIGINT) AS min_px, CAST(list_max(b) AS BIGINT) AS max_px
FROM px
""",
    "REAL compressed-format resize roundtrip: PNG decoded (inflate + "
    "unfilter), nearest-neighbor resampled 8x8 -> 4x4, RE-ENCODED as PNG "
    "(filter + deflate + CRC), then decoded AGAIN by the stats farm — "
    "two full trips through the compressed codec. The container bytes "
    "aren't SQL-replayable (deflate), so the oracle replays the DECODED "
    "pixels of the result: output pixel (x,y,c) = md5 char at "
    "((2y*8+2x)*3+c) mod 32",
)
def q_multimodal_png_resize(spark, sf_dir):
    from victor_spark.operators.multimodal import (
        decode_image_stats,
        resize_images,
        synthesize_png,
    )

    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.md5("text").alias("text")
    )
    media = synthesize_png(d, "doc_id", "text", width=8, height=8,
                           filter_type="cycle")
    s = decode_image_stats(resize_images(media, 4, 4))
    return s.select(
        "media_id", "width", "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        "min_px", "max_px",
    )


@_q(
    "dedup_image_cross_format",
    """
WITH m AS (SELECT doc_id AS media_id, md5(text) AS s FROM documents),
allm AS (
  SELECT media_id, s FROM m
  UNION ALL
  SELECT media_id + 1000000, s FROM m WHERE media_id % 10 = 0
),
g AS (
  SELECT media_id,
    list_transform(range(0, 72), t ->
      ord(substr(s, CAST(((t // 9) * 8 + (t % 9) * 8 // 9) * 3 % 32 AS INT) + 1, 1)) +
      ord(substr(s, CAST((((t // 9) * 8 + (t % 9) * 8 // 9) * 3 + 1) % 32 AS INT) + 1, 1)) +
      ord(substr(s, CAST((((t // 9) * 8 + (t % 9) * 8 // 9) * 3 + 2) % 32 AS INT) + 1, 1))
    ) AS gv
  FROM allm
),
hh AS (
  SELECT media_id,
    list_aggregate(list_transform(range(0, 64), k ->
      CASE WHEN gv[CAST((k // 8) * 9 + (k % 8) AS INT) + 1]
                < gv[CAST((k // 8) * 9 + (k % 8) AS INT) + 2]
           THEN '1' ELSE '0' END), 'string_agg', '') AS dhash
  FROM g
)
SELECT dhash, CAST(count(*) AS BIGINT) AS n_media,
       CAST(min(media_id) AS BIGINT) AS min_media_id
FROM hh GROUP BY dhash HAVING count(*) >= 2
""",
    "CROSS-CONTAINER image dedup: originals are uncompressed PPM, every "
    "10th image's clone is a real 16x16 upscale stored as a COMPRESSED "
    "PNG under a different id — the perceptual dHash is computed over "
    "DECODED pixels, so the same picture dedups across container "
    "formats AND resolutions (byte/container hashing catches neither). "
    "Same exact-groupBy shuffle shape as the text dedup family; the "
    "oracle replays every hash bit integer-exactly",
)
def q_dedup_image_cross_format(spark, sf_dir):
    from victor_spark.operators.multimodal import (
        image_dhash,
        resize_images,
        synthesize_png,
        synthesize_ppm,
    )

    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.md5("text").alias("text")
    )
    base = synthesize_ppm(d, "doc_id", "text", width=8, height=8)
    png_clones = resize_images(
        synthesize_png(
            d.filter(F.col("doc_id") % 10 == 0).withColumn(
                "doc_id", F.col("doc_id") + 1_000_000
            ),
            "doc_id", "text", width=8, height=8, filter_type="cycle",
        ),
        16, 16,
    )
    hashes = image_dhash(base.unionByName(png_clones))
    return (
        hashes.groupBy("dhash")
        .agg(
            F.count("*").alias("n_media"),
            F.min("media_id").alias("min_media_id"),
        )
        .filter(F.col("n_media") >= 2)
    )


@_q(
    "multimodal_y4m_frames",
    """
WITH m AS (SELECT doc_id AS media_id, md5(text) AS s FROM documents)
SELECT media_id, CAST(f AS BIGINT) AS frame_idx, CAST(6 AS BIGINT) AS n_frames,
       md5(hex(encode(
         list_aggregate(list_transform(range(0, 24),
           i -> substr(s, CAST((f * 24 + i) % 32 AS INT) + 1, 1)),
           'string_agg', '')
       ))) AS frame_md5
FROM m, (VALUES (0), (2), (4)) v(f)
""",
    "REAL video demux: genuine YUV4MPEG2 streams (ASCII geometry header, "
    "FRAME markers, C420 planar payloads) demuxed by the pure-python y4m "
    "parser inside the row-expanding sample_frames stage; every 2nd of 6 "
    "frames becomes a row and the oracle replays the exact frame bytes "
    "(md5) from the md5-hex derivation — the last media modality's "
    "decode is now real, with compressed containers still stubbed",
)
def q_multimodal_y4m_frames(spark, sf_dir):
    from victor_spark.operators.multimodal import sample_frames, synthesize_y4m

    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.md5("text").alias("text")
    )
    media = synthesize_y4m(d, "doc_id", "text", width=4, height=4, n_frames=6)
    fr = sample_frames(media, stride=2)
    return fr.select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        "n_frames",
        F.md5(F.hex("frame")).alias("frame_md5"),
    )


@_q(
    "dedup_audio_fingerprint",
    """
WITH m AS (SELECT doc_id AS media_id, md5(text) AS s FROM documents),
allm AS (
  SELECT media_id, s FROM m
  UNION ALL
  SELECT media_id + 1000000, s FROM m WHERE media_id % 10 = 0
),
g AS (
  SELECT media_id,
    list_transform(range(0, 65),
      j -> (ord(substr(s, CAST(j * 64 // 65 % 32 AS INT) + 1, 1)) - 80) * 128) AS sv
  FROM allm
),
fp AS (
  SELECT media_id,
    list_aggregate(list_transform(range(0, 64), k ->
      CASE WHEN sv[CAST(k AS INT) + 1] < sv[CAST(k AS INT) + 2]
           THEN '1' ELSE '0' END), 'string_agg', '') AS fingerprint
  FROM g
)
SELECT fingerprint, CAST(count(*) AS BIGINT) AS n_media,
       CAST(min(media_id) AS BIGINT) AS min_media_id
FROM fp GROUP BY fingerprint HAVING count(*) >= 2
""",
    "audio dedup via perceptual fingerprint over DECODED samples: every "
    "10th clip also appears as a REAL zero-order-hold 2x resample under "
    "a different id, and the sign-of-delta fingerprint (65-point "
    "nearest-neighbor grid over the int16 samples, 64 bits) groups each "
    "resample with its original — floor((floor(f*x))/f) = floor(x) makes "
    "the grid resample-invariant exactly. Same exact-groupBy shuffle "
    "shape as image dHash; the oracle replays every bit integer-exactly",
)
def q_dedup_audio_fingerprint(spark, sf_dir):
    from victor_spark.operators.multimodal import (
        audio_fingerprint,
        resample_audio,
        synthesize_wav,
    )

    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.md5("text").alias("text")
    )
    base = synthesize_wav(d, "doc_id", "text", n_samples=64, sample_rate=16000)
    # clone branch filters BEFORE the python synthesis stage so the
    # doc_id % 10 predicate reaches the parquet scan (plan-asserted)
    clone_src = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    clones = resample_audio(
        synthesize_wav(clone_src, "doc_id", "text", n_samples=64,
                       sample_rate=16000),
        factor=2,
    )
    fps = audio_fingerprint(base.unionByName(clones)).select(
        "media_id", F.col("dhash").alias("fingerprint")
    )
    return (
        fps.groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_media"),
            F.min("media_id").alias("min_media_id"),
        )
        .filter(F.col("n_media") >= 2)
    )


def _pca_project_oracle(sf_dir: str) -> str:
    """Dynamic oracle: fit the same population-covariance PCA with plain
    numpy over the raw parquet (independent of the Spark distributed-Gram
    path), bake the k=8 basis and means as SQL literals, and let DuckDB
    compute each row's projection norm. The norm is invariant to the
    eigensolver's sign/rotation indeterminacy within the kept subspace, so
    the two independently-fitted bases agree to ~1e-12 — far inside the
    round(…, 4) the query applies."""
    import os

    import numpy as np
    import pyarrow.parquet as papq

    t = papq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["embedding"]
    )
    X = np.asarray(
        [np.asarray(v, dtype=np.float64) for v in t.column("embedding").to_pylist()]
    )
    n, d = X.shape
    means = X.sum(axis=0) / n
    cov = (X.T @ X) / n - np.outer(means, means)
    eigvals, eigvecs = np.linalg.eigh(cov)
    comps = eigvecs[:, np.argsort(eigvals)[::-1][:8]]  # (d, 8)

    def arr(v) -> str:
        return "[" + ", ".join(repr(float(x)) for x in v) + "]"

    pcs = " + ".join(
        f"pow(list_dot_product(x, {arr(comps[:, j])}), 2)" for j in range(8)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
c AS (SELECT vec_id,
             list_transform(range(1, {d + 1}), i -> v[i] - ({arr(means)})[i]) x
      FROM e)
SELECT vec_id, round(sqrt({pcs}), 4) AS proj_norm FROM c
"""


@_q(
    "pca_project",
    _pca_project_oracle,
    "PCA fit (distributed Gram matrix + driver eigh) and projection to k=8 "
    "(reference projected mode, db.rs:287-299); checked via per-row "
    "projection norms against an independent numpy fit (norms are "
    "invariant to eigenvector sign/rotation within the subspace)",
)
def q_pca_project(spark, sf_dir):
    from victor_spark.operators.pca import fit_pca, project_dataframe

    e = _emb(spark, sf_dir)
    model = fit_pca(e, "v", k=8)
    proj = project_dataframe(e, "v", model, out_col="pc")
    return proj.select(
        "vec_id",
        F.round(norm("pc"), 4).alias("proj_norm"),
    )


# ===========================================================================
# extensions: SemDeDup / bigram LM quality / DSIR importance weights
# ===========================================================================

# SemDeDup (Abbas et al. 2023): cluster embeddings, then dedup ONLY within
# clusters — the pairwise cost is budgeted per cluster instead of global.
# Centroids here are the same deterministic sample the IVF queries use
# (every 250th vector), so DuckDB replays the assignment exactly; a real
# deployment swaps in operators/kmeans.py via the trainer seam.

_SEMDEDUP_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
corpus AS (
  SELECT vec_id, v FROM e
  UNION ALL
  SELECT vec_id + 100000, list_transform(v, x -> x * 2.0) FROM e WHERE vec_id % 10 = 0
),
-- both sides L2-normalized once (matches the Spark plan: pair scores are
-- then plain dots, bitwise-identical across engines)
nc AS (SELECT vec_id,
              list_transform(v, x -> x / sqrt(list_dot_product(v, v))) nv
       FROM corpus),
cent AS (SELECT vec_id cell,
                list_transform(v, x -> x / sqrt(list_dot_product(v, v))) ncv
         FROM e WHERE vec_id % 250 = 0),
assign AS (
  SELECT vec_id, nv, cell,
         row_number() OVER (PARTITION BY vec_id
           ORDER BY list_dot_product(nv, ncv) DESC, cell) rn
  FROM nc, cent
),
cells AS (SELECT vec_id, nv, cell FROM assign WHERE rn = 1),
sims AS (
  SELECT r.vec_id vec_id, max(list_dot_product(l.nv, r.nv)) m
  FROM cells l JOIN cells r ON l.cell = r.cell AND l.vec_id < r.vec_id
  GROUP BY r.vec_id
)
SELECT c.vec_id, c.cell,
       round(coalesce(s.m, -2.0), 6) AS max_lower_sim,
       CAST(coalesce(s.m, -2.0) < 0.99 AS INTEGER) AS keep
FROM cells c LEFT JOIN sims s ON c.vec_id = s.vec_id
"""


@_q(
    "semdedup",
    _SEMDEDUP_ORACLE,
    "SemDeDup (arXiv:2303.09540): nearest-centroid clustering, then cosine "
    "dedup WITHIN clusters only — per-cluster O(c²) instead of global "
    "all-pairs; lowest id in a duplicate set survives (keep=1). Centroid "
    "assignment is a map-side fold over the literal centroid array; the "
    "within-cluster compare is an equi-join on the cell key",
)
def q_semdedup(spark, sf_dir):
    from victor_spark.operators.dedup import semantic_dedup

    corpus = _emb_dup_corpus(spark, sf_dir)
    cent = _emb(spark, sf_dir).filter(F.col("vec_id") % 250 == 0).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("cv")
    )
    res = semantic_dedup(corpus, "vec_id", "v", cent, threshold=0.99)
    return res.select(
        "vec_id", "cell", F.round("max_lower_sim", 6).alias("max_lower_sim"), "keep"
    )


# Bigram LM quality score — the n=2 member of the CCNet perplexity-filter
# family (unigram_logprob is n=1): per-doc mean ln p(cur | prev) under the
# corpus bigram MLE. At 100 TB the shape is unchanged: two partial-agg'd
# count shuffles (pair key, context key) and a token-key equi-join.

_BIGRAM_ORACLE = f"""
WITH d AS (SELECT doc_id, {SQL_TOKS.format(s='lower(text)')} t FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)),
                i -> {{'prev': t[i], 'cur': t[i+1]}})) pc
  FROM d WHERE len(t) >= 2
),
p AS (SELECT doc_id, pc.prev prev, pc.cur cur FROM bg),
cpair AS (SELECT prev, cur, count(*) cp FROM p GROUP BY prev, cur),
cctx AS (SELECT prev, count(*) cc FROM p GROUP BY prev),
scored AS (
  SELECT p.doc_id, ln(CAST(cp AS DOUBLE) / CAST(cc AS DOUBLE)) lp
  FROM p JOIN cpair USING (prev, cur) JOIN cctx USING (prev)
),
per_doc AS (
  SELECT doc_id, count(*) n_bigrams, avg(lp) avg_logp FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       round(coalesce(p.avg_logp, 0.0), 6) AS avg_logp
FROM d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


@_q(
    "bigram_logprob",
    _BIGRAM_ORACLE,
    "bigram log-probability quality score per doc (the n=2 CCNet "
    "perplexity-filter member): corpus bigram MLE p(cur|prev) = "
    "C(prev,cur)/C(prev), mean ln p per doc — two count shuffles + a "
    "token-key equi-join; docs with <2 tokens score 0",
)
def q_bigram_logprob(spark, sf_dir):
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    d = docs.select("doc_id", T.tokens("lower(text)").alias("t"))
    t = F.col("t")
    # Round-11 measurement note: a distinct-(doc, bigram) rewrite via
    # term_counts was tried and REVERTED — matched A/B wall-timing at
    # sf0.1 showed 2.25s -> 5.39s (the interpreted sorted-run HOF over
    # gram strings costs far more than the codegen explode + partial-agg
    # pipeline it replaced).
    pairs = (
        d.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.struct(
                        F.element_at(t, i).alias("prev"),
                        F.element_at(t, i + 1).alias("cur"),
                    ),
                )
            ).alias("pc"),
        )
        .select("doc_id", F.col("pc.prev").alias("prev"), F.col("pc.cur").alias("cur"))
    )
    cpair = pairs.groupBy("prev", "cur").agg(F.count("*").alias("cp"))
    # Round-11 optimization, two moves (see OPTIMIZATION_r11.md): the
    # type table feeds multiple consumers with no Catalyst exchange
    # reuse (the kneser_ney finding), so the lazy checkpoint
    # materializes it once; and the context counts derive from the TYPE
    # table, not the occurrence stream — sum(cp) over cur == count(*)
    # over occurrences exactly (integer sums), so the second
    # corpus-wide tokenize + explode + shuffle on prev becomes a
    # Heaps-law-bounded aggregation of cpair.
    cpair = cpair.localCheckpoint(eager=False)
    cctx = cpair.groupBy("prev").agg(F.sum("cp").alias("cc"))
    scored = pairs.join(cpair, ["prev", "cur"]).join(cctx, ["prev"]).select(
        "doc_id",
        F.log(F.col("cp").cast("double") / F.col("cc").cast("double")).alias("lp"),
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"), F.avg("lp").alias("avg_logp")
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.round(F.coalesce("avg_logp", F.lit(0.0)), 6).alias("avg_logp"),
        )
    )


# DSIR (Xie et al. 2023, arXiv:2302.03169): data selection via importance
# resampling in a hashed n-gram feature space. Target distribution = the
# English slice, raw = the whole corpus; per-doc log importance weight =
# Σ_tokens [ln p_target(bucket) − ln p_raw(bucket)] with add-1 smoothing
# over the 64 hash buckets. The bucket log-ratio table is 64 rows —
# BROADCAST — so the per-token scoring join is map-side; the only shuffles
# are the two bucket-count partial aggregations and the per-doc sum.

_DSIR_H = SQL_H32.format(x="w")

_DSIR_ORACLE = f"""
WITH d AS (SELECT doc_id, lang, {SQL_TOKS.format(s='lower(text)')} t FROM documents),
tok AS (SELECT doc_id, lang, unnest(t) w FROM d),
b AS (SELECT doc_id, lang, {_DSIR_H} % 64 bkt FROM tok),
raw AS (SELECT bkt, count(*) cr FROM b GROUP BY bkt),
tgt AS (SELECT bkt, count(*) ct FROM b WHERE lang = 'en' GROUP BY bkt),
tot AS (SELECT (SELECT count(*) FROM b) tr, (SELECT count(*) FROM b WHERE lang = 'en') tt),
ratio AS (
  SELECT r.bkt,
         ln((CAST(coalesce(t.ct, 0) AS DOUBLE) + 1.0) / (tt + 64.0))
           - ln((CAST(r.cr AS DOUBLE) + 1.0) / (tr + 64.0)) lr
  FROM raw r LEFT JOIN tgt t ON r.bkt = t.bkt CROSS JOIN tot
),
scored AS (SELECT b.doc_id, ratio.lr FROM b JOIN ratio ON b.bkt = ratio.bkt),
per_doc AS (
  SELECT doc_id, count(*) n_tokens, sum(lr) logw FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       round(coalesce(p.logw, 0.0), 6) AS log_weight
FROM d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


@_q(
    "dsir_weights",
    _DSIR_ORACLE,
    "DSIR importance weights (arXiv:2302.03169): hashed-unigram (64 "
    "buckets, shared md5 family) log importance weight of every doc "
    "against the English slice as target — the bucket log-ratio table is "
    "broadcast, so scoring is map-side; add-1 smoothing, empty docs 0",
)
def q_dsir_weights(spark, sf_dir):
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    d = docs.select("doc_id", "lang", T.tokens("lower(text)").alias("t"))
    tok = d.select("doc_id", "lang", F.explode("t").alias("w")).select(
        "doc_id", "lang", (H.md5_32(F.col("w")) % 64).alias("bkt")
    )
    # ONE corpus pass builds BOTH bucket-count columns (round-11
    # optimization): the old raw/tgt split aggregated the token stream
    # twice — two tokenize + explode + hash passes over the corpus,
    # because the target side's pre-aggregation filter makes the
    # subtrees differ and defeats exchange reuse. count_if(lang = 'en')
    # in the same grouped aggregation produces the identical ct values
    # (0 where the old left join coalesced a missing bucket) for half
    # the scans and half the bucket exchanges.
    bk = tok.groupBy("bkt").agg(
        F.count("*").alias("cr"),
        F.count_if(F.col("lang") == "en").alias("ct"),
    )
    # Round-11 optimization: the 64-row bucket log-ratio table is a
    # model artifact (DSIR's hashed-ngram importance model — same O(k)
    # class as the PQ codebook), so instead of joining every corpus
    # token against it and re-aggregating per doc (a corpus-token
    # shuffle + a left join back), collapse it to ONE broadcast map row
    # and fold each doc's own token array map-side. n_tokens is the
    # row-local size(t); the per-doc sum folds in array order (the
    # grouped sum's order was partition-dependent already, and both
    # engines round at 1e-6). Corpus tokens now never shuffle — the
    # only exchanges left are the two 64-row bucket aggregations.
    # The totals tr/tt are sums over the SAME 64-row bucket table, so
    # deriving them as array folds over one collected-to-a-row copy of
    # it (collect_list of 64 structs) keeps the whole model build ONE
    # subtree — the previous shape aggregated bk twice (once for the
    # totals, once for the entries) and Catalyst planned two full
    # tokenize passes for it (exchange reuse missed across the
    # differing projections). Integer fold order is irrelevant (exact),
    # and the ln() inputs are the identical integers, so every lr value
    # is bit-identical to the joined form's.
    lr_map = F.broadcast(
        bk.agg(F.collect_list(F.struct("bkt", "cr", "ct")).alias("_rows"))
        .select(
            bind(
                F.col("_rows"),
                lambda rows: bind(
                    F.aggregate(
                        rows, F.lit(0).cast("long"), lambda a, r: a + r["cr"]
                    ).cast("double"),
                    lambda tr: bind(
                        F.aggregate(
                            rows, F.lit(0).cast("long"), lambda a, r: a + r["ct"]
                        ).cast("double"),
                        lambda tt: F.map_from_entries(
                            F.transform(
                                rows,
                                lambda r: F.struct(
                                    r["bkt"].alias("bkt"),
                                    (
                                        F.log(
                                            (r["ct"].cast("double") + 1.0)
                                            / (tt + 64.0)
                                        )
                                        - F.log(
                                            (r["cr"].cast("double") + 1.0)
                                            / (tr + 64.0)
                                        )
                                    ).alias("lr"),
                                ),
                            )
                        ),
                    ),
                ),
            ).alias("_lr")
        )
    )
    t = F.col("t")
    logw = F.aggregate(
        t,
        F.lit(0.0),
        lambda a, w: a + F.element_at(F.col("_lr"), H.md5_32(w) % 64),
    )
    return d.crossJoin(lr_map).select(
        "doc_id",
        F.coalesce(F.size(t), F.lit(0)).cast("long").alias("n_tokens"),
        F.round(F.coalesce(logw, F.lit(0.0)), 6).alias("log_weight"),
    )


# Banding recall audit — the dedup twin of ann_recall: what fraction of
# TRUE Jaccard-≥τ pairs does MinHash-LSH banding actually surface as
# candidates (the b/r tuning metric, as a query)? Spark computes truth via
# the scalable ppjoin and candidates via banding; the oracle brute-forces
# truth over all pairs (fine at gate SF) and replays banding exactly.
# The corpus uses PARTIAL duplicates (55% token prefix, shingle J ≈ 0.55,
# right where banding starts missing pairs) — exact
# dups have J = 1.0 and are always caught, which would pin recall at 1.0
# and make the audit vacuous.

_PARTIAL_DUP_SQL = f"""SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 100000 AS doc_id,
       array_to_string(t[1 : CAST(ceil(0.55 * len(t)) AS INTEGER)], ' ') AS text
FROM (SELECT doc_id, {SQL_TOKS.format(s='text')} t FROM documents)
WHERE doc_id % 10 = 0"""


def _partial_dup_corpus(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    partial = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        bind(
            T.tokens("text"),
            lambda tt: F.array_join(
                F.slice(tt, F.lit(1), F.ceil(F.lit(0.55) * F.size(tt)).cast("int")),
                " ",
            ),
        ).alias("text"),
    )
    return d.unionAll(partial)


_DEDUP_RECALL_ORACLE = f"""
WITH {_minhash_ctes(_PARTIAL_DUP_SQL)},
truth AS (
  SELECT a.doc_id id_a, b.doc_id id_b,
         CAST(len(list_intersect(a.h, b.h)) AS DOUBLE)
           / len(list_distinct(a.h || b.h)) j
  FROM hs a JOIN hs b ON a.doc_id < b.doc_id
),
th AS (SELECT unnest([0.5, 0.7]) tau),
lab AS (
  SELECT th.tau, t.j, CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END caught
  FROM th JOIN truth t ON t.j >= th.tau
  LEFT JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b
)
SELECT tau AS threshold,
       CAST(count(*) AS BIGINT) AS n_true,
       CAST(sum(caught) AS BIGINT) AS n_caught,
       round(CAST(sum(caught) AS DOUBLE) / count(*), 6) AS recall,
       CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates
FROM lab GROUP BY tau
"""


def _recall_audit_sides(spark, sf_dir):
    """(truth, cand) pair relations of dedup_recall_audit: exact Jaccard
    >= 0.5 pairs and MinHash-LSH banding candidates, each keyed by
    (id_a, id_b) with id_a < id_b. The audit's full-outer reshape counts
    each key once, so both sides must be duplicate-free on that key."""
    from victor_spark.operators.dedup import (
        hashed_shingle_sets,
        minhash_candidate_pairs,
        ngram_jaccard_join,
    )

    corpus = _partial_dup_corpus(spark, sf_dir)
    # ONE shingle-hashing pass feeds both sides (passing hashed= also
    # stops the second build from evicting the first build's cache)
    hashed = hashed_shingle_sets(corpus, "doc_id", "text", shingle_n=3, unit="word")
    truth = ngram_jaccard_join(
        corpus, "doc_id", "text", threshold=0.5, shingle_n=3, unit="word",
        hashed=hashed,
    )
    cand = minhash_candidate_pairs(
        corpus, "doc_id", "text",
        num_hashes=MINHASH_NUM, bands=MINHASH_BANDS, shingle_n=3, unit="word",
        hashed=hashed,
    )
    return truth, cand


@_q(
    "dedup_recall_audit",
    _DEDUP_RECALL_ORACLE,
    "MinHash-LSH banding recall vs exact Jaccard ground truth at τ ∈ "
    "{0.5, 0.7} — the b/r tuning metric as a query (the dedup-family "
    "twin of ann_recall). Truth comes from the lossless ppjoin, "
    "candidates from the banding join; at 100 TB both are the production "
    "paths, so the audit costs one extra equi-join. Partial (55%-prefix) "
    "duplicates keep the metric non-vacuous",
)
def q_dedup_recall_audit(spark, sf_dir):
    truth, cand = _recall_audit_sides(spark, sf_dir)
    # Round-11 measurement note: a lazy-checkpoint reuse barrier on cand
    # (it feeds the n_candidates aggregate AND the label join) was tried
    # and REVERTED — qmetrics showed it does eliminate real recompute
    # (586 -> 331 tasks), but matched min-of-5 A/B wall-timing at sf0.1
    # never beat the barrier-free tree (2.76s -> 3.54s best-of-four
    # experiments): materializing the banding join's output and cutting
    # AQE off below it costs more here than the duplicated-but-parallel
    # subtree.
    #
    # Round-12 (guide §2.4/§1.2, verdict item 3): instead of a barrier,
    # make the plan consume cand ONCE — a FULL OUTER join of truth and
    # cand feeds a single global aggregation that computes n_true /
    # n_caught per tau (conditional aggregates; cand-only rows have NULL
    # jaccard and never satisfy jaccard >= tau) AND n_candidates
    # (sum of the cand-side indicator over the same rows), then a 1-row
    # explode reshapes to the per-tau output. This deletes the second
    # banding-join evaluation (sig recompute + band self-join + distinct,
    # plan nodes 73-92 of the r12 before-dump) and the crossJoin(tau)
    # row doubling. A tau group appears only when n_true > 0 — exactly
    # when the old groupBy produced it. Matched min-of-5 A/B at sf0.1:
    # 2.03s -> 1.67s (every pass lower); output verified identical at
    # sf0.001 and sf0.01 before switching.
    outer = truth.join(
        cand.withColumn("_c", F.lit(1)), ["id_a", "id_b"], "full"
    ).select(
        "jaccard",
        F.coalesce("_c", F.lit(0)).alias("caught"),
        F.col("_c").alias("_isc"),
    )
    taus = [0.5, 0.7]
    aggs = []
    for i, t in enumerate(taus):
        hit = F.col("jaccard") >= F.lit(t)
        aggs.append(F.count(F.when(hit, 1)).alias(f"_nt{i}"))
        aggs.append(
            F.sum(F.when(hit, F.col("caught")).otherwise(F.lit(0))).alias(f"_nc{i}")
        )
    aggs.append(F.sum("_isc").cast("long").alias("n_candidates"))
    one = outer.agg(*aggs)
    rows = F.explode(
        F.array(*[
            F.struct(
                F.lit(t).alias("threshold"),
                F.col(f"_nt{i}").cast("long").alias("n_true"),
                F.col(f"_nc{i}").cast("long").alias("n_caught"),
                F.round(
                    F.col(f"_nc{i}").cast("double") / F.col(f"_nt{i}"), 6
                ).alias("recall"),
            )
            for i, t in enumerate(taus)
        ])
    ).alias("r")
    return (
        one.select(rows, "n_candidates")
        .filter(F.col("r.n_true") > 0)
        .select("r.threshold", "r.n_true", "r.n_caught", "r.recall", "n_candidates")
    )


# Video frame sampling — the row-EXPANDING multimodal shape (one output
# row per sampled frame). The frame slicing is the stub decode seam; the
# byte contract (every 2nd 16-byte slice, short tail, videos only) is
# replayed exactly by the oracle over the blob's hex.

_FRAME_SAMPLE_ORACLE = """
WITH m AS (SELECT doc_id AS media_id, encode(text) payload FROM documents
           WHERE doc_id % 3 = 2),
f AS (SELECT media_id, hex(payload) h,
             (octet_length(payload) + 15) // 16 n_frames
      FROM m),
s AS (SELECT media_id, h, n_frames, unnest(range(0, n_frames, 2)) i FROM f)
SELECT media_id,
       CAST(i AS INTEGER) AS frame_idx,
       CAST(n_frames AS BIGINT) AS n_frames,
       CAST(len(substr(h, CAST(i * 32 + 1 AS INTEGER), 32)) // 2 AS BIGINT)
         AS frame_len,
       md5(substr(h, CAST(i * 32 + 1 AS INTEGER), 32)) AS frame_md5
FROM s
"""


@_q(
    "multimodal_frame_sample",
    _FRAME_SAMPLE_ORACLE,
    "video frame sampling (row-expanding mapInPandas): every 2nd 16-byte "
    "frame of each video payload becomes its own row — partition-local, "
    "Arrow-batched, no shuffle; downstream per-frame stages parallelize "
    "over frames, not videos. Stub slicing; real demuxer swaps in behind "
    "the same batch shape",
)
def q_multimodal_frame_sample(spark, sf_dir):
    from victor_spark.operators.multimodal import sample_frames, synthesize_media

    d = fan_out(load_table(spark, sf_dir, "documents")).filter(
        F.col("doc_id") % 3 == 2
    )
    media = synthesize_media(d, "doc_id", "text", kind="video")
    frames = sample_frames(media, frame_bytes=16, stride=2)
    return frames.select(
        "media_id",
        "frame_idx",
        "n_frames",
        F.octet_length("frame").cast("long").alias("frame_len"),
        F.md5(F.hex("frame")).alias("frame_md5"),
    )


# Rolling distinct actives (DAU / trailing-7-day WAU): exact sliding
# COUNT(DISTINCT) cannot ride a window frame, so each (day, user) activity
# row CONTRIBUTES itself to the 7 window-end days it falls in — the
# explode-to-window rewrite. The explode runs over the deduped (day, user)
# table (tiny next to the event stream at 100 TB), ×7 rows, then one
# distinct-count per day; at extreme cardinality approx_count_distinct /
# HLL sketch union is the documented drop-in (same shape as
# events_quantiles' approx note).

_ROLLING_ACTIVE_ORACLE = """
WITH du AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) d, user_id
            FROM events),
mx AS (SELECT max(d) md FROM du),
contrib AS (SELECT CAST(d + CAST(o AS INTEGER) AS DATE) wd, user_id
            FROM du, (SELECT unnest(range(0, 7)) o)),
wau AS (SELECT wd, count(DISTINCT user_id) w FROM contrib, mx
        WHERE wd <= md GROUP BY wd),
dau AS (SELECT d, count(DISTINCT user_id) a FROM du GROUP BY d)
SELECT strftime(wau.wd, '%Y-%m-%d') AS day,
       CAST(coalesce(dau.a, 0) AS BIGINT) AS dau,
       CAST(wau.w AS BIGINT) AS wau_7d
FROM wau LEFT JOIN dau ON wau.wd = dau.d
"""


@_q(
    "events_rolling_active",
    _ROLLING_ACTIVE_ORACLE,
    "DAU + exact trailing-7-day WAU per day: sliding COUNT(DISTINCT) via "
    "the explode-to-window rewrite — each deduped (day, user) row "
    "contributes to the 7 window-end days it falls in, then one "
    "distinct-count per day; no global window, HLL is the extreme-"
    "cardinality drop-in",
)
def q_events_rolling_active(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    # the distinct (day, user) table feeds BOTH rollups; the lazy
    # checkpoint keeps the scan + distinct from running twice (round-11
    # optimization, the semdedup/doremi reuse-barrier precedent)
    du = (
        e.select(F.to_date(F.date_trunc("day", "ts")).alias("d"), "user_id")
        .distinct()
        .localCheckpoint(eager=False)
    )
    maxd = F.broadcast(du.agg(F.max("d").alias("md")))
    contrib = du.select(
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias("wd"),
        "user_id",
    )
    wau = (
        contrib.crossJoin(maxd)
        .filter(F.col("wd") <= F.col("md"))
        .groupBy("wd")
        .agg(F.countDistinct("user_id").alias("w"))
    )
    # du is already distinct on (d, user_id), so the per-day distinct
    # count is a plain count(*) — countDistinct here paid a second
    # expand + exchange round for a set that is distinct by construction
    # (round-11 optimization, guide §2.4 "a distinct on data that is
    # already unique")
    dau = du.groupBy("d").agg(F.count("*").alias("a"))
    return (
        wau.join(dau, wau["wd"] == dau["d"], "left")
        .select(
            F.date_format("wd", "yyyy-MM-dd").alias("day"),
            F.coalesce("a", F.lit(0)).cast("long").alias("dau"),
            F.col("w").cast("long").alias("wau_7d"),
        )
    )


_ROLLING_ACTIVE_HLL_ORACLE = f"""
WITH du AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) d, user_id
            FROM events),
mx AS (SELECT max(d) md FROM du),
contrib AS (SELECT CAST(d + CAST(o AS INTEGER) AS DATE) wd, user_id
            FROM du, (SELECT unnest(range(0, 7)) o)),
wc AS (SELECT wd, user_id FROM contrib, mx WHERE wd <= md),
pre AS (SELECT wd,
               {SQL_H32.format(x='CAST(user_id AS VARCHAR)')} % 1024 AS bucket,
               {SQL_H32.format(x="concat('hll:', CAST(user_id AS VARCHAR))")} AS w
        FROM wc),
regs AS (SELECT wd, bucket,
                max(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END) r
         FROM pre GROUP BY wd, bucket),
agg AS (SELECT wd,
               sum(power(2.0, -r)) + (1024 - count(*)) s,
               1024 - count(*) v
        FROM regs GROUP BY wd),
est AS (SELECT wd,
               CASE WHEN v > 0
                     AND 0.7213 / (1.0 + 1.079 / 1024.0) * 1024.0 * 1024.0 / s
                         <= 2560.0
                    THEN 1024.0 * ln(1024.0 / v)
                    ELSE 0.7213 / (1.0 + 1.079 / 1024.0) * 1024.0 * 1024.0 / s
               END e
        FROM agg),
exact AS (SELECT wd, count(DISTINCT user_id) x FROM wc GROUP BY wd)
SELECT strftime(est.wd, '%Y-%m-%d') AS day,
       round(est.e + 1e-9, 4) AS wau_7d_hll,
       abs(est.e / exact.x - 1.0) <= 0.15 AS within_err
FROM est JOIN exact ON est.wd = exact.wd
"""


@_q(
    "events_rolling_active_approx",
    _ROLLING_ACTIVE_HLL_ORACLE,
    "the 100 TB drop-in for events_rolling_active AS A TESTED QUERY: "
    "trailing-7-day WAU per day from per-(day, bucket) HLL registers "
    "(p=10, the sketches.py md5 family) instead of exact "
    "COUNT(DISTINCT) — registers max-combine map-side and the per-day "
    "state is 1024 rows regardless of user cardinality, the algebra a "
    "100 TB rollup merges instead of re-reading data. The oracle "
    "REPLAYS the registers bit-for-bit (dyadic sums exact; ln only in "
    "the linear-counting branch, shared-shift rounded) AND computes the "
    "exact count DuckDB-side, asserting the estimate lands within 15% — "
    "an out-of-contract sketch hash-mismatches the gate",
)
def q_events_rolling_active_approx(spark, sf_dir):
    from victor_spark.functions.hashing import md5_32

    e = load_table(spark, sf_dir, "events")
    u = F.col("user_id").cast("string")
    w = md5_32(F.concat(F.lit("hll:"), u))
    rho = F.when(w == 0, F.lit(33)).otherwise(F.lit(33) - F.length(F.bin(w)))
    # Round-11 optimization (guide §2.3 "shuffle keys and metadata
    # instead of payloads"): HLL registers merge by max, so the per-DAY
    # registers are computed FIRST and the 7-day window explode rides on
    # <= 1024 register rows per day instead of on per-user rows. The old
    # plan shuffled every (day, user) row once for the distinct and 7x
    # more through the window explode; per-user rows now never shuffle
    # at all (map-side max partials), and the distinct is dropped
    # outright — max(rho) over duplicate user rows equals max(rho) over
    # distinct users, which is the whole point of the register algebra.
    # Same registers, same estimate, bit-for-bit.
    day_regs = (
        e.select(
            F.to_date(F.date_trunc("day", "ts")).alias("d"),
            (md5_32(u) % F.lit(1024)).alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("d", "bucket")
        .agg(F.max("rho").alias("r0"))
        .localCheckpoint(eager=False)
    )
    maxd = F.broadcast(day_regs.agg(F.max("d").alias("md")))
    regs = (
        day_regs.select(
            F.explode(
                F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
            ).alias("wd"),
            "bucket",
            "r0",
        )
        .crossJoin(maxd)
        .filter(F.col("wd") <= F.col("md"))
        .groupBy("wd", "bucket")
        .agg(F.max("r0").alias("r"))
    )
    # algebraic densification: the 1024 - count(*) empty registers each
    # contribute 2^0 to the harmonic sum — no spine join per day
    agg = regs.groupBy("wd").agg(
        (
            F.sum(F.pow(F.lit(2.0), -F.col("r").cast("double")))
            + (F.lit(1024) - F.count("*"))
        ).alias("s"),
        (F.lit(1024) - F.count("*")).alias("v"),
    )
    raw = (
        F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(1024.0))
        * F.lit(1024.0) * F.lit(1024.0) / F.col("s")
    )
    est = F.when(
        (F.col("v") > 0) & (raw <= F.lit(2560.0)),
        F.lit(1024.0) * F.log(F.lit(1024.0) / F.col("v").cast("double")),
    ).otherwise(raw)
    return agg.select(
        F.date_format("wd", "yyyy-MM-dd").alias("day"),
        F.round(est + F.lit(1e-9), 4).alias("wau_7d_hll"),
        F.lit(True).alias("within_err"),
    )


# Event-type transition matrix (the Markov view of user journeys): count
# and P(next | prev) over each user's time-ordered event stream. One
# shuffle (the per-user lag window); the matrix itself is k² rows, so the
# probability normalization is a window over a tiny aggregate.

_TRANSITIONS_ORACLE = """
WITH s AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) prev
  FROM events
),
t AS (SELECT prev, event_type nxt, count(*) n FROM s
      WHERE prev IS NOT NULL GROUP BY prev, event_type)
SELECT prev AS prev_type, nxt AS next_type, CAST(n AS BIGINT) AS n,
       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev), 6) AS p
FROM t
"""


@_q(
    "events_transitions",
    _TRANSITIONS_ORACLE,
    "per-user event-type transition matrix (Markov journey view): lag "
    "window ordered by (ts, event_id) per user — ONE shuffle on user_id, "
    "partial-agg'd pair counts, P(next|prev) normalized by a window over "
    "the k²-row matrix",
)
def q_events_transitions(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    t = s.groupBy("prev", "event_type").agg(F.count("*").alias("n"))
    wp = Window.partitionBy("prev")
    return t.select(
        F.col("prev").alias("prev_type"),
        F.col("event_type").alias("next_type"),
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n").cast("double") / F.sum("n").over(wp), 6).alias("p"),
    )


# PII detection + redaction (the BigCode/Dolma scrubbing stage): count
# and replace emails / IPv4s / phone-shaped numbers with typed masks in
# one codegen projection — regexes kept to the syntax subset Java and
# RE2 interpret identically. Testdata carries no PII, so every 20th doc
# gets a deterministic PII suffix INSIDE the query (both engines state
# the same corpus), keeping the oracle non-vacuous on regenerated data.

_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IP = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
_PII_PHONE = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

_PII_CORPUS_SQL = """SELECT doc_id,
       CASE WHEN doc_id % 20 = 0 THEN
         concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                '@example.com or 10.0.0.', CAST(doc_id % 256 AS VARCHAR),
                ' tel 555-', CAST(100 + doc_id % 900 AS VARCHAR), '-0199')
       ELSE text END AS text
FROM documents"""

_PII_ORACLE = f"""
WITH d AS ({_PII_CORPUS_SQL}),
r AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{_PII_EMAIL}')) n_emails,
         len(regexp_extract_all(text, '{_PII_IP}')) n_ips,
         len(regexp_extract_all(text, '{_PII_PHONE}')) n_phones,
         regexp_replace(regexp_replace(regexp_replace(text,
             '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_IP}', '<IP>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g') red
  FROM d
)
SELECT doc_id,
       CAST(n_emails AS INTEGER) AS n_emails,
       CAST(n_ips AS INTEGER) AS n_ips,
       CAST(n_phones AS INTEGER) AS n_phones,
       sha256(red) AS redacted_hash
FROM r
"""


@_q(
    "pii_redact",
    _PII_ORACLE,
    "PII scrubbing (the BigCode/Dolma curation stage): detect + mask "
    "emails, IPv4s, and phone-shaped numbers in one codegen projection — "
    "counts per type + sha256 of the redacted text; regex subset chosen "
    "for identical Java/RE2 semantics",
)
def q_pii_redact(spark, sf_dir):
    d = fan_out(load_table(spark, sf_dir, "documents"))
    suffix = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or 10.0.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit(" tel 555-"), (F.lit(100) + F.col("doc_id") % 900).cast("string"),
        F.lit("-0199"),
    )
    t = F.when(F.col("doc_id") % 20 == 0, suffix).otherwise(F.col("text"))
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, _PII_EMAIL, "<EMAIL>"),
            _PII_IP, "<IP>"),
        _PII_PHONE, "<PHONE>")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(_PII_EMAIL), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(_PII_IP), F.lit(0))).alias("n_ips"),
        F.size(F.regexp_extract_all(t, F.lit(_PII_PHONE), F.lit(0))).alias("n_phones"),
        F.sha2(red, 256).alias("redacted_hash"),
    )


# Exact substring dedup with REMOVAL (Lee et al. 2021, arXiv:2107.06499,
# at word-8-gram window granularity): every occurrence of a duplicated
# window except the global first (min (doc_id, pos)) is removed — tokens
# covered by any such occurrence are dropped and the doc reassembled.
# dup_span_frac is the AUDIT of this; this is the materialization. Shape:
# window-hash occurrences explode ×len, the first-occurrence argmin is
# one hash-keyed aggregation, coverage explodes ×8, and reassembly is a
# per-doc sorted collect (bounded by doc length) — no all-pairs path.

_SUBSTR_W = 8

_SUBSTR_DEDUP_ORACLE = f"""
WITH d AS (SELECT doc_id, {SQL_TOKS.format(s='text')} t
           FROM ({_DUP_CORPUS_SQL})),
occ0 AS (SELECT doc_id, t,
                CAST(unnest(range(1, len(t) - {_SUBSTR_W - 2})) AS INTEGER) pos
         FROM d WHERE len(t) >= {_SUBSTR_W}),
occ AS (SELECT doc_id, pos,
               {SQL_H32.format(x=f"array_to_string(t[pos : pos + {_SUBSTR_W - 1}], ' ')")} h
        FROM occ0),
rk AS (SELECT doc_id, pos,
              row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) rn
       FROM occ),
cov AS (SELECT DISTINCT doc_id, pos + o cp
        FROM (SELECT doc_id, pos FROM rk WHERE rn > 1),
             (SELECT unnest(range(0, {_SUBSTR_W})) o)),
tokpos AS (SELECT doc_id, unnest(t) tok,
                  CAST(unnest(range(1, len(t) + 1)) AS INTEGER) pos
           FROM d),
kept AS (SELECT tp.doc_id, tp.pos, tp.tok
         FROM tokpos tp LEFT JOIN cov
           ON tp.doc_id = cov.doc_id AND tp.pos = cov.cp
         WHERE cov.cp IS NULL),
cleaned AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) c
            FROM kept GROUP BY doc_id),
ncov AS (SELECT doc_id, count(*) n FROM cov GROUP BY doc_id)
SELECT d.doc_id,
       CAST(len(d.t) AS INTEGER) AS n_tokens,
       CAST(coalesce(ncov.n, 0) AS INTEGER) AS n_removed,
       sha256(coalesce(cleaned.c, '')) AS cleaned_hash
FROM d LEFT JOIN cleaned ON d.doc_id = cleaned.doc_id
       LEFT JOIN ncov ON d.doc_id = ncov.doc_id
"""


@_q(
    "dedup_substring_global",
    _SUBSTR_DEDUP_ORACLE,
    "exact substring dedup with REMOVAL (arXiv:2107.06499) at word-8-gram "
    "windows: only the globally-first occurrence of a duplicated window "
    "survives; covered tokens are dropped and docs reassembled "
    "(dup_span_frac is the audit, this is the materialization). One "
    "hash-keyed argmin shuffle + per-doc bounded reassembly, never "
    "all-pairs",
)
def q_dedup_substring_global(spark, sf_dir):
    W = _SUBSTR_W
    # Round-12: fan_out — the corpus union entered with 2 partitions, so
    # the per-token window hashing (the dominant cost) ran on 2 of 32
    # cores (qmetrics: 11 tasks total). Guide §2.5 input skew.
    d = fan_out(_dup_corpus(spark, sf_dir)).select(
        "doc_id", T.tokens("text").alias("t")
    )
    occ = d.filter(F.size("t") >= W).select(
        "doc_id",
        F.explode(
            bind(
                F.col("t"),
                lambda tt: F.transform(
                    F.sequence(F.lit(1), F.size(tt) - (W - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        H.md5_32(
                            F.array_join(F.slice(tt, i, W), " ")
                        ).alias("h"),
                    ),
                ),
            )
        ).alias("o"),
    ).select("doc_id", F.col("o.pos").alias("pos"), F.col("o.h").alias("h"))
    # Round-12 (guide §2.4/§1.2): the old groupBy(h).min(struct) +
    # join-back evaluated the occ subtree TWICE (plan showed the window
    # Generate at two nodes — the whole corpus re-tokenized and re-hashed
    # for the aggregate side), and the "broadcast firsts" shape is a
    # mirage at 100 TB: firsts is one row per DISTINCT window hash
    # (nearly corpus-sized), far over the broadcast cap, so the join
    # degrades to a second occ-sized exchange on h anyway. The
    # row_number window is the oracle's own formulation: ONE evaluation
    # of occ, ONE exchange by h. (doc_id, pos) is unique per h, so the
    # rank is total-ordered and deterministic. Known trade: a window
    # cannot split a single hot hash the way AQE skew-join can — at
    # this window width (8-gram) a key that hot means a corpus-scale
    # boilerplate string that substring dedup is designed to remove.
    # Matched A/B min-of-5 at sf0.1: 2.97s -> 1.31s; sf0.01 output
    # verified identical across shapes before switching.
    w = Window.partitionBy("h").orderBy("doc_id", "pos")
    dups = occ.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") > 1)
    # Reassembly rides the COVERED set (round-9 dedup perf refactor):
    # per-doc covered positions collapse into one array, and each doc is
    # rebuilt by a codegen index-filter over its original token array.
    # The old shape posexploded EVERY corpus token through an anti-join
    # shuffle and regrouped the kept text via collect_list — two
    # corpus-token-sized exchanges to fetch what is a projection of
    # (t, covered). The per-doc filter is O(|t| x |covered|) worst case —
    # doc-bounded, which at 100 TB always beats a corpus shuffle. Output
    # byte-identical; oracle re-gated.
    cov = dups.select(
        "doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + (W - 1))).alias("cp")
    ).distinct()
    cov_arr = cov.groupBy("doc_id").agg(F.collect_set("cp").alias("_cp"))
    cp = F.coalesce(F.col("_cp"), F.array().cast("array<int>"))
    kept = bind(
        cp,
        lambda cps: F.filter(
            F.col("t"), lambda x, i: ~F.array_contains(cps, i + 1)
        ),
    )
    return d.join(cov_arr, "doc_id", "left").select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.size(cp).cast("int").alias("n_removed"),
        F.sha2(F.array_join(kept, " "), 256).alias("cleaned_hash"),
    )


# BM25 (Robertson; the Lucene-default form): TF-IDF's production-grade
# sibling — same two shuffles (per-(doc,term) counts, broadcast df
# table) plus a broadcast 1-row avg-length scalar; saturation k1=1.2,
# length normalization b=0.75, idf = ln(1 + (N - df + 0.5)/(df + 0.5)).

_BM25_ORACLE = """
WITH d AS (SELECT doc_id,
                  list_filter(string_split(lower(text), ' '), x -> x <> '') t
           FROM documents),
n AS (SELECT count(*) nd FROM d),
tc AS (SELECT doc_id, tok, count(*) c
       FROM (SELECT doc_id, unnest(t) tok FROM d) GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(c) len FROM tc GROUP BY 1),
avgl AS (SELECT avg(CAST(len AS DOUBLE)) al FROM dl),
df AS (SELECT tok, count(*) df FROM tc GROUP BY 1),
w AS (
  SELECT tc.doc_id, tc.tok,
         ln(1.0 + (n.nd - df.df + 0.5) / (df.df + 0.5))
           * (CAST(tc.c AS DOUBLE) * 2.2)
           / (tc.c + 1.2 * (0.25 + 0.75 * dl.len / avgl.al)) bm25
  FROM tc JOIN dl USING (doc_id) JOIN df USING (tok)
          CROSS JOIN n CROSS JOIN avgl
),
r AS (SELECT doc_id, tok, bm25,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY bm25 DESC, tok) rn
      FROM w)
SELECT doc_id, tok AS term, round(bm25, 6) AS bm25, CAST(rn AS INTEGER) AS rank
FROM r WHERE rn <= 3
"""


@_q(
    "bm25_top_terms",
    _BM25_ORACLE,
    "BM25 top-3 terms per doc (Robertson k1=1.2 b=0.75, Lucene idf form): "
    "TF-IDF's production sibling — per-(doc,term) counts, broadcast df "
    "table + 1-row avg-length scalar, rank-limit window",
)
def q_bm25_top_terms(spark, sf_dir):
    # Round-11 measurement note: the row-local term_counts rewrite was
    # tried and REVERTED here too — matched A/B wall-timing at sf0.1
    # showed 2.58s -> 3.03s (same verdict as tfidf_top_terms: the
    # interpreted sorted-run HOF costs more locally than the codegen
    # explode + partial-agg exchanges it removed).
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    d = docs.select("doc_id", T.tokens("lower(text)").alias("t"))
    nd = F.broadcast(d.agg(F.count("*").cast("double").alias("nd")))
    # Round-11 optimization (the tfidf move): the per-doc length is
    # size(t), known before the explode, so it rides the (doc, tok)
    # aggregation as a first() payload — the dl groupBy(doc_id) shuffle
    # and the doc-keyed join that re-shuffled the whole pair table are
    # gone (sum(c) over a doc's pairs == size(t) exactly). The average
    # length re-derives from the pair table itself: sum(c) is the same
    # total-token numerator and count_distinct(doc_id) the same
    # with-tokens-doc denominator as avg(len) over dl — integer-exact
    # sums, so the division is bit-identical.
    tc = d.select(
        "doc_id", F.size("t").alias("len"), F.explode("t").alias("tok")
    ).groupBy("doc_id", "tok").agg(
        F.count("*").alias("c"), F.first("len").alias("len")
    )
    # reuse barrier (the tfidf move): tc feeds avgl, df_t and the
    # scoring join with no Catalyst exchange reuse between them
    tc = tc.localCheckpoint(eager=False)
    avgl = F.broadcast(
        tc.agg(
            (
                F.sum("c").cast("double") / F.count_distinct("doc_id")
            ).alias("al")
        )
    )
    df_t = tc.groupBy("tok").agg(F.count("*").alias("df"))
    w = (
        tc.join(df_t, "tok")
        .crossJoin(nd)
        .crossJoin(avgl)
        .select(
            "doc_id", "tok",
            (
                F.log(1.0 + (F.col("nd") - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * (F.col("c").cast("double") * 2.2)
                / (F.col("c") + 1.2 * (0.25 + 0.75 * F.col("len") / F.col("al")))
            ).alias("bm25"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(F.desc("bm25"), F.asc("tok"))
    return (
        w.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= 3)
        .select("doc_id", F.col("tok").alias("term"),
                F.round("bm25", 6).alias("bm25"), "rank")
    )


# Language-ID confusion matrix: the audit of the lang_id heuristic
# against the labeled lang column — (actual, predicted) counts and the
# per-actual recall fraction. One aggregation; the normalizing window
# runs over the k²-row matrix.

_LANG_CONFUSION_ORACLE = f"""
WITH m AS (
  SELECT actual_lang, pred_lang, count(*) n
  FROM ({_lang_id_sql()}) GROUP BY 1, 2
)
SELECT actual_lang, pred_lang, CAST(n AS BIGINT) AS n,
       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY actual_lang), 6) AS frac
FROM m
"""


@_q(
    "lang_confusion",
    _LANG_CONFUSION_ORACLE,
    "language-ID confusion matrix: the lang_id heuristic audited against "
    "the labeled lang column — (actual, predicted) counts + per-actual "
    "fraction; one aggregation, normalization over the k²-row matrix",
)
def q_lang_confusion(spark, sf_dir):
    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        F.col("lang").alias("actual_lang"), T.lang_id("text").alias("pred_lang")
    )
    m = d.groupBy("actual_lang", "pred_lang").agg(F.count("*").alias("n"))
    win = Window.partitionBy("actual_lang")
    return m.select(
        "actual_lang", "pred_lang", F.col("n").cast("long").alias("n"),
        F.round(F.col("n").cast("double") / F.sum("n").over(win), 6).alias("frac"),
    )


# HyperLogLog distinct shingles: the 100 TB distinct-count path as an
# oracle-checked audit. count(DISTINCT shingle) shuffles every distinct
# value; the HLL register table is a fixed 1024-row summary whose
# per-bucket max combines map-side and merges across corpus slices
# (operators/sketches.py). Every post-register quantity is cross-engine
# exact: the harmonic sum folds dyadic rationals (2^-r, r<=33) whose
# exact sum fits in 53 mantissa bits, so the double accumulation is
# order-independent; alpha and the estimate are single IEEE ops on
# shared literals. The raw (large-range) branch is the active one here —
# distinct shingles >> 2.5·m — and the ONLY branch either side states,
# keeping ln() (not identically rounded across engines) out of the gate.

_HLL_ORACLE = f"""
WITH toks AS (SELECT doc_id, {SQL_TOKS.format(s='lower(text)')} t FROM documents),
sh AS (SELECT doc_id, {SQL_WORD_SHINGLES.format(t='t')} shing FROM toks),
g AS (SELECT unnest(shing) g FROM sh),
h AS (SELECT {SQL_H32.format(x='g')} % 1024 AS bucket,
             {SQL_H32.format(x="concat('hll:', g)")} AS w
      FROM g),
r AS (SELECT bucket,
             max(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END) r
      FROM h GROUP BY bucket),
spine AS (SELECT unnest(range(0, 1024)) AS bucket),
regs AS (SELECT coalesce(r.r, 0) r FROM spine LEFT JOIN r USING (bucket)),
agg AS (SELECT sum(power(2.0, -r)) s,
               count(CASE WHEN r = 0 THEN 1 END) v
        FROM regs),
ex AS (SELECT count(DISTINCT g) exact_distinct FROM g)
SELECT CAST(exact_distinct AS BIGINT) AS exact_distinct,
       round(0.7213 / (1.0 + 1.079 / 1024.0) * 1024.0 * 1024.0 / s, 4)
         AS hll_estimate,
       CAST(v AS BIGINT) AS empty_registers,
       CASE WHEN exact_distinct = 0 THEN NULL
            ELSE round(abs(0.7213 / (1.0 + 1.079 / 1024.0) * 1024.0 * 1024.0
                           / s / exact_distinct - 1.0), 4) END AS rel_err
FROM agg, ex
"""


@_q(
    "hll_distinct",
    _HLL_ORACLE,
    "HyperLogLog distinct word-3-gram shingles (p=10, shared md5 family) "
    "vs the exact count — the mergeable-sketch distinct path audited as "
    "a query; register max combines map-side, harmonic sum is dyadic-"
    "exact so the estimate matches DuckDB bit-for-bit before rounding",
)
def q_hll_distinct(spark, sf_dir):
    from victor_spark.operators.sketches import hll_prepare, hll_registers

    d = fan_out(load_table(spark, sf_dir, "documents"))
    g = d.select(
        F.explode(H.word_shingles("lower(text)")).alias("g")
    )
    regs = hll_registers(hll_prepare(g, "g", p=10, salt="hll"), p=10)
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(1024.0))
    agg = regs.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("r").cast("double"))).alias("s"),
        F.count(F.when(F.col("r") == 0, True)).alias("v"),
    )
    ex = F.broadcast(g.agg(F.count_distinct("g").alias("exact_distinct")))
    raw = alpha * F.lit(1024.0) * F.lit(1024.0) / F.col("s")
    return agg.crossJoin(ex).select(
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        F.round(raw, 4).alias("hll_estimate"),
        F.col("v").cast("long").alias("empty_registers"),
        F.when(F.col("exact_distinct") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(F.abs(raw / F.col("exact_distinct") - F.lit(1.0)), 4)
        )
        .alias("rel_err"),
    )


# Temperature-scaled source mixing weights: the multilingual/multi-source
# sampling rate computation (GPT-3 / mT5 style: weight ∝ p^α). α = 0.5
# exactly — sqrt is IEEE-754 correctly rounded on BOTH engines (unlike
# pow/ln), so the per-source weight is cross-engine deterministic up to
# the final (rounded) normalization sum. One token-count aggregation
# keyed on source; the normalizers are 1-row broadcast scalars.

_MIX_ORACLE = f"""
WITH toks AS (SELECT source, len({SQL_TOKS.format(s='lower(text)')}) n
              FROM documents),
s AS (SELECT source, CAST(sum(n) AS BIGINT) n_tokens FROM toks GROUP BY source),
t AS (SELECT CAST(sum(n_tokens) AS DOUBLE) total FROM s),
w AS (SELECT source, n_tokens, sqrt(n_tokens / total) sw FROM s, t),
z AS (SELECT sum(sw) zsum FROM w)
SELECT source, n_tokens, round(sw / zsum, 6) AS weight FROM w, z
"""


@_q(
    "mix_weights",
    _MIX_ORACLE,
    "temperature-0.5 source mixing weights (weight ∝ p^0.5, the "
    "multilingual sampling-rate rule): per-source token mass, sqrt-"
    "scaled, normalized — α=0.5 because sqrt is correctly rounded IEEE "
    "on both engines where pow/ln are not",
)
def q_mix_weights(spark, sf_dir):
    d = fan_out(load_table(spark, sf_dir, "documents"))
    s = (
        d.select("source", F.size(T.tokens("lower(text)")).alias("n"))
        .groupBy("source")
        .agg(F.sum("n").cast("long").alias("n_tokens"))
    )
    # Round-11 measurement note: a reuse barrier on s (it feeds the
    # total aggregate, the sqrt-weight projection and the normalizer)
    # was tried and REVERTED — qmetrics with the barrier was IDENTICAL
    # (8 jobs / 39 tasks both ways), i.e. AQE's runtime stage reuse
    # already shares the corpus tokenize across the scalar subtrees
    # here, so the barrier could only add a materialization sync (the
    # unigram_logprob/ccnet/corpus_entropy verdict, reproduced again).
    t = F.broadcast(s.agg(F.sum("n_tokens").cast("double").alias("total")))
    w = s.crossJoin(t).select(
        "source",
        "n_tokens",
        F.sqrt(F.col("n_tokens") / F.col("total")).alias("sw"),
    )
    z = F.broadcast(w.agg(F.sum("sw").alias("zsum")))
    return w.crossJoin(z).select(
        "source", "n_tokens", F.round(F.col("sw") / F.col("zsum"), 6).alias("weight")
    )


# Count-min heavy hitters: the fixed-size frequency-summary path
# (Cormode & Muthukrishnan 2005) audited against exact counts. The
# 4×2048 counter grid partial-aggregates map-side and merges across
# corpus slices by element-wise sum; est(x) = min over rows, never an
# underestimate. All-integer arithmetic → the oracle is exact with no
# float caveats. Output: the exact top-20 tokens with their sketch
# estimate and the (always >= 0) overestimate.

_CMS_ORACLE = f"""
WITH toks AS (SELECT unnest({SQL_TOKS.format(s='lower(text)')}) tok FROM documents),
tc AS (SELECT tok, count(*) c FROM toks GROUP BY tok),
rows_ AS (
  SELECT j,
         {SQL_H32.format(x="concat('cms', CAST(j AS VARCHAR), ':', tok)")} % 2048
           AS bucket,
         c
  FROM tc, unnest([0, 1, 2, 3]) t(j)
),
sk AS (SELECT j, bucket, sum(c) s FROM rows_ GROUP BY j, bucket),
top AS (SELECT tok, c FROM tc ORDER BY c DESC, tok LIMIT 20),
keys AS (
  SELECT tok, c, j,
         {SQL_H32.format(x="concat('cms', CAST(j AS VARCHAR), ':', tok)")} % 2048
           AS bucket
  FROM top, unnest([0, 1, 2, 3]) t(j)
),
est AS (
  SELECT k.tok, min(k.c) c,
         CASE WHEN count(sk.s) = 4 THEN min(sk.s) ELSE 0 END e
  FROM keys k LEFT JOIN sk ON k.j = sk.j AND k.bucket = sk.bucket
  GROUP BY k.tok
)
SELECT tok AS token, CAST(c AS BIGINT) AS exact_count,
       CAST(e AS BIGINT) AS cms_count, CAST(e - c AS BIGINT) AS overestimate
FROM est
"""


@_q(
    "cms_heavy_hitters",
    _CMS_ORACLE,
    "count-min sketch heavy hitters: exact top-20 tokens scored against "
    "a 4x2048 counter grid (map-side-combinable, slice-mergeable by "
    "element-wise sum); min-over-rows estimate never underestimates — "
    "all-integer, oracle exact",
)
def q_cms_heavy_hitters(spark, sf_dir):
    from victor_spark.operators.sketches import cms_lookup, cms_sketch

    d = fan_out(load_table(spark, sf_dir, "documents"))
    tc = (
        d.select(F.explode(T.tokens("lower(text)")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    # Round-11 measurement note: a reuse barrier on tc (it feeds the
    # sketch build, the exact top-20 and the final join) was tried and
    # REVERTED — qmetrics with the barrier was IDENTICAL (9 jobs /
    # 40 tasks both ways): AQE's runtime stage reuse already shares the
    # token groupBy across consumers here (the unigram_logprob/ccnet
    # verdict), so the barrier could only add a materialization sync.
    sketch = cms_sketch(tc, "tok", "c", depth=4, width=2048, salt="cms")
    top = tc.orderBy(F.desc("c"), F.asc("tok")).limit(20)
    est = cms_lookup(sketch, top.select("tok"), "tok", depth=4, width=2048)
    return (
        est.join(F.broadcast(top), "tok")
        .select(
            F.col("tok").alias("token"),
            F.col("c").cast("long").alias("exact_count"),
            F.col("cms_count").cast("long").alias("cms_count"),
            (F.col("cms_count") - F.col("c")).cast("long").alias("overestimate"),
        )
    )


# TextRank keywords: weighted PageRank over each document's token
# co-occurrence graph (Mihalcea & Tarau 2004) — the iterative-graph
# family member beside dedup's label propagation. Three fixed rounds
# keep it one declarative plan; the oracle unrolls the recurrence as
# three CTE stages. Every join/groupBy keys on (doc_id, token): the
# per-document graphs stay co-partitioned, parallel over docs at any
# cluster size. Both sides round with a +1e-9 shift: TextRank scores on
# small-degree graphs are rationals that often TERMINATE exactly on a
# 1e-6 rounding boundary (e.g. 1.3708125), where one ulp of summation-
# order noise flips the rounded digit — the shared shift moves every
# terminating value past its boundary (noise ~1e-15 vs margin 1e-9),
# and ranking on the stabilized score keeps rank order cross-engine
# deterministic (operators/textrank.py::textrank_keywords).

_TEXTRANK_ORACLE = f"""
WITH d AS (SELECT doc_id, {SQL_TOKS.format(s='lower(text)')} t FROM documents),
e AS (
  SELECT doc_id, t[i] u, t[i+1] v
  FROM d, unnest(range(1, len(t))) r(i) WHERE len(t) >= 2
  UNION ALL
  SELECT doc_id, t[i+1] u, t[i] v
  FROM d, unnest(range(1, len(t))) r(i) WHERE len(t) >= 2
),
w AS (SELECT doc_id, u, v, count(*) c FROM e GROUP BY 1, 2, 3),
ow AS (SELECT doc_id, u, sum(c) ow FROM w GROUP BY 1, 2),
m AS (SELECT w.doc_id, w.u, w.v, CAST(w.c AS DOUBLE) / ow.ow mc
      FROM w JOIN ow USING (doc_id, u)),
n0 AS (SELECT DISTINCT doc_id, u FROM w),
p0 AS (SELECT doc_id, u, 1.0 pr FROM n0),
s1 AS (SELECT m.doc_id, m.v, sum(m.mc * p.pr) s
       FROM m JOIN p0 p ON m.doc_id = p.doc_id AND m.u = p.u GROUP BY 1, 2),
p1 AS (SELECT n0.doc_id, n0.u, 0.15 + 0.85 * coalesce(s1.s, 0.0) pr
       FROM n0 LEFT JOIN s1 ON n0.doc_id = s1.doc_id AND n0.u = s1.v),
s2 AS (SELECT m.doc_id, m.v, sum(m.mc * p.pr) s
       FROM m JOIN p1 p ON m.doc_id = p.doc_id AND m.u = p.u GROUP BY 1, 2),
p2 AS (SELECT n0.doc_id, n0.u, 0.15 + 0.85 * coalesce(s2.s, 0.0) pr
       FROM n0 LEFT JOIN s2 ON n0.doc_id = s2.doc_id AND n0.u = s2.v),
s3 AS (SELECT m.doc_id, m.v, sum(m.mc * p.pr) s
       FROM m JOIN p2 p ON m.doc_id = p.doc_id AND m.u = p.u GROUP BY 1, 2),
p3 AS (SELECT n0.doc_id, n0.u, 0.15 + 0.85 * coalesce(s3.s, 0.0) pr
       FROM n0 LEFT JOIN s3 ON n0.doc_id = s3.doc_id AND n0.u = s3.v),
r AS (SELECT doc_id, u, round(pr + 1e-9, 6) score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY round(pr + 1e-9, 6) DESC, u) rn
      FROM p3)
SELECT doc_id, u AS keyword, score, CAST(rn AS INTEGER) AS rank
FROM r WHERE rn <= 3
"""


@_q(
    "textrank_keywords",
    _TEXTRANK_ORACLE,
    "TextRank top-3 keywords per doc: weighted PageRank over the token "
    "co-occurrence graph, 3 unrolled rounds — one equi-join + one "
    "partial-agg groupBy per round, all keyed (doc_id, token)",
)
def q_textrank_keywords(spark, sf_dir):
    from victor_spark.operators.textrank import textrank_keywords

    d = fan_out(load_table(spark, sf_dir, "documents"))
    return textrank_keywords(d, "doc_id", "text", top_k=3, iters=3)


# Bloom-filter benchmark screen: contamination_check's exact overlap
# re-run as the fixed-size-membership screen a crawl-scale pipeline
# ships (the benchmark shingle set packed into a 16384-bit / 512-word
# filter; probes are k=4 O(1) word-index + bit-test expressions, fully
# map-side). No false negatives by construction — the audit columns
# prove it: exact_flagged docs are always bloom-flagged, and the
# false-positive overshoot is reported against the exact answer.
# All-integer bit arithmetic → oracle exact.


def _bloom_sql_check(hv: str) -> str:
    """SQL: all 4 bloom bits set for shingle-hash expression {hv}."""
    checks = []
    for j in range(4):
        pos = SQL_H32.format(x=f"concat('bf{j}:', CAST({hv} AS VARCHAR))") + " % 16384"
        checks.append(f"((ws[({pos}) // 32 + 1] >> (({pos}) % 32)) & 1) = 1")
    return " AND ".join(checks)


_BLOOM_ORACLE = f"""
WITH toks AS (SELECT doc_id, {SQL_TOKS.format(s='text')} t FROM documents),
sh AS (SELECT doc_id, {SQL_WORD_SHINGLES.format(t='t')} shing FROM toks),
hs AS (SELECT doc_id,
              list_distinct(list_transform(shing, s -> {SQL_H32.format(x='s')})) h
       FROM sh),
bpos AS (
  SELECT DISTINCT
         ({SQL_H32.format(x="concat('bf', CAST(j AS VARCHAR), ':', CAST(hv AS VARCHAR))")} % 16384) pos
  FROM (SELECT unnest(h) hv FROM hs WHERE doc_id < 20), unnest([0, 1, 2, 3]) t(j)
),
words0 AS (SELECT pos // 32 wi, bit_or(1::BIGINT << CAST(pos % 32 AS INTEGER)) w
           FROM bpos GROUP BY 1),
spine AS (SELECT unnest(range(0, 512)) wi),
words AS (SELECT list(coalesce(w, 0) ORDER BY wi) ws
          FROM spine LEFT JOIN words0 USING (wi)),
bl AS (SELECT list_distinct(flatten(list(h))) bl FROM hs WHERE doc_id < 20),
fl AS (
  SELECT doc_id,
         len(list_filter(h, hv -> {_bloom_sql_check('hv')})) > 0 fb,
         len(list_intersect(h, bl)) >= 1 fe
  FROM hs, words, bl WHERE doc_id >= 20
)
SELECT count(*) AS probed_docs,
       CAST(sum(CASE WHEN fb THEN 1 ELSE 0 END) AS BIGINT) AS bloom_flagged,
       CAST(sum(CASE WHEN fe THEN 1 ELSE 0 END) AS BIGINT) AS exact_flagged,
       CAST(sum(CASE WHEN fb AND NOT fe THEN 1 ELSE 0 END) AS BIGINT) AS false_positives,
       CASE WHEN count(*) = sum(CASE WHEN fe THEN 1 ELSE 0 END) THEN NULL
            ELSE round(CAST(sum(CASE WHEN fb AND NOT fe THEN 1 ELSE 0 END) AS DOUBLE)
                       / (count(*) - sum(CASE WHEN fe THEN 1 ELSE 0 END)), 6)
       END AS fp_rate
FROM fl
"""


@_q(
    "bloom_screen",
    _BLOOM_ORACLE,
    "Bloom-filter benchmark screen: the contamination check as a packed "
    "16384-bit membership filter (k=4, O(1) bit-test probes, fully "
    "map-side) audited against the exact shingle overlap — no false "
    "negatives by construction, FP overshoot reported; all-integer, "
    "oracle exact",
)
def q_bloom_screen(spark, sf_dir):
    from victor_spark.operators.sketches import bloom_build, bloom_might_contain

    d = fan_out(load_table(spark, sf_dir, "documents"))
    hs = d.select(
        "doc_id", H.shingle_hashes("text", n=3, unit="word").alias("h")
    )
    bench = hs.filter(F.col("doc_id") < 20)
    bench_vals = bench.select(F.explode("h").alias("hv"))
    words = bloom_build(bench_vals, "hv")
    bl = bench_vals.agg(F.collect_set("hv").alias("bl"))
    cand = hs.filter(F.col("doc_id") >= 20)
    # Round-11 optimization (guide §2.4): the two 1-row model sides
    # (packed filter words + exact blocklist) fuse into ONE 1x1-row
    # crossJoin BEFORE broadcasting, so the corpus side pays a single
    # broadcast join instead of two back-to-back nested-loop joins.
    fl = (
        cand.crossJoin(F.broadcast(words.crossJoin(bl)))
        .select(
            "doc_id",
            F.exists(
                "h", lambda hv: bloom_might_contain(F.col("words"), hv)
            ).alias("fb"),
            F.arrays_overlap("h", "bl").alias("fe"),
        )
    )
    n_fe = F.sum(F.when(F.col("fe"), 1).otherwise(0))
    n_fp = F.sum(F.when(F.col("fb") & ~F.col("fe"), 1).otherwise(0))
    return fl.agg(
        F.count("*").alias("probed_docs"),
        F.sum(F.when(F.col("fb"), 1).otherwise(0)).cast("long").alias("bloom_flagged"),
        n_fe.cast("long").alias("exact_flagged"),
        n_fp.cast("long").alias("false_positives"),
        F.when(F.count("*") == n_fe, F.lit(None).cast("double"))
        .otherwise(F.round(n_fp.cast("double") / (F.count("*") - n_fe), 6))
        .alias("fp_rate"),
    )


# Z-order layout audit: the multi-column data-skipping argument as an
# oracle-checked query. Files sorted by ONE column carry full-domain
# min/max on every other column — predicates there prune nothing. The
# Morton key (operators/zorder.py: integer rank + bit interleave, no
# floats) makes contiguous key ranges tight hyper-rectangles: the audit
# splits events into 16 equal-width key ranges under BOTH layouts and
# reports each range's span on both dimensions. Expected shape: x-sort
# buckets have tiny x_span and ~full y_span; z-order buckets have both
# spans at ~1/4 domain — which is why a z-ordered table prunes on
# either predicate column. All-integer, oracle exact.


def _morton_sql(xs: str, ys: str) -> str:
    terms = []
    for i in range(16):
        terms.append(f"(({xs} // {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({ys} // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


_ZORDER_ORACLE = f"""
WITH e AS (SELECT user_id x, CAST(floor(value * 100 + 0.5) AS BIGINT) y FROM events),
b AS (SELECT min(x) xmin, max(x) xmax, min(y) ymin, max(y) ymax FROM e),
r AS (SELECT CASE WHEN xmax = xmin THEN 0 ELSE (x - xmin) * 65535 // (xmax - xmin) END xs,
             CASE WHEN ymax = ymin THEN 0 ELSE (y - ymin) * 65535 // (ymax - ymin) END ys
      FROM e, b),
k AS (SELECT xs, ys, {_morton_sql('xs', 'ys')} zkey FROM r),
z AS (SELECT CAST(zkey // {(1 << 32) // 16} AS BIGINT) bucket, xs, ys FROM k),
x AS (SELECT CAST(xs // {(1 << 16) // 16} AS BIGINT) bucket, xs, ys FROM k),
za AS (SELECT 'zorder' layout, bucket, count(*) n,
              CAST(max(xs) - min(xs) AS BIGINT) x_span,
              CAST(max(ys) - min(ys) AS BIGINT) y_span
       FROM z GROUP BY bucket),
xa AS (SELECT 'xsort' layout, bucket, count(*) n,
              CAST(max(xs) - min(xs) AS BIGINT) x_span,
              CAST(max(ys) - min(ys) AS BIGINT) y_span
       FROM x GROUP BY bucket)
SELECT * FROM za UNION ALL SELECT * FROM xa
"""


@_q(
    "zorder_audit",
    _ZORDER_ORACLE,
    "Z-order vs single-column sort, audited: 16 equal-width sort-key "
    "ranges per layout with each range's (x, y) rank spans — Morton "
    "ranges are tight hyper-rectangles (both spans ~1/4 domain) where "
    "x-sort ranges span the full y domain; integer-exact interleave",
)
def q_zorder_audit(spark, sf_dir):
    from victor_spark.operators.zorder import int_rank, morton_key

    ev = fan_out(load_table(spark, sf_dir, "events")).select(
        F.col("user_id").cast("long").alias("x"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("y"),
    )
    b = F.broadcast(
        ev.agg(
            F.min("x").alias("xmin"), F.max("x").alias("xmax"),
            F.min("y").alias("ymin"), F.max("y").alias("ymax"),
        )
    )
    r = ev.crossJoin(b).select(
        int_rank("x", "xmin", "xmax").alias("xs"),
        int_rank("y", "ymin", "ymax").alias("ys"),
    )
    k = r.withColumn("zkey", morton_key("xs", "ys"))

    # Round-11 optimization (guide §2.4): the two layouts' span audits
    # used to be two full scan → rank → bucket → groupBy passes glued
    # with a union (2 aggregation exchanges, the morton/rank projection
    # computed twice). One explode of the two (layout, bucket) keys per
    # row feeds a SINGLE grouped aggregation — same groups, same
    # integer aggregates, half the passes.
    zb = F.floor(F.col("zkey") / F.lit((1 << 32) // 16)).cast("long")
    xb = F.floor(F.col("xs") / F.lit((1 << 16) // 16)).cast("long")
    return (
        k.select(
            F.explode(
                F.array(
                    F.struct(F.lit("zorder").alias("layout"), zb.alias("bucket")),
                    F.struct(F.lit("xsort").alias("layout"), xb.alias("bucket")),
                )
            ).alias("lb"),
            "xs",
            "ys",
        )
        .groupBy(F.col("lb.layout").alias("layout"), F.col("lb.bucket").alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            (F.max("xs") - F.min("xs")).cast("long").alias("x_span"),
            (F.max("ys") - F.min("ys")).cast("long").alias("y_span"),
        )
        .select("layout", "bucket", "n", "x_span", "y_span")
    )


# Histogram-quantile audit: events_quantiles' documented "approx sketch
# is the 100 TB drop-in" claim, materialized and audited. The 256-bin
# fixed-width histogram (operators/sketches.py::value_histogram) is the
# mergeable quantile summary — bin counts partial-aggregate map-side
# and slices merge by summing — and the interpolated estimate lands
# within one bin width of the exact percentile, which the query proves
# by reporting both side by side.

_HQ_EST_SQL = (
    "mn + (bin + ({q} * n - (cum - cnt)) / cnt) * (mx - mn) / 256.0"
)

_HIST_Q_ORACLE = f"""
WITH b AS (SELECT event_type, min(value) mn, max(value) mx, count(value) n
           FROM events GROUP BY 1),
h AS (
  SELECT e.event_type,
         CAST(CASE WHEN b.mx = b.mn THEN 0.0
              ELSE least(floor((e.value - b.mn) * 256.0 / (b.mx - b.mn)), 255.0)
              END AS BIGINT) bin
  FROM events e JOIN b USING (event_type)
),
hc AS (SELECT event_type, bin, count(*) cnt FROM h GROUP BY 1, 2),
hcum AS (
  SELECT hc.event_type, hc.bin, hc.cnt, b.mn, b.mx, b.n,
         sum(hc.cnt) OVER (PARTITION BY hc.event_type ORDER BY hc.bin) cum
  FROM hc JOIN b USING (event_type)
),
e50 AS (SELECT event_type, min_by({_HQ_EST_SQL.format(q='0.5')}, bin) est
        FROM hcum WHERE cum >= 0.5 * n GROUP BY event_type),
e90 AS (SELECT event_type, min_by({_HQ_EST_SQL.format(q='0.9')}, bin) est
        FROM hcum WHERE cum >= 0.9 * n GROUP BY event_type),
e99 AS (SELECT event_type, min_by({_HQ_EST_SQL.format(q='0.99')}, bin) est
        FROM hcum WHERE cum >= 0.99 * n GROUP BY event_type),
x AS (SELECT event_type,
             quantile_cont(value, 0.5) x50,
             quantile_cont(value, 0.9) x90,
             quantile_cont(value, 0.99) x99
      FROM events GROUP BY 1)
SELECT b.event_type, CAST(b.n AS BIGINT) AS n,
       round(e50.est, 6) AS est_p50, round(x.x50, 6) AS exact_p50,
       round(e90.est, 6) AS est_p90, round(x.x90, 6) AS exact_p90,
       round(e99.est, 6) AS est_p99, round(x.x99, 6) AS exact_p99
FROM b JOIN e50 USING (event_type) JOIN e90 USING (event_type)
       JOIN e99 USING (event_type) JOIN x USING (event_type)
"""


@_q(
    "hist_quantiles",
    _HIST_Q_ORACLE,
    "mergeable 256-bin histogram quantiles audited against the exact "
    "interpolated percentiles per event_type — the quantile member of "
    "the sketch quartet (bin counts sum across slices); estimate error "
    "bounded by one bin width",
)
def q_hist_quantiles(spark, sf_dir):
    from victor_spark.operators.sketches import histogram_quantile, value_histogram

    e = load_table(spark, sf_dir, "events")
    # Round-11 optimization (guide §2.4): the three quantile walks used
    # to be three separate histogram_quantile calls — each re-derived
    # the whole histogram subtree (scan + bounds agg + bin groupBy),
    # ran its own cumulative window, and joined back separately. The
    # checkpoint bounds the histogram to one derivation, and ONE window
    # pass + ONE grouped aggregation now answers all three quantiles:
    # per q, min_by over rows where cum >= q*n picks exactly the row
    # histogram_quantile's filter+min_by picked, with the identical
    # interpolation expression — bit-for-bit the same estimates.
    from pyspark.sql import Window as _W

    h = value_histogram(e, "event_type", "value", bins=256).localCheckpoint(
        eager=False
    )
    w = (
        _W.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(_W.unboundedPreceding, 0)
    )
    hc = h.withColumn("cum", F.sum("cnt").over(w))

    def _est(q: float):
        t = F.lit(q) * F.col("n")
        est = (
            F.col("mn")
            + (F.col("bin") + (t - (F.col("cum") - F.col("cnt"))) / F.col("cnt"))
            * (F.col("mx") - F.col("mn"))
            / F.lit(256.0)
        )
        hit = F.col("cum") >= t
        return F.min_by(F.when(hit, est), F.when(hit, F.col("bin")))

    ests = hc.groupBy("event_type").agg(
        _est(0.5).alias("est_p50"),
        _est(0.9).alias("est_p90"),
        _est(0.99).alias("est_p99"),
    )
    exact = e.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.percentile("value", 0.5).alias("x50"),
        F.percentile("value", 0.9).alias("x90"),
        F.percentile("value", 0.99).alias("x99"),
    )
    out = exact.join(ests, "event_type")
    return out.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round("est_p50", 6).alias("est_p50"),
        F.round("x50", 6).alias("exact_p50"),
        F.round("est_p90", 6).alias("est_p90"),
        F.round("x90", 6).alias("exact_p90"),
        F.round("est_p99", 6).alias("est_p99"),
        F.round("x99", 6).alias("exact_p99"),
    )


# Two-stage retrieval: ANN-retrieve then rerank — the RAG/serving shape.
# Stage 1 prunes the corpus to 20 candidates by embedding cosine (a
# TakeOrderedAndProject bounded heap, never a corpus shuffle); stage 2
# re-scores ONLY those 20 with the expensive evidence — here lexical
# token-set Jaccard against the query document, the BM25-ish cross
# check a reranker contributes — and keeps the top 5. At 100 TB the
# stage-2 cost is O(candidates), which is the entire point of the
# pattern; a real cross-encoder slots into stage 2 behind the same
# bounded-candidate contract (the embedder's env-gated model seam).
# Hash-embedding dots are integer-exact in double and norms are IEEE
# sqrt of exact integers, so stage-1 scores (and the cutoff) replay
# bit-for-bit in the oracle.

_RERANK_QID = 5

_RERANK_ORACLE = f"""
WITH dsum AS ({{embed_sql}}),
qsum AS (SELECT idx, v FROM dsum WHERE doc_id = {_RERANK_QID}),
dn AS (SELECT doc_id, sqrt(sum(v * v)) nn FROM dsum GROUP BY 1),
qn AS (SELECT sqrt(sum(v * v)) qq FROM qsum),
ddot AS (SELECT d.doc_id, sum(d.v * q.v) dp
         FROM dsum d JOIN qsum q USING (idx) GROUP BY 1),
scored AS (
  SELECT dn.doc_id, coalesce(ddot.dp, 0.0) / (dn.nn * qn.qq) s
  FROM dn LEFT JOIN ddot USING (doc_id), qn
  WHERE dn.nn > 0 AND dn.doc_id <> {_RERANK_QID}
),
r1 AS (SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) rn
       FROM scored),
t20 AS (SELECT doc_id, s FROM r1 WHERE rn <= 20),
dt AS (SELECT doc_id, list_distinct({SQL_TOKS.format(s='lower(text)')}) toks
       FROM documents),
qt AS (SELECT toks AS qtoks FROM dt WHERE doc_id = {_RERANK_QID}),
j AS (
  SELECT t20.doc_id, t20.s,
         len(list_intersect(dt.toks, qt.qtoks))
           / len(list_distinct(dt.toks || qt.qtoks)) jac
  FROM t20 JOIN dt USING (doc_id), qt
),
r2 AS (SELECT doc_id, s, jac,
              row_number() OVER (ORDER BY jac DESC, doc_id) rk
       FROM j)
SELECT doc_id, round(s, 4) AS retrieve_sim, round(jac, 6) AS rerank_score,
       CAST(rk AS INTEGER) AS rank
FROM r2 WHERE rk <= 5
"""


@_q(
    "retrieve_rerank",
    _RERANK_ORACLE.format(embed_sql=_hash_embed_sql("documents", "doc_id", 64)),
    "two-stage retrieval: embedding-cosine top-20 (bounded heap) then "
    "token-Jaccard rerank of ONLY those candidates to top-5 — the "
    "retrieve+rerank serving shape with stage-2 cost O(candidates); "
    "stage-1 hash-cosines are integer-exact so the cutoff replays "
    "bit-for-bit",
)
def q_retrieve_rerank(spark, sf_dir):
    from victor_spark.functions.embedder import embed

    # Round-11 optimization (guide §8 "decide with small rows, move big
    # rows once"): stage 1's bounded heap now carries ONLY (doc_id, _s)
    # — the old plan computed the distinct-token array for EVERY corpus
    # document and dragged it (plus a copy of the query doc's tokens)
    # through the TakeOrdered heap, purely so stage 2 could rerank 20
    # rows. Tokens are now computed for exactly 21 documents: the 20
    # winners are re-attached to the corpus by a broadcast hash join on
    # doc_id (20-row build side) placed BELOW the token projection, and
    # the query doc's tokens ride the same broadcast pattern. Same
    # stage-1 ordering (score expression, tie-break, norm guard), same
    # 5-row output.
    d0 = fan_out(load_table(spark, sf_dir, "documents")).select("doc_id", "text")
    emb = d0.select(
        "doc_id", to_double_array(embed("text", _EMBED_DIM)).alias("v")
    )
    toks_of = F.array_distinct(T.tokens("lower(text)"))
    q = F.broadcast(
        emb.filter(F.col("doc_id") == _RERANK_QID)
        .select(F.col("v").alias("qv"))
        .withColumn("qn", norm("qv"))
    )
    top20 = (
        emb.filter(F.col("doc_id") != _RERANK_QID)
        .crossJoin(q)
        .filter(norm("v") > 0)
        .select(
            "doc_id",
            (dot("v", "qv") / (norm("v") * F.col("qn"))).alias("_s"),
        )
        .orderBy(F.desc("_s"), F.asc("doc_id"))
        .limit(20)
    )
    qt = F.broadcast(
        d0.filter(F.col("doc_id") == _RERANK_QID).select(
            toks_of.alias("qtoks")
        )
    )
    cand = (
        d0.join(F.broadcast(top20), "doc_id")
        .crossJoin(qt)
        .select("doc_id", "_s", toks_of.alias("toks"), "qtoks")
    )
    jac = (
        F.size(F.array_intersect("toks", "qtoks"))
        / F.size(F.array_union("toks", "qtoks"))
    )
    w2 = Window.orderBy(F.desc("_j"), F.asc("doc_id"))
    return (
        cand.select("doc_id", "_s", jac.alias("_j"))
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= 5)
        .select(
            "doc_id",
            F.round("_s", 4).alias("retrieve_sim"),
            F.round("_j", 6).alias("rerank_score"),
            "rank",
        )
    )


# Document chunking: the RAG ingestion stage (fixed-size overlapping
# token windows, LangChain-splitter semantics) as an oracle-checked
# query. Pure integer window arithmetic + array slicing in one
# map-side projection — chunking a corpus is a scan, not a shuffle.
# size=16 / overlap=4 (stride 12), so typical ~30-token docs emit 2-3
# chunks and the overlap contract is actually exercised.

_CHUNK_ORACLE = f"""
WITH d AS (SELECT doc_id, {SQL_TOKS.format(s='lower(text)')} t FROM documents),
n AS (SELECT doc_id, t, len(t) n FROM d),
c AS (
  SELECT doc_id, t, n,
         CASE WHEN n <= 0 THEN 0
              ELSE 1 + greatest((n - 16 + 11) // 12, 0) END n_chunks
  FROM n
),
x AS (
  SELECT doc_id, t, n, CAST(i AS BIGINT) chunk_id
  FROM c, unnest(range(0, n_chunks)) r(i)
),
ch AS (
  SELECT doc_id, chunk_id, t[chunk_id * 12 + 1 : chunk_id * 12 + 16] ck
  FROM x
)
SELECT doc_id, chunk_id,
       CAST(len(ck) AS INTEGER) AS n_tokens,
       {SQL_H32.format(x="array_to_string(ck, ' ')")} AS chunk_hash
FROM ch
"""


@_q(
    "chunk_documents",
    _CHUNK_ORACLE,
    "RAG chunking: fixed 16-token windows with 4-token overlap (stride "
    "12) — exact integer window math + array slicing, one map-side "
    "projection, row expansion is the only cost; per-chunk token count "
    "and md5 fingerprint oracle-checked",
)
def q_chunk_documents(spark, sf_dir):
    from victor_spark.operators.chunking import chunk_tokens

    d = fan_out(load_table(spark, sf_dir, "documents"))
    ch = chunk_tokens(d, "doc_id", "text", chunk_size=16, overlap=4)
    return ch.select(
        "doc_id",
        "chunk_id",
        F.size("chunk_tokens").cast("int").alias("n_tokens"),
        H.md5_32(F.array_join("chunk_tokens", " ")).alias("chunk_hash"),
    )


# Embedding drift audit: pairwise cosine between per-label centroid
# embeddings — the distribution-shift dashboard an embedding pipeline
# watches across sources/shards/snapshots. Every cross-row float sum
# rides the repo's exact-decimal convention (order-independent on any
# partitioning, replayable in DuckDB): per-dim component sums at
# DECIMAL(20,12) (|x| <= ~0.25 → x·10^12 well inside double's 53-bit
# mantissa, so the double→decimal cast is exact on both engines) and
# the 64-term dot/norm sums at DECIMAL(24,16) (products ~1e-2 →
# p·10^16 still exact).

_DRIFT_ORACLE = """
WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
comp AS (SELECT label, i AS idx, v[i] x
         FROM e, unnest(range(1, len(v) + 1)) r(i)),
cent AS (SELECT label, idx,
                CAST(sum(CAST(x AS DECIMAL(20,12))) AS DOUBLE) / count(*) m
         FROM comp GROUP BY 1, 2),
p AS (SELECT a.label la, b.label lb, a.m am, b.m bm
      FROM cent a JOIN cent b ON a.idx = b.idx AND a.label < b.label),
g AS (SELECT la, lb,
             CAST(sum(CAST(am * bm AS DECIMAL(24,16))) AS DOUBLE) dp,
             CAST(sum(CAST(am * am AS DECIMAL(24,16))) AS DOUBLE) na2,
             CAST(sum(CAST(bm * bm AS DECIMAL(24,16))) AS DOUBLE) nb2
      FROM p GROUP BY 1, 2)
SELECT la AS label_a, lb AS label_b,
       CASE WHEN na2 = 0 OR nb2 = 0 THEN NULL
            ELSE round(dp / (sqrt(na2) * sqrt(nb2)), 6) END AS centroid_cos
FROM g
"""


@_q(
    "embedding_drift",
    _DRIFT_ORACLE,
    "embedding drift audit: pairwise cosine between per-label centroid "
    "vectors — per-dim means and the dot/norm folds all summed as exact "
    "decimal, so the distributed result is order-independent and "
    "replays bit-for-bit",
)
def q_embedding_drift(spark, sf_dir):
    e = _emb(spark, sf_dir)
    comp = e.select("label", F.posexplode("v").alias("idx", "x"))
    cent = comp.groupBy("label", "idx").agg(
        (
            F.sum(F.col("x").cast("decimal(20,12)")).cast("double") / F.count("*")
        ).alias("m")
    )
    a, b = cent.alias("a"), cent.alias("b")
    p = a.join(
        b,
        (F.col("a.idx") == F.col("b.idx")) & (F.col("a.label") < F.col("b.label")),
    ).select(
        F.col("a.label").alias("la"), F.col("b.label").alias("lb"),
        F.col("a.m").alias("am"), F.col("b.m").alias("bm"),
    )
    g = p.groupBy("la", "lb").agg(
        F.sum((F.col("am") * F.col("bm")).cast("decimal(24,16)")).cast("double").alias("dp"),
        F.sum((F.col("am") * F.col("am")).cast("decimal(24,16)")).cast("double").alias("na2"),
        F.sum((F.col("bm") * F.col("bm")).cast("decimal(24,16)")).cast("double").alias("nb2"),
    )
    return g.select(
        F.col("la").alias("label_a"),
        F.col("lb").alias("label_b"),
        F.when((F.col("na2") == 0) | (F.col("nb2") == 0), F.lit(None).cast("double"))
        .otherwise(
            F.round(F.col("dp") / (F.sqrt("na2") * F.sqrt("nb2")), 6)
        )
        .alias("centroid_cos"),
    )


# k-anonymity audit: pii_redact scrubs direct identifiers; this is the
# companion QUASI-identifier audit (Sweeney 2002) — how many documents
# share each (lang, source, length-bucket) combination. Groups below
# k=5 are re-identification risks a privacy review flags before
# release. One partial-aggregated groupBy; all-integer, oracle exact.

_KANON_ORACLE = """
WITH g AS (
  SELECT lang, source, CAST(n_chars // 50 AS BIGINT) chars_bucket,
         count(*) k
  FROM documents GROUP BY 1, 2, 3
)
SELECT lang, source, chars_bucket, CAST(k AS BIGINT) AS k,
       k < 5 AS at_risk
FROM g
"""


@_q(
    "k_anonymity",
    _KANON_ORACLE,
    "k-anonymity audit over the quasi-identifiers (lang, source, "
    "50-char length bucket): group sizes with the k<5 re-identification "
    "flag — the privacy-review companion to pii_redact; one "
    "partial-agg groupBy, all-integer",
)
def q_k_anonymity(spark, sf_dir):
    d = fan_out(load_table(spark, sf_dir, "documents"))
    g = (
        d.select(
            "lang", "source",
            F.floor(F.col("n_chars") / 50).cast("long").alias("chars_bucket"),
        )
        .groupBy("lang", "source", "chars_bucket")
        .agg(F.count("*").alias("k"))
    )
    return g.select(
        "lang", "source", "chars_bucket",
        F.col("k").cast("long").alias("k"),
        (F.col("k") < 5).alias("at_risk"),
    )


# Hybrid search: Reciprocal Rank Fusion (Cormack et al., SIGIR 2009) of
# a lexical and a vector ranking — the standard hybrid-retrieval
# combiner (Elasticsearch/OpenSearch/Vespa all ship it) because it
# needs no score calibration: only RANKS enter, score = Σ 1/(60+rank).
# Both legs are bounded heaps (top-20 each), the fusion is a full outer
# join of two 20-row lists — O(k) work after the scans at any corpus
# size. Ranks are integers and the fused score is a sum of at most two
# single-division terms on shared literals: cross-engine exact.

_HYBRID_ORACLE = f"""
WITH dsum AS ({{embed_sql}}),
qsum AS (SELECT idx, v FROM dsum WHERE doc_id = {_RERANK_QID}),
dn AS (SELECT doc_id, sqrt(sum(v * v)) nn FROM dsum GROUP BY 1),
qn AS (SELECT sqrt(sum(v * v)) qq FROM qsum),
ddot AS (SELECT d.doc_id, sum(d.v * q.v) dp
         FROM dsum d JOIN qsum q USING (idx) GROUP BY 1),
vscored AS (
  SELECT dn.doc_id, coalesce(ddot.dp, 0.0) / (dn.nn * qn.qq) s
  FROM dn LEFT JOIN ddot USING (doc_id), qn
  WHERE dn.nn > 0 AND dn.doc_id <> {_RERANK_QID}
),
vr AS (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) r
       FROM vscored),
vtop AS (SELECT doc_id, r FROM vr WHERE r <= 20),
dt AS (SELECT doc_id, list_distinct({SQL_TOKS.format(s='lower(text)')}) toks
       FROM documents),
qt AS (SELECT toks AS qtoks FROM dt WHERE doc_id = {_RERANK_QID}),
lscored AS (
  SELECT dt.doc_id,
         len(list_intersect(dt.toks, qt.qtoks))
           / len(list_distinct(dt.toks || qt.qtoks)) j
  FROM dt, qt WHERE dt.doc_id <> {_RERANK_QID}
),
lr AS (SELECT doc_id, row_number() OVER (ORDER BY j DESC, doc_id) r
       FROM lscored),
ltop AS (SELECT doc_id, r FROM lr WHERE r <= 20),
fused AS (
  SELECT coalesce(v.doc_id, l.doc_id) doc_id,
         l.r lex_rank, v.r vec_rank,
         coalesce(1.0 / (60 + l.r), 0.0) + coalesce(1.0 / (60 + v.r), 0.0) rrf
  FROM vtop v FULL OUTER JOIN ltop l ON v.doc_id = l.doc_id
),
out AS (SELECT doc_id, lex_rank, vec_rank, rrf,
               row_number() OVER (ORDER BY rrf DESC, doc_id) rank
        FROM fused)
SELECT doc_id, CAST(lex_rank AS INTEGER) AS lex_rank,
       CAST(vec_rank AS INTEGER) AS vec_rank,
       round(rrf, 6) AS rrf, CAST(rank AS INTEGER) AS rank
FROM out WHERE rank <= 10
"""


@_q(
    "hybrid_search_rrf",
    _HYBRID_ORACLE.format(embed_sql=_hash_embed_sql("documents", "doc_id", 64)),
    "hybrid retrieval via Reciprocal Rank Fusion: vector-cosine top-20 "
    "and lexical-Jaccard top-20 fused by sum(1/(60+rank)) — no score "
    "calibration, both legs bounded heaps, fusion is a 20x20-row outer "
    "join; rank-only arithmetic makes the oracle exact",
)
def q_hybrid_search_rrf(spark, sf_dir):
    from victor_spark.functions.embedder import embed

    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        to_double_array(embed("text", _EMBED_DIM)).alias("v"),
        F.array_distinct(T.tokens("lower(text)")).alias("toks"),
    )
    q = F.broadcast(
        d.filter(F.col("doc_id") == _RERANK_QID).select(
            F.col("v").alias("qv"), F.col("toks").alias("qtoks")
        ).withColumn("qn", norm("qv"))
    )
    cand = d.filter(F.col("doc_id") != _RERANK_QID).crossJoin(q)
    w = Window.orderBy(F.desc("_s"), F.asc("doc_id"))
    vtop = (
        cand.filter(norm("v") > 0)
        .select("doc_id", (dot("v", "qv") / (norm("v") * F.col("qn"))).alias("_s"))
        .orderBy(F.desc("_s"), F.asc("doc_id"))
        .limit(20)
        .withColumn("vec_rank", F.row_number().over(w))
        .select("doc_id", "vec_rank")
    )
    jac = (
        F.size(F.array_intersect("toks", "qtoks"))
        / F.size(F.array_union("toks", "qtoks"))
    )
    wl = Window.orderBy(F.desc("_j"), F.asc("doc_id"))
    ltop = (
        cand.select("doc_id", jac.alias("_j"))
        .orderBy(F.desc("_j"), F.asc("doc_id"))
        .limit(20)
        .withColumn("lex_rank", F.row_number().over(wl))
        .select("doc_id", "lex_rank")
    )
    fused = vtop.join(ltop, "doc_id", "full_outer").select(
        "doc_id", "lex_rank", "vec_rank",
        (
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("vec_rank")), F.lit(0.0))
        ).alias("rrf"),
    )
    wf = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= 10)
        .select(
            "doc_id",
            F.col("lex_rank").cast("int").alias("lex_rank"),
            F.col("vec_rank").cast("int").alias("vec_rank"),
            F.round("rrf", 6).alias("rrf"),
            "rank",
        )
    )


# Fixed-size stratified sample: EXACTLY k rows per stratum (the
# "balanced eval set" need — rate-based sampling can't guarantee equal
# strata). Selection = the k smallest salted-md5 hashes per group: a
# deterministic per-group reservoir with no RNG state, reproducible at
# any cluster size, executed as a WindowGroupLimit (per-partition
# bounded heaps per group, no global sort).

_FIXED_SAMPLE_ORACLE = f"""
WITH h AS (
  SELECT lang, doc_id,
         {SQL_H32.format(x="concat('fixed:', CAST(doc_id AS VARCHAR))")} hv
  FROM documents
),
r AS (SELECT lang, doc_id, hv,
             row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) rn
      FROM h)
SELECT lang, doc_id, CAST(rn AS INTEGER) AS pick
FROM r WHERE rn <= 20
"""


@_q(
    "stratified_fixed_sample",
    _FIXED_SAMPLE_ORACLE,
    "exactly-20-per-language sample via the k smallest salted-md5 "
    "hashes per stratum — a deterministic per-group reservoir "
    "(no RNG state, cluster-size independent) as a WindowGroupLimit",
)
def q_stratified_fixed_sample(spark, sf_dir):
    d = fan_out(load_table(spark, sf_dir, "documents"))
    h = d.select(
        "lang", "doc_id",
        H.md5_32(F.concat(F.lit("fixed:"), F.col("doc_id").cast("string"))).alias("hv"),
    )
    w = Window.partitionBy("lang").orderBy(F.asc("hv"), F.asc("doc_id"))
    return (
        h.withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") <= 20)
        .select("lang", "doc_id", "pick")
    )


# Time-decayed engagement score: per-user Σ value · 2^(-age_days), the
# recency-weighted activity metric ranking/serving systems maintain.
# The decay base is 2 and the exponent an INTEGER day count, so every
# weight is an exact dyadic rational (no exp/pow-parity hazard), and
# each term is summed as exact decimal per the repo convention — the
# distributed sum is order-independent and replays bit-for-bit.

_DECAY_ORACLE = """
WITH m AS (SELECT max(epoch_us(ts)) AS ref FROM events),
t AS (
  SELECT user_id, value,
         CAST((ref - epoch_us(ts)) // 86400000000 AS BIGINT) age_days
  FROM events CROSS JOIN m
),
s AS (
  SELECT user_id,
         count(*) n_events,
         CAST(sum(CAST(value * power(2.0, -age_days) AS DECIMAL(24,12)))
              AS DOUBLE) score
  FROM t GROUP BY user_id
)
SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
       round(score, 6) AS decayed_score
FROM s
"""


@_q(
    "events_decayed_score",
    _DECAY_ORACLE,
    "time-decayed per-user engagement: sum of value * 2^(-age_days) "
    "against the corpus max timestamp (1-day half-life) — dyadic "
    "weights (integer exponent, no pow/exp parity hazard), terms "
    "summed as exact decimal so the distributed sum is "
    "order-independent",
)
def q_events_decayed_score(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    m = F.broadcast(e.agg(F.max(epoch_us("ts")).alias("ref")))
    t = e.crossJoin(m).select(
        "user_id",
        "value",
        F.floor((F.col("ref") - epoch_us("ts")) / F.lit(86_400_000_000)).cast(
            "long"
        ).alias("age_days"),
    )
    return (
        t.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(
                (
                    F.col("value")
                    * F.pow(F.lit(2.0), -F.col("age_days").cast("double"))
                ).cast("decimal(24,12)")
            )
            .cast("double")
            .alias("score"),
        )
        .select("user_id", "n_events", F.round("score", 6).alias("decayed_score"))
    )


# Quality-weighted dedup materialization: dedup_keep keeps the MIN-ID
# cluster member; real curation keeps the BEST one — here the longest
# (most complete) version, the common policy when near-duplicates are
# truncations/expansions of each other. The corpus variant re-inserts
# every 10th doc EXPANDED by a 3-token tail (still ~0.85 Jaccard, so
# the near-dup machinery links them), which makes the policy decide
# differently from min-id: the kept representative is the LONGER
# +100000 copy. Representative choice = per-cluster window (n_tokens
# desc, doc asc) over the tiny cluster-membership table.

_KEEP_LONGEST_CORPUS_SQL = (
    "SELECT doc_id, text FROM documents UNION ALL "
    "SELECT doc_id + 100000 AS doc_id, "
    "concat(text, ' tail alpha beta') AS text "
    "FROM documents WHERE doc_id % 10 = 0"
)


@_q(
    "dedup_keep_longest",
    f"""
WITH RECURSIVE {_minhash_ctes(_KEEP_LONGEST_CORPUS_SQL)},
dup_edges AS (
  SELECT id_a AS a, id_b AS b FROM ver WHERE jaccard >= 0.7
  UNION
  SELECT id_b AS a, id_a AS b FROM ver WHERE jaccard >= 0.7
),
reach(node, r) AS (
  SELECT a, a FROM dup_edges
  UNION
  SELECT e.b, r.r FROM reach r JOIN dup_edges e ON e.a = r.node
),
clusters AS (SELECT node AS doc, min(r) AS cluster FROM reach GROUP BY node),
q AS (SELECT doc_id, len({SQL_TOKS.format(s='text')}) n FROM corpus),
memb AS (SELECT c.doc, c.cluster, q.n
         FROM clusters c JOIN q ON q.doc_id = c.doc),
ranked AS (SELECT doc, cluster,
                  row_number() OVER (PARTITION BY cluster
                                     ORDER BY n DESC, doc) rn
           FROM memb)
SELECT doc_id, CAST(q.n AS INTEGER) AS n_tokens, sha256(text) AS content_hash
FROM corpus JOIN q USING (doc_id)
WHERE doc_id NOT IN (SELECT doc FROM ranked WHERE rn > 1)
""",
    "quality-weighted dedup materialization: keep the LONGEST member of "
    "each duplicate cluster (ties -> min id) instead of the min-id one "
    "— the keep-the-most-complete-version curation policy; the corpus "
    "variant expands re-inserted dups so the policy provably differs "
    "from min-id",
)
def q_dedup_keep_longest(spark, sf_dir):
    from victor_spark.operators.dedup import duplicate_clusters, minhash_near_duplicates

    d = load_table(spark, sf_dir, "documents")
    corpus = fan_out(
        d.select("doc_id", "text").unionAll(
            d.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" tail alpha beta")).alias("text"),
            )
        )
    )
    pairs = minhash_near_duplicates(
        corpus, "doc_id", "text",
        threshold=0.7, num_hashes=MINHASH_NUM, bands=MINHASH_BANDS,
        shingle_n=3, unit="word",
    )
    clusters = duplicate_clusters(pairs)
    qual = corpus.select(
        "doc_id", F.size(T.tokens("text")).alias("n")
    )
    memb = clusters.join(
        qual.withColumnRenamed("doc_id", "doc"), "doc"
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("n"), F.asc("doc"))
    drops = (
        memb.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select(F.col("doc").alias("doc_id"))
    )
    # n_tokens is recomputed inline on the anti-joined survivors: joining
    # `qual` back would be a corpus-sized self-join (shuffle both sides on
    # doc_id) to fetch a value that is a pure projection of `text`
    # (round-9 dedup perf refactor; output byte-identical, oracle re-gated)
    return corpus.join(F.broadcast(drops), "doc_id", "left_anti").select(
        "doc_id",
        F.size(T.tokens("text")).cast("int").alias("n_tokens"),
        F.sha2("text", 256).alias("content_hash"),
    )


# Trending dashboard: top-2 event types per 6-hour tumbling window by
# count (ties -> type asc) — one windowed aggregation plus a rank-limit
# window over the tiny (windows x types) table; the WindowGroupLimit
# pushdown keeps the rank bounded before any sort.

_TRENDING_ORACLE = """
WITH w AS (
  SELECT CAST(epoch_us(ts) // 21600000000 AS BIGINT) win, event_type,
         count(*) n
  FROM events GROUP BY 1, 2
),
r AS (SELECT win, event_type, n,
             row_number() OVER (PARTITION BY win
                                ORDER BY n DESC, event_type) rn
      FROM w)
SELECT win, event_type, CAST(n AS BIGINT) AS n, CAST(rn AS INTEGER) AS rank
FROM r WHERE rn <= 2
"""


@_q(
    "events_trending",
    _TRENDING_ORACLE,
    "trending: top-2 event types per 6-hour tumbling window by count — "
    "windowed aggregation + rank-limit over the (windows x types) "
    "table, WindowGroupLimit-bounded",
)
def q_events_trending(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    w = (
        e.select(
            F.floor(epoch_us("ts") / F.lit(21_600_000_000)).cast("long").alias("win"),
            "event_type",
        )
        .groupBy("win", "event_type")
        .agg(F.count("*").alias("n"))
    )
    win = Window.partitionBy("win").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        w.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= 2)
        .select("win", "event_type", F.col("n").cast("long").alias("n"), "rank")
    )


# Embedding outlier audit: the 10 vectors farthest from their own
# label's centroid — the mislabeled-point / contamination probe over an
# embedding table. Centroids come from the decimal-exact per-dim means
# (order-independent, see embedding_drift); the per-row distance is a
# single fold against the broadcast centroid, and the result is a
# bounded heap.

_EMB_OUTLIER_ORACLE = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
comp AS (SELECT label, i AS idx, v[i] x
         FROM e, unnest(range(1, len(v) + 1)) r(i)),
cent AS (SELECT label, idx,
                CAST(sum(CAST(x AS DECIMAL(20,12))) AS DOUBLE) / count(*) m
         FROM comp GROUP BY 1, 2),
dist AS (
  SELECT e.vec_id, e.label,
         sqrt(sum((e.v[c.idx] - c.m) * (e.v[c.idx] - c.m))) d
  FROM e JOIN cent c ON c.label = e.label
  GROUP BY e.vec_id, e.label
),
r AS (SELECT vec_id, label, d,
             row_number() OVER (ORDER BY d DESC, vec_id) rn
      FROM dist)
SELECT vec_id, label, round(d, 6) AS centroid_dist, CAST(rn AS INTEGER) AS rank
FROM r WHERE rn <= 10
"""


@_q(
    "embedding_outliers",
    _EMB_OUTLIER_ORACLE,
    "embedding outlier audit: top-10 vectors farthest from their own "
    "label centroid (mislabeled-point probe) — decimal-exact centroids, "
    "per-row distance fold, bounded-heap top-k",
)
def q_embedding_outliers(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", to_double_array("embedding").alias("v")
    )
    comp = e.select("label", F.posexplode("v").alias("idx", "x"))
    cent = comp.groupBy("label", "idx").agg(
        (
            F.sum(F.col("x").cast("decimal(20,12)")).cast("double") / F.count("*")
        ).alias("m")
    )
    # per-label centroid as an array, broadcast back onto the stream
    carr = F.broadcast(
        cent.groupBy("label").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "m"))), lambda s: s["m"]
            ).alias("cv")
        )
    )
    dist = e.join(carr, "label").select(
        "vec_id", "label", euclidean("v", "cv").alias("d")
    )
    w = Window.orderBy(F.desc("d"), F.asc("vec_id"))
    return (
        dist.orderBy(F.desc("d"), F.asc("vec_id"))
        .limit(10)
        .withColumn("rank", F.row_number().over(w))
        .select("vec_id", "label", F.round("d", 6).alias("centroid_dist"), "rank")
    )


# ---------------------------------------------------------------------------
# gate ordering: the driver's correctness gate checks queries() in dict
# order and may cap how many it runs (rounds 2-4 ran only the first 50 of
# the catalog). Ordering therefore decides which queries accumulate
# driver CORRECTNESS rows — and is COMPUTED from the accumulated
# CORRECTNESS_r*.json artifacts rather than hand-maintained (the round-4
# hand tier table misplaced pca_project/multimodal_features; a computed
# ordering cannot repeat that mistake). Standing rules, by construction:
#
#   1. queries with NO green CORRECTNESS row in ANY round lead, in
#      catalog order (this automatically fronts queries added this
#      round — they have no artifact rows yet);
#   2. queries whose builder or oracle changed THIS round follow —
#      the one input the artifacts cannot know (_TOUCHED_THIS_ROUND,
#      reset each round);
#   3. the long-green tail is re-checked oldest-green-first (ties in
#      catalog order), so a 50-row cap window rotates through the
#      whole catalog across rounds instead of re-checking the same
#      front forever.
# ---------------------------------------------------------------------------

# Builders/oracles touched in the CURRENT round — the only hand input.
# Reset when a new round starts; the artifact-derived tiers handle the rest.
_TOUCHED_THIS_ROUND: list[str] = [
    # round 12 (optimization round 1): builders restructured for plan
    # shape — outputs identical (oracle-verified via driver_sim +
    # test_oracle_parity), but every touched builder gets a fresh
    # driver re-check. See OPTIMIZATION_r11.md for the per-query
    # before/after plan evidence.
    "textrank_keywords",   # iterative joins -> one Arrow farm (0 joins)
    "semdedup",            # localCheckpoint reuse barrier on assignment
    "quality_gopher",      # explode/groupBy/join-back -> row-local fold
    "repetition_stats",    # same row-local sorted-run fold move
    "tfidf_top_terms",     # row-local term counts; count() -> broadcast agg
    "bm25_top_terms",      # row-local term counts + lengths
    "phrase_search",       # posting-list join -> row-local adjacency scan
    "tpch_q16",            # dim filter before the exchange; distinct folded
    "zorder_audit",        # two span passes -> one exploded aggregation
]


def _row_is_green(v: object) -> bool:
    """A driver CORRECTNESS row counts as green iff it matched on rows +
    schema with no error and the value hash (when the driver computed
    one — rows-only checks leave it null) did not mismatch."""
    return (
        isinstance(v, dict)
        and bool(v.get("rows_match"))
        and bool(v.get("schema_match"))
        and v.get("hash_match") is not False
        and not v.get("err")
    )


def _last_green_rounds(root: str | None = None) -> dict[str, int]:
    """query name -> latest round with a green driver row, read from the
    committed CORRECTNESS_r*.json artifacts at the repo root (or an
    explicit ``root`` — test injection for synthetic future artifacts).
    Missing or unparsable artifacts are skipped (a clean checkout simply
    fronts everything in catalog order, which is the right degenerate
    answer)."""
    import glob as _glob
    import json as _json
    import os as _os
    import re as _re

    if root is None:
        root = _os.path.dirname(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
        )
    last: dict[str, int] = {}
    for path in sorted(_glob.glob(_os.path.join(root, "CORRECTNESS_r*.json"))):
        m = _re.search(r"CORRECTNESS_r(\d+)", _os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = _json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, v in rows.items():
            if _row_is_green(v):
                last[name] = max(last.get(name, 0), rnd)
    return last


def _ordering(
    names: list[str], last_green: dict[str, int], touched: list[str]
) -> list[str]:
    """The pure gate-schedule function: never-green first (catalog
    order), touched-and-green second, then the green tail oldest-first.
    Total by construction for ANY ``last_green`` mapping — including one
    containing a future round's artifact — so no driver CORRECTNESS
    drop can make the schedule computation itself fail (the round-10
    artifact-coupled-test lesson, pinned in test_gate_order.py)."""
    pos = {n: i for i, n in enumerate(names)}
    never = [n for n in names if n not in last_green]
    t = [n for n in touched if n in pos and n in last_green]
    placed = set(never) | set(t)
    tail = sorted(
        (n for n in names if n not in placed),
        key=lambda n: (last_green[n], pos[n]),
    )
    return never + t + tail


def _gate_order() -> None:
    last_green = _last_green_rounds()
    ordered: dict = {}
    for n in _ordering(list(QUERIES), last_green, _TOUCHED_THIS_ROUND):
        ordered[n] = QUERIES[n]
    QUERIES.clear()
    QUERIES.update(ordered)


# Round-9 registration (round-8 verdict item 1): the queries staged and
# oracle-hardened through round 8 join the live registry. The import is
# circular-safe: catalog_r9 pulls names defined ABOVE this line from the
# partially-initialized module in sys.modules. They all auto-front as
# never-green in the gate order computed below.
from victor_spark.plans import catalog_r9 as _catalog_r9  # noqa: E402

QUERIES.update(_catalog_r9.PENDING)

# Round-10 registration (round-9 verdict item 1): the 8 queries staged and
# oracle-hardened through round 9 join the live registry, AFTER their two
# flagged scale hazards were fixed this round (winnow_fingerprints gained
# MOSS's document-frequency cap before its pair join; soft_dedup_weights
# dropped its forced corpus-scale broadcast hint). Same circular-safe
# import shape as the round-9 line above; all 8 auto-front as never-green.
from victor_spark.plans import catalog_r10 as _catalog_r10  # noqa: E402

QUERIES.update(_catalog_r10.PENDING)

# Round-11 registration (round-10 verdict item 2): the 9 corpus-shape /
# unigram-LM / last-mile queries staged and oracle-hardened through
# round 10 join the live registry, after the round-10 ADVICE items
# against them were closed this round (zipf_fit's degenerate-corpus OLS
# guards mirrored in both engines; unigram_tokenize's NULL-text
# coalesce). Same circular-safe import shape; all 9 auto-front as
# never-green, and the 18-query r7 stale tail + oldest-r8 fill the
# remaining rotation slots.
from victor_spark.plans import catalog_r11 as _catalog_r11  # noqa: E402

QUERIES.update(_catalog_r11.PENDING)

_gate_order()
