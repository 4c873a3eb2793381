"""VectorIndex — the reference's entire public API, Spark-native.

Reference surface (/root/reference/src/db.rs, src/lib.rs): insert
(content, embedding, tags) records; top-k nearest neighbors by cosine
similarity filtered by tag-superset; clear; always-on 8-bit quantized
storage; PCA projected mode under storage pressure.

Physical design (SURVEY.md §1.4):
- one parquet table partitioned by `tag_set_id` = sha256 of the canonical
  sorted tag list (reference filename_for_tags, db.rs:645-650). Partition
  pruning over tag_set_id IS the reference's file selection; the tag-set ↔
  id map lives in a tiny `tag_sets.parquet` metadata listing (the analog of
  index.bin, db.rs:629-643) maintained on insert/delete, so resolving the
  tag-superset predicate never touches the data.
- vectors stored quantized (qmin/qmax/quant columns, packed_vector.rs
  semantics) exactly as the reference always stores packed; search
  dequantizes in the scan projection. Decode and score are higher-order
  functions, which Spark runs interpreted, outside whole-stage codegen:
  they, not I/O, are a search's CPU cost, so each stored row is decoded
  once, folds its norm once and its dot once per query.
- PCA mode: a saved PCAModel artifact next to the table flips inserts to
  project before write and search to euclidean-ascending scoring
  (db.rs:233-255 — with the farthest-k bug fixed, SURVEY.md §2.3).

Scale posture: inserts are append-only blind writes (no read-modify-write —
the reference rewrites content.bin wholesale per batch, db.rs:558-588; we
don't). Search is scan → prune → score → TakeOrderedAndProject: no shuffle,
k rows to the driver. A hot tag-set is just a big partition — AQE and
maxPartitionBytes split it across executors.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import weakref
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    StringType,
    StructField,
    StructType,
)

from victor_spark.fs import fs_for
from victor_spark.fs import join as fsjoin

from victor_spark.functions.hashing import md5_32
from victor_spark.functions.vector import (
    cosine_normed,
    cosine_to_literal,
    dequantize,
    euclidean,
    euclidean_to_literal,
    norm,
    py_norm,
    quantize,
)
from victor_spark.operators.pca import PCAModel, fit_pca, project_column
from victor_spark.operators.topk import topk

_PART = "tag_set_id="

INSERT_SCHEMA = StructType(
    [
        StructField("content", StringType(), False),
        StructField("embedding", ArrayType(FloatType()), False),
        StructField("tags", ArrayType(StringType()), True),
    ]
)

# key of the stored dimension in the listing's parquet key-value metadata
_DIM_KEY = b"victor_spark.dimension"


def _local_frame(spark: SparkSession, columns: dict[str, list],
                 schema: str | StructType) -> DataFrame:
    """A frame of driver-side values, built as an Arrow table and cast to
    ``schema``. Spark holds it as a LocalRelation, so no job that reads it
    starts a Python worker; a Python list would go through a PipelinedRDD
    whose rows Python workers unpickle again in every job that reads them."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table(columns), schema)


# One ObservationManager per session, made here: DataFrame.observe with an
# Observation would create the session's own, which Spark 4.1 keeps in a
# non-transient field of the session. From then on the session does not
# serialize, and every job whose closure captures it (a fitted
# LogisticRegressionModel's training summary, say) fails.
_OBSERVERS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _observe(df: DataFrame, *metrics: Column) -> tuple[DataFrame, Callable[[], dict]]:
    """``df`` with aggregate ``metrics`` observed, and a function that
    returns them by alias once the first action on that frame has run."""
    import uuid as _uuid

    from pyspark.serializers import CPickleSerializer

    spark = df.sparkSession
    jvm = spark._jvm
    manager = _OBSERVERS.get(spark)
    if manager is None:
        manager = jvm.org.apache.spark.sql.classic.ObservationManager(
            spark._jsparkSession
        )
        _OBSERVERS[spark] = manager
    name = f"observed_{_uuid.uuid4().hex}"
    observation = jvm.org.apache.spark.sql.Observation(name)
    manager.register(observation, df._jdf)
    to_py_row = jvm.org.apache.spark.sql.api.python.PythonSQLUtils.toPyRow

    def get() -> dict:
        return CPickleSerializer().loads(to_py_row(observation.getRow())).asDict()

    return df.observe(name, *metrics), get


def _canon_path(p: str) -> str:
    """Normalize a path for identity comparison (merge_from's self-merge
    guard), so aliases of the same directory compare equal:

    - a ``file:`` scheme with an empty or ``localhost`` authority IS the
      local path (``file://localhost/p`` == ``file:///p`` == ``/p``);
    - local paths are resolved through ``os.path.realpath`` so symlinked
      directories and relative spellings cannot bypass the guard;
    - remote URIs lowercase scheme+host, drop the scheme's default port
      (``hdfs://nn:8020`` == ``hdfs://nn``), collapse duplicate slashes
      and the trailing slash."""
    import os as _os
    from urllib.parse import urlparse

    def _collapse(path: str) -> str:
        while "//" in path:
            path = path.replace("//", "/")
        return path.rstrip("/") or "/"

    u = urlparse(p)
    scheme = u.scheme.lower()
    if scheme in ("", "file"):
        host = u.netloc.lower()
        if scheme == "file" and host not in ("", "localhost"):
            # genuinely remote file:// authority — no local resolution
            return f"file://{host}{_collapse(u.path)}"
        path = u.path if scheme == "file" else p
        return _os.path.realpath(_collapse(path))
    host = u.netloc.lower()
    default_port = {"hdfs": ":8020", "webhdfs": ":9870", "ftp": ":21"}.get(scheme)
    if default_port and host.endswith(default_port):
        host = host[: -len(default_port)]
    return f"{scheme}://{host}{_collapse(u.path)}"


def tag_set_id(tags: list[str]) -> str:
    """Canonical partition key for a tag set: sha256 of the sorted,
    deduplicated, comma-joined tags (reference: sha256 of the Debug format
    of the sorted BTreeSet, db.rs:645-650 — same canonicalization, cleaner
    encoding)."""
    canon = ",".join(sorted(set(tags)))
    return hashlib.sha256(canon.encode("utf-8")).hexdigest()


class DimensionMismatchError(ValueError):
    """Insert batch contains vectors of a different dimension than the
    index (reference panics on record-size mismatch, db.rs:516-539)."""


def _check_dim(got: int, want: int, what: str) -> None:
    if got != want:
        raise DimensionMismatchError(
            f"query dimension {got} vs {what} dimension {want}"
        )


# -- the stored codec -----------------------------------------------------
#
# functions/vector.py's quantize writes the stored layout (qmin, qmax,
# quant) and dequantize reads it; _encode and _decode are their only
# callers here.


def _encode(df: DataFrame, vec_col: str) -> DataFrame:
    """(id, content, tags, ``vec_col``, tag_set_id) → the stored columns
    (id, content, tags, qmin, qmax, quant, tag_set_id)."""
    return df.select(
        "id", "content", "tags", quantize(vec_col).alias("q"), "tag_set_id"
    ).selectExpr("id", "content", "tags", "q.qmin", "q.qmax", "q.quant",
                 "tag_set_id")


def _decode(df: DataFrame) -> DataFrame:
    """Stored rows plus the dequantized ``embedding`` column."""
    return df.withColumn("embedding", dequantize("quant", "qmin", "qmax"))


def _guard_score(df: DataFrame, score: Column, qdim: int,
                 strict_nan: bool) -> DataFrame:
    """``df`` plus the ``score`` column as search serves it. A NaN score
    (a zero-norm vector under cosine, or NaN inputs) fails the query with
    ``strict_nan`` — the distributed mirror of the reference's panic in
    NearestNeighborsResult::cmp (db.rs:742-748) — and becomes NULL
    otherwise, which the caller orders last and drops after its limit
    (:func:`_drop_nan_scores`). A stored vector whose dimension is not
    the query's fails the query in-plan in both modes: the vector kernels
    pad a length mismatch with NULL, so its score is NULL, never NaN.

    The raw score is materialized as a column first and the guard reads
    that column. The guard names the score twice (the NaN test and the
    ELSE), and the optimizer does not merge a Project into one that
    reads a costly output more than once, so every row is scored once.
    A NaN filter instead would be pushed below the scoring Project with
    the score inlined, scoring every row a second time. The guard is
    one parsed SQL expression, as the vector kernels are: a handful of
    py4j round trips where the Column builders cost about a hundred."""
    nan_case = ("raise_error('NaN similarity score (strict NaN mode)')"
                if strict_nan else "NULL")
    guard = F.expr(
        f"CASE WHEN isnan(score) THEN {nan_case} "
        f"WHEN size(embedding) != {qdim} THEN raise_error(concat("
        f"'query dimension {qdim} vs index dimension ', "
        f"CAST(size(embedding) AS STRING))) "
        f"ELSE score END"
    )
    return df.withColumn("score", score).withColumn("score", guard)


def _drop_nan_scores(df: DataFrame, strict_nan: bool) -> DataFrame:
    """Without ``strict_nan``, drop the rows whose score the guard turned
    NULL. Applied after the top-k limit: NULL scores order last, so the
    limit keeps exactly the rows it would keep over the non-NaN rows
    alone, and the filter cannot be pushed into the scoring Project."""
    return df if strict_nan else df.filter(F.col("score").isNotNull())


def _lexical_jaccard(text: str) -> Column:
    """Token-set Jaccard of the stored ``content`` against ``text`` (0.0
    when both are empty) — the lexical evidence of search_rerank and
    hybrid_search."""
    from victor_spark.functions.text import tokens
    from victor_spark.functions.url import _sql_str

    qt = F.array_distinct(tokens(_sql_str(text.lower())))
    ct = F.array_distinct(tokens("lower(content)"))
    denom = F.size(F.array_union(ct, qt))
    return F.when(denom == 0, F.lit(0.0)).otherwise(
        F.size(F.array_intersect(ct, qt)) / denom
    )


class VectorIndex:
    def __init__(
        self, spark: SparkSession, path: str, listing_lock: bool = False
    ):
        self.spark = spark
        self.path = path
        # Optional ADVISORY write lock for the tag-set listing: when True,
        # every listing read-modify-write (_register_tag_sets) runs under
        # a create-exclusive lock file with stale expiry, closing the
        # lost-update window for callers who cannot serialize their
        # insert_df calls. Off by default — the documented single-writer
        # contract plus reconciler heal is the blessed mode, and
        # merge_from is the blessed multi-writer ingest pattern. The lock
        # is ADVISORY: all writers must opt in, and on S3-like object
        # stores create-exclusive is best-effort rather than atomic.
        self.listing_lock = listing_lock
        # maintenance backend (victor_spark/fs.py — the reference's
        # filesystem trait, src/filesystem/mod.rs:22-59): a plain path
        # gets the os/shutil fast path; any URI scheme (hdfs://, s3a://,
        # file:) routes EVERY maintenance call — listing swaps, directory
        # renames, artifact files, footer row counts — through the JVM
        # Hadoop FileSystem, the same impls Spark's own reads use
        self.fs = fs_for(spark, path)
        self.data_path = fsjoin(path, "data")
        self.tagsets_path = fsjoin(path, "tag_sets.parquet")
        self.lock_path = fsjoin(path, "tag_sets.lock")
        self.model_path = fsjoin(path, "pca_model.npz")
        self.pq_path = fsjoin(path, "pq_codes")
        self.pq_meta_path = fsjoin(path, "pq_meta.json")
        self.ivf_path = fsjoin(path, "ivf_data")
        self.ivf_meta_path = fsjoin(path, "ivf_meta.json")
        self.ivfpq_path = fsjoin(path, "ivfpq_codes")
        self.ivfpq_meta_path = fsjoin(path, "ivfpq_meta.json")

    # -- DML ---------------------------------------------------------------

    def insert(self, rows: list[tuple[str, list[float], list[str]]]) -> None:
        """Batch insert of (content, embedding, tags) triples.

        Reference add_embeddings (db.rs:142-164): uuid per row, route to the
        tag-set file, quantize via serde, append. Here the batch becomes an
        Arrow-built local frame (:func:`_local_frame`) and goes through
        :meth:`insert_df`: one Spark job, no Python worker.
        """
        self.insert_df(_local_frame(self.spark, {
            "content": [c for c, _v, _t in rows],
            "embedding": [[float(x) for x in v] for _c, v, _t in rows],
            "tags": [sorted(set(t)) for _c, _v, t in rows],
        }, INSERT_SCHEMA))

    def add(self, texts: list[str], tags: list[str] | None = None,
            dim: int = 64) -> None:
        """Embed documents with the batch embedder and insert (reference
        `add`, db.rs:102-114: fastembed over docs → add_embeddings). The
        embedding runs as an Arrow-batched pandas_udf inside the insert
        job — one distributed pass, no driver materialization."""
        from victor_spark.functions.embedder import embed

        df = _local_frame(
            self.spark, {"content": list(texts)}, "content string"
        ).select(
            "content",
            embed("content", dim).alias("embedding"),
            F.array(*[F.lit(t) for t in sorted(set(tags or []))]).alias("tags"),
        )
        self.insert_df(df)

    def add_chunked(self, docs: DataFrame, id_col: str, text_col: str,
                    chunk_size: int = 16, overlap: int = 4,
                    tags: list[str] | None = None, dim: int = 64) -> None:
        """RAG ingestion: chunk documents into overlapping token windows,
        embed each chunk with the corpus embedder, and insert — one
        distributed dataflow (chunk = map-side explode, embed = Arrow
        pandas_udf inside the insert job, no driver materialization).

        Each chunk's content is the window text; its tags are the
        caller's tags plus ``doc:<id>``, so every chunk of a document is
        retrievable (and deletable via ``delete(tags=['doc:<id>'])``) as
        a group — the provenance link chunked serving needs."""
        from victor_spark.functions.embedder import embed
        from victor_spark.operators.chunking import chunk_tokens

        base = sorted(set(tags or []))
        ch = chunk_tokens(docs, id_col, text_col,
                          chunk_size=chunk_size, overlap=overlap)
        df = ch.select(
            F.array_join("chunk_tokens", " ").alias("content"),
            F.array_sort(
                F.array(
                    *[F.lit(t) for t in base],
                    F.concat(F.lit("doc:"), F.col(id_col).cast("string")),
                )
            ).alias("tags"),
        ).select("content", embed("content", dim).alias("embedding"), "tags")
        self.insert_df(df)

    def search_text(self, text: str, k: int = 10,
                    tags: list[str] | None = None) -> DataFrame:
        """Text-entry search (reference `search`, db.rs:198-213): embed the
        query string driver-side with the same model, then vector search."""
        from victor_spark.functions.embedder import embed_query

        model = self._load_model()
        query_dim = (self._listed_dimension() if model is None
                     else model.components.shape[0])
        return self.search(embed_query(text, query_dim or 64), k=k, tags=tags)

    def search_rerank(self, text: str, k: int = 5, fetch_k: int = 20,
                      tags: list[str] | None = None) -> DataFrame:
        """Two-stage text search: retrieve ``fetch_k`` candidates by
        embedding similarity, rerank ONLY those by lexical token-set
        Jaccard between the stored content and the query text, return
        the top ``k`` — (id, content, tags, score, rerank_score, rank).

        The retrieve+rerank serving shape: stage 1 is the index's
        bounded-heap vector search (pruned scan, TakeOrderedAndProject),
        so stage 2's cost is O(fetch_k) regardless of corpus size —
        the contract a real cross-encoder reranker slots into (swap the
        Jaccard expression for a pandas_udf scoring model; the candidate
        bound is what keeps model inference off the corpus scan path).
        Works in projected (euclidean) mode too — the lexical evidence
        is independent of the retrieval metric."""
        from pyspark.sql import Window

        cand = self.search_text(text, k=fetch_k, tags=tags)
        w = Window.orderBy(F.desc("rerank_score"), F.asc("id"))
        return (
            cand.withColumn("rerank_score", _lexical_jaccard(text))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("id", "content", "tags", "score", "rerank_score", "rank")
        )

    def hybrid_search(self, text: str, k: int = 5, fetch_k: int = 20,
                      tags: list[str] | None = None,
                      rrf_k: int = 60) -> DataFrame:
        """Hybrid retrieval on the index: Reciprocal Rank Fusion of the
        vector leg (embedding search, top ``fetch_k``) and a lexical leg
        (token-set Jaccard of stored content vs the query text, top
        ``fetch_k``, same tag scope). Returns the fused top ``k`` —
        (id, content, tags, vec_rank, lex_rank, rrf, rank).

        RRF (Cormack et al. 2009) needs no score calibration — only
        RANKS enter (score = Σ 1/(rrf_k + rank)) — which is what makes
        it safe to fuse a cosine (or, in projected mode, euclidean)
        ranking with a Jaccard ranking. Both legs are bounded heaps;
        the fusion joins two fetch_k-row lists, so post-scan work is
        O(fetch_k) at any corpus size."""
        from pyspark.sql import Window

        ascending = self._load_model() is not None  # euclidean in projected mode
        vec = self.search_text(text, k=fetch_k, tags=tags)
        vw = Window.orderBy(
            F.asc("score") if ascending else F.desc("score"), F.asc("id")
        )
        vtop = vec.withColumn("vec_rank", F.row_number().over(vw)).select(
            "id", "content", "tags", "vec_rank"
        )

        lw = Window.orderBy(F.desc("_j"), F.asc("id"))
        ltop = (
            self.scan(tags)
            .select("id", "content", "tags", _lexical_jaccard(text).alias("_j"))
            .orderBy(F.desc("_j"), F.asc("id"))
            .limit(fetch_k)
            .withColumn("lex_rank", F.row_number().over(lw))
            .select("id", "content", "tags", "lex_rank")
        )

        fused = vtop.alias("v").join(
            ltop.alias("l"), F.col("v.id") == F.col("l.id"), "full_outer"
        ).select(
            F.coalesce(F.col("v.id"), F.col("l.id")).alias("id"),
            F.coalesce(F.col("v.content"), F.col("l.content")).alias("content"),
            F.coalesce(F.col("v.tags"), F.col("l.tags")).alias("tags"),
            F.col("v.vec_rank").alias("vec_rank"),
            F.col("l.lex_rank").alias("lex_rank"),
            (
                F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("v.vec_rank")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("l.lex_rank")), F.lit(0.0))
            ).alias("rrf"),
        )
        fw = Window.orderBy(F.desc("rrf"), F.asc("id"))
        return (
            fused.withColumn("rank", F.row_number().over(fw))
            .filter(F.col("rank") <= k)
            .select("id", "content", "tags", "vec_rank", "lex_rank", "rrf", "rank")
        )

    def insert_df(self, df: DataFrame) -> None:
        """Insert from a DataFrame with (content, embedding, tags) columns.

        One Spark job: the staging write (:meth:`_stage`). Metrics
        observed on the staged rows (:func:`_observe`) collect the batch's
        smallest and largest vector size and its distinct tag-sets while
        that job runs.
        They are checked after the write and before any file goes live: a
        batch of another dimension than the index's (the model's input
        dimension in projected mode), or one that mixes dimensions, has
        its staging directory deleted and raises DimensionMismatchError.
        The stored dimension comes from the listing (:meth:`dimension`),
        not from the data. Tags are deduplicated and sorted; an empty
        batch stores nothing."""
        model = self._load_model()
        # In projected mode incoming vectors carry the ORIGINAL dimension
        # (the model's input side) and are projected before write
        # (db.rs:480-499); otherwise they must match the stored dimension.
        dim = (model.components.shape[0] if model is not None
               else self._listed_dimension())
        tags_norm = F.array_sort(F.array_distinct(F.coalesce(F.col("tags"), F.array())))
        # a NULL embedding counts as size -1, so it fails the check
        size = F.coalesce(F.size("_vec"), F.lit(-1))
        staged, observed = _observe(
            df.select(
                F.col("content"),
                F.col("embedding").cast("array<double>").alias("_vec"),
                tags_norm.alias("_tags"),
            ),
            F.min(size).alias("lo"),
            F.max(size).alias("hi"),
            F.collect_set("_tags").alias("tag_sets"),
        )
        if model is not None:
            # projected-insert path (db.rs:480-499); the projection gets its
            # own select so the large-model pandas_udf path is a standalone
            # projection stage (a UDF can't appear inside quantize's
            # transform() lambdas). A vector of the wrong size projects as
            # zeros, so the write completes and the check rejects the batch.
            d_in = model.components.shape[0]
            fit = F.when(F.size("_vec") == d_in, F.col("_vec")).otherwise(
                F.array_repeat(F.lit(0.0), d_in)
            )
            staged = staged.select(
                "content",
                project_column(fit, model).cast("array<double>").alias("_vec"),
                "_tags",
            )

        out = _encode(staged.select(
            F.expr("uuid()").alias("id"),
            F.col("content"),
            F.col("_tags").alias("tags"),
            "_vec",
            F.sha2(F.array_join(F.col("_tags"), ","), 256).alias("tag_set_id"),
        ), "_vec")

        staging = self._stage(out)
        got = observed()
        batch_dims = sorted({got["lo"], got["hi"]} - {None})
        if len(batch_dims) > 1 or (dim is not None and batch_dims
                                   and batch_dims[0] != dim):
            self.fs.delete(staging)
            raise DimensionMismatchError(
                f"index dimension {dim}, batch dimensions {batch_dims}"
            )
        self._publish(staging)
        if got["tag_sets"]:
            # data first, then metadata: the listing must never name a
            # tag-set whose partition directory doesn't exist yet
            self._register_tag_sets(
                {tuple(ts) for ts in got["tag_sets"]},
                model.components.shape[1] if model is not None else got["hi"],
            )

    def _stage(self, out: DataFrame) -> str:
        """Write partitioned rows to a PRIVATE staging directory and
        return its path; :meth:`_publish` then moves them live per file.

        A direct ``write.mode("append").parquet(data_path)`` is NOT safe
        under concurrent writers: Hadoop's FileOutputCommitter stages
        every concurrent job under the SAME ``<data_path>/_temporary/0``,
        and the first job to commit deletes the others' in-flight task
        files (observed as FileNotFoundException mid-commit). Each insert
        therefore writes to its own ``…__staging`` directory — its own
        private ``_temporary`` — and then moves the finished part files,
        whose names are globally unique, into the live partition
        directories. File moves never collide, so concurrent insert_df /
        merge_from calls are safe on the DATA side; the listing side
        remains merge-on-write + reconciler (contract below).

        The write leaves out Spark's ``_SUCCESS`` marker: _publish writes
        it once the caller's checks have passed, so a staging directory
        with the marker holds a complete batch that was cleared to go live,
        and one without it (an interrupted write, or a batch being checked)
        is never published by :meth:`recover_staged`.

        FAILURE CONTRACT: the staging directory is deleted only after
        EVERY part file has moved. If the move loop fails partway (crash,
        transient FS error), ``__staging`` is left in place with exactly
        the not-yet-moved files — so the insert is completable, not just
        reclaimable: :meth:`recover_staged` finishes the remaining moves
        exactly-once (file names are globally unique, and a rename that
        already happened leaves no source file behind). Blindly retrying
        the insert instead would duplicate the rows whose files already
        moved; run recover_staged() — or, to abandon the partial batch,
        :meth:`vacuum` the aged staging dir (accepting the partial
        batch's already-moved rows, which the listing reconciler makes
        queryable)."""
        import uuid as _uuid

        staging = f"{self.data_path}__insert_{_uuid.uuid4().hex[:12]}__staging"
        out.write.mode("overwrite").option(
            "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
        ).partitionBy("tag_set_id").parquet(staging)
        return staging

    def _publish(self, staging: str) -> None:
        """Mark a checked staging directory complete, then move it live."""
        self.fs.write_bytes(fsjoin(staging, "_SUCCESS"), b"")
        self._complete_staged_moves(staging)

    def _complete_staged_moves(self, staging: str) -> None:
        """Move every staged part file into its live partition directory,
        then delete the staging dir. Idempotent/resumable: a destination
        that already exists means an earlier attempt moved this file
        (rename is atomic locally and on HDFS; on object stores the
        copy half completed) — drop the source instead of re-moving. On
        failure the staging dir is left in place (see _stage's
        failure contract)."""
        for tsid in self._partition_ids(staging):
            live = self._part_dir(tsid)
            self.fs.mkdirs(live)
            src_dir = self._part_dir(tsid, staging)
            for fname in self.fs.listdir(src_dir):
                if fname.endswith(".parquet"):
                    src, dst = fsjoin(src_dir, fname), fsjoin(live, fname)
                    if self.fs.exists(dst):
                        self.fs.delete(src)
                    else:
                        self.fs.rename(src, dst)
        self.fs.delete(staging)

    def recover_staged(self) -> list[str]:
        """Complete any insert/merge interrupted during its move phase.

        A ``__staging`` directory containing the ``_SUCCESS`` marker
        (written by _publish once the batch passed its checks) holds a
        COMPLETELY written batch whose per-file moves did not all
        finish — resume them (exactly-once, see _complete_staged_moves)
        and reconcile the tag listing so the recovered partitions are
        queryable. A staging dir WITHOUT ``_SUCCESS`` is an interrupted
        WRITE (no file of it ever went live) and is left for
        :meth:`vacuum`. Returns the staging paths completed."""
        recovered: list[str] = []
        if not self.fs.exists(self.path):
            return recovered
        for name in self.fs.listdir(self.path):
            if not name.endswith("__staging"):
                continue
            staging = fsjoin(self.path, name)
            if self.fs.exists(fsjoin(staging, "_SUCCESS")):
                self._complete_staged_moves(staging)
                recovered.append(staging)
        if recovered:
            self._tag_sets()
        return recovered

    # -- tag-set metadata listing ------------------------------------------
    #
    # The Spark analog of the reference's index.bin (db.rs:629-643): a tiny
    # (tag_set_id, tags) table kept NEXT TO the data, maintained on
    # insert/delete, and read instead of the data on every tagged scan.
    # Without it, resolving the tag-superset predicate means a full-corpus
    # distinct over the tags column before every query — a scan-the-world
    # prologue at 100 TB. The listing is O(#distinct tag-sets) — hundreds of
    # rows — so it's read and filtered driver-side with no Spark job at all,
    # exactly like the reference reads index.bin. Reads and writes go
    # through self.fs, so the listing lives wherever the data lives
    # (local disk, HDFS, object store).
    #
    # THE DIMENSION: the listing also carries the stored vectors'
    # dimension, as key-value metadata (_DIM_KEY) of its parquet file —
    # the analog of the record size in the reference's vector-file header
    # (db.rs:516-539). insert's dimension check, dimension(), search_text
    # and merge_from read it there instead of from the data. _tag_sets
    # writes it when it registers a batch (and project() when the stored
    # space changes), _after_drop carries it over, and clear() removes it
    # with the listing. A listing without the key (one written before the
    # listing carried it) makes dimension() fall back to a one-row scan;
    # the next listing write records the key.
    #
    # ONE RESOLVER: every consult of the listing — insert's registration,
    # tagged scans and delete, stats, recover_staged, merge_from — goes
    # through _tag_sets, which diffs the listing against the partition
    # directories (one directory listing) and heals what it lacks. Only
    # delete's epilogue (_after_drop) writes the listing without it.
    #
    # CONCURRENT-WRITER CONTRACT: the listing is maintained by
    # read-modify-write + replace, which assumes a SINGLE WRITER per
    # index (the reference has the same contract — one process owns
    # index.bin). Two concurrent insert_df calls can interleave so the
    # second replace drops the first's new tag-set entry. That lost
    # update is NOT data loss: the data partition exists, and the next
    # consult of the listing (any read, or the next insert) restores the
    # unlisted entry from its partition directory
    # (tests/test_fs.py::test_lost_update_reconciles). Queries between
    # the lost update and that consult can miss the affected tag-set —
    # callers needing multi-writer ingest should serialize insert_df
    # calls or opt into listing_lock (the inserts themselves are
    # append-only parquet writes and commute; only the listing flip
    # needs the lock).

    def _read_listing(
        self,
    ) -> tuple[list[tuple[str, list[str]]], int | None] | None:
        """The (tag_set_id, tags) rows and the stored dimension the listing
        carries (None when it lacks the key), or None if no listing exists
        (an index written before this listing existed)."""
        if not self.fs.exists(self.tagsets_path):
            return None
        import pyarrow as pa
        import pyarrow.parquet as papq

        t = papq.read_table(pa.BufferReader(self.fs.read_bytes(self.tagsets_path)))
        dim = (t.schema.metadata or {}).get(_DIM_KEY)
        return list(zip(
            (str(x) for x in t.column("tag_set_id").to_pylist()),
            ([list(v) for v in t.column("tags").to_pylist()]),
        )), None if dim is None else int(dim)

    def _read_tag_sets(self) -> list[tuple[str, list[str]]] | None:
        """The listing's (tag_set_id, tags) rows, or None (_read_listing)."""
        listing = self._read_listing()
        return None if listing is None else listing[0]

    def _write_tag_sets(self, rows: list[tuple[str, list[str]]],
                        dim: int | None = None) -> None:
        import pyarrow as pa
        import pyarrow.parquet as papq

        t = pa.table({
            "tag_set_id": pa.array([r[0] for r in rows], pa.string()),
            "tags": pa.array([r[1] for r in rows], pa.list_(pa.string())),
        })
        if dim is not None:
            t = t.replace_schema_metadata({_DIM_KEY: str(dim).encode()})
        sink = pa.BufferOutputStream()
        papq.write_table(t, sink)
        self.fs.write_bytes_atomic(self.tagsets_path, sink.getvalue().to_pybytes())

    def _acquire_listing_lock(
        self, timeout_s: float = 60.0, stale_s: float = 600.0
    ) -> None:
        """Take the advisory listing lock: create-exclusive a lock file,
        spinning (with backoff) until it succeeds or ``timeout_s``
        elapses. A lock file older than ``stale_s`` is presumed to be a
        crashed holder's debris and is broken — NOT by check-then-delete
        (two waiters observing the same stale mtime could both delete,
        the loser's pending delete destroying the winner's freshly
        created lock and admitting two holders) but by an atomic rename
        to a waiter-unique victim name: exactly one claimant's rename
        succeeds, and the claimant RE-VERIFIES staleness on the victim
        copy (now private, so the check is race-free) before destroying
        it — a freshly re-created lock stolen by mistake is renamed
        straight back. Raises TimeoutError when a live holder outlasts
        the wait."""
        import time as _time

        deadline = _time.monotonic() + timeout_s
        payload = f"pid={os.getpid()}".encode()
        while True:
            if self.fs.create_exclusive(self.lock_path, payload):
                return
            # the deadline is enforced on EVERY path through the loop
            # (a persistently-failing mtime probe must still time out,
            # not hot-spin forever)
            if _time.monotonic() > deadline:
                raise TimeoutError(
                    f"listing lock held past {timeout_s}s: {self.lock_path}"
                )
            try:
                if _time.time() - self.fs.mtime(self.lock_path) > stale_s:
                    self._break_stale_lock(stale_s)
            except Exception:
                # holder released / another waiter won the break between
                # our create-excl and mtime (LocalFS raises OSError,
                # HadoopFS a py4j wrapper) — retry after the backoff
                pass
            _time.sleep(0.05)

    def _break_stale_lock(self, stale_s: float) -> None:
        """Atomically claim a presumed-stale lock file and destroy it only
        if it really is stale. rename is atomic and refuses to clobber on
        both backends, so at most one concurrent claimant gets the file;
        the mtime re-check then runs on a path only this claimant knows.
        If the claim caught a lock that was re-created fresh in the
        window after the caller's staleness check, it is renamed back
        untouched. Should even THAT restore collide with a brand-new
        lock — a triple interleave inside microseconds of a 10-minute
        expiry — the restore is RETRIED with backoff (the colliding
        holder's critical section is sub-second, so the lock path frees
        quickly) before giving up and deleting the victim, which would
        strand the stolen holder lock-less; the retry loop shrinks that
        two-holder window from "always on collision" to "collision
        persisting past every retry", and the listing's reconciler
        heals any lost update beyond it, as it does for unlocked
        writers (round-6 advisor).
        A claimant that CRASHES between its rename and the
        delete/restore leaves ``__stale_<uuid>`` debris (swept by
        vacuum's age gate) and, if the claim had caught a fresh lock,
        strands that holder lock-less — the same reconciler contract
        bounds the damage to a healable lost update."""
        import time as _time
        import uuid as _uuid

        victim = f"{self.lock_path}__stale_{_uuid.uuid4().hex}"
        self.fs.rename(self.lock_path, victim)  # raises if we lost the race
        try:
            fresh = _time.time() - self.fs.mtime(victim) <= stale_s
        except Exception:
            fresh = False
        if fresh:
            for attempt in range(4):
                try:
                    self.fs.rename(victim, self.lock_path)
                    return
                except Exception:
                    _time.sleep(0.05 * (attempt + 1))
        self.fs.delete(victim)

    def _release_listing_lock(self) -> None:
        self.fs.delete(self.lock_path)

    def _register_tag_sets(self, batch_sets: set[tuple[str, ...]],
                           dim: int | None = None) -> None:
        """List a written batch's tag-sets and the stored dimension."""
        known = [(tag_set_id(list(ts)), list(ts)) for ts in sorted(batch_sets)]
        if not self.listing_lock:
            self._tag_sets(known, dim)
            return
        self._acquire_listing_lock()
        try:
            self._tag_sets(known, dim)
        finally:
            self._release_listing_lock()

    def _part_dir(self, tsid: str, root: str | None = None) -> str:
        return fsjoin(root or self.data_path, _PART + tsid)

    def _partition_ids(self, root: str | None = None) -> list[str]:
        """tag_set_ids of the partition directories under ``root`` (the
        live data by default) — one directory listing."""
        return sorted(
            d[len(_PART):]
            for d in self.fs.listdir(root or self.data_path)
            if d.startswith(_PART)
        )

    def _tag_sets(
        self, known: list[tuple[str, list[str]]] = (), dim: int | None = None
    ) -> list[tuple[str, list[str]]]:
        """The (tag_set_id, tags) listing, healed against the data layout
        and extended by ``known`` entries (an insert's batch tag-sets).
        A ``dim`` the listing does not carry yet is written with it;
        otherwise a rewrite keeps the listed dimension.

        The check is ONE directory listing: a partition the listing does
        not name — an index written before the listing existed, a crash
        between the data write and the listing update, or the lost update
        of the single-writer contract above — pays one pruned read of its
        own directory to recover its tags (each partition's tags are
        constant by construction), never a corpus scan; ``known`` entries
        need no read. When anything changed, the listing is re-read right
        before the replace and unioned (merge-on-write: the data write can
        take minutes, so this shrinks the lost-update window to the
        read→replace gap)."""
        listing, listed_dim = self._read_listing() or (None, None)
        have = {tsid for tsid, _ in listing or []}
        add = [(tsid, ts) for tsid, ts in known if tsid not in have]
        have |= {tsid for tsid, _ in known}
        for tsid in [] if self.is_empty() else self._partition_ids():
            if tsid in have:
                continue
            # explicit schema: a directory a concurrent writer has created
            # but not yet filled reads as empty instead of failing inference
            row = self.spark.read.schema("tags array<string>").parquet(
                self._part_dir(tsid)
            ).first()
            if row is not None:
                add.append((tsid, list(row["tags"])))
        if listing is not None and not add and dim in (None, listed_dim):
            return listing
        latest, latest_dim = self._read_listing() or ([], None)
        merged = sorted(
            {(tsid, tuple(ts)) for tsid, ts in latest + (listing or []) + add}
        )
        listing = [(tsid, list(ts)) for tsid, ts in merged]
        self._write_tag_sets(listing, latest_dim if dim is None else dim)
        return listing

    def _matching_tag_set_ids(self, tags: list[str]) -> list[str]:
        """tag_set_ids whose stored tag-set ⊇ ``tags`` (reference
        get_matching_db_files, db.rs:687-706), resolved from the metadata
        listing — no data scan on the common path."""
        want = set(tags)
        return [tsid for tsid, ts in self._tag_sets() if want.issubset(ts)]

    def clear(self) -> None:
        """Drop everything (reference clear_db, db.rs:608-625)."""
        for p in (self.data_path, self.tagsets_path, self.model_path):
            self.fs.delete(p)
        self._drop_ann_artifacts()

    def delete(self, tags: list[str]) -> int:
        """Delete every row whose tag-set ⊇ ``tags`` (the same superset
        semantics as search/scan). Returns the number of rows deleted.

        An extension — the reference's only deletion is clear_db — but it
        falls out of the physical layout for free: tag-supersets are whole
        ``tag_set_id=…`` partition directories, so deletion is a metadata
        listing plus directory removals. No data files are read or
        rewritten — the same reason DELETE-by-partition-key is O(partitions)
        on any hive-layout table at 100 TB.
        """
        if not tags:
            raise ValueError("delete() needs at least one tag; use clear() "
                             "to drop the whole index")
        if self.is_empty():
            return 0
        ids = self._matching_tag_set_ids(sorted(set(tags)))
        if not ids:
            return 0
        # victim count from parquet FOOTERS of the doomed directories — row
        # counts are free metadata; no data pages are read (the reference
        # returns the count from its in-memory index, db.rs:629-643)
        n = 0
        for tsid in ids:
            part_dir = self._part_dir(tsid)
            if not self.fs.is_dir(part_dir):
                continue
            n += self.fs.parquet_row_count(part_dir)
            self.fs.delete(part_dir)
        self._after_drop(set(ids))
        return n

    def _after_drop(self, dropped: set[str]) -> None:
        """The epilogue of delete and delete_ids: unlist the ``dropped``
        tag-sets, clear() an index left without partitions, and otherwise
        drop the ANN serving artifacts. Deletion changes MEMBERSHIP: a
        PQ/IVF table built earlier would keep answering with the deleted
        rows — worse than the acceptable "stale-missing" of post-build
        inserts; callers rebuild when they next need the ANN path."""
        if dropped:
            rows, dim = self._read_listing() or ([], None)
            self._write_tag_sets(
                [(tsid, ts) for tsid, ts in rows if tsid not in dropped], dim
            )
        if self._partition_ids():
            self._drop_ann_artifacts()
        else:
            self.clear()

    def delete_ids(self, ids: list[str]) -> int:
        """Row-level delete by id. Returns the number of rows deleted.

        An extension (the reference's only deletion is clear_db; our
        delete(tags) drops whole partitions): ids don't map to partitions,
        so victims are located with ONE column-pruned scan over (id,
        tag_set_id), then ONLY the partitions that hold victims are
        rewritten (filter + per-directory swap) — every other partition's
        files are untouched. A partition whose rows are all victims is
        dropped directory-wise like delete(tags), with the metadata
        listing updated.

        Scale shape: the locate scan reads two thin columns of the corpus
        (inherent without an id→partition index); the id set rides as an
        IN-filter here — a large victim set would instead broadcast as an
        anti-join, same plan shape. Rewrite cost is proportional to the
        AFFECTED partitions only, the same contract as DELETE on a
        hive-layout table. Membership changed, so ANN serving artifacts
        are dropped (callers rebuild on next use).

        Crash contract (same as compact's directory swap): the temp and
        backup directories live OUTSIDE data_path, so an interrupted swap
        can lose the one partition mid-rename but can never leave ghost
        directories that a later scan would read as live partitions. On
        object stores the swap is the documented non-atomic
        delete→rename (victor_spark/fs.py module docstring).
        """
        if not ids or self.is_empty():
            return 0
        idset = sorted(set(ids))
        df = self.spark.read.parquet(self.data_path)
        affected = (
            df.select("id", "tag_set_id")
            .filter(F.col("id").isin(idset))
            .groupBy("tag_set_id")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        if not affected:
            return 0
        emptied: set[str] = set()
        n_victims = 0
        # temp/backup live OUTSIDE data_path: a suffix inside it would be
        # discovered by the next scan as a (ghost) partition directory
        tmp = self.data_path + "__del_tmp"
        old = self.data_path + "__del_old"
        for r in affected:
            tsid, n_vic = r["tag_set_id"], r["n"]
            n_victims += n_vic
            part_dir = self._part_dir(tsid)
            if self.fs.parquet_row_count(part_dir) == n_vic:
                # every row is a victim: drop the directory, no rewrite
                self.fs.delete(part_dir)
                emptied.add(tsid)
                continue
            kept = self.spark.read.parquet(part_dir).filter(
                ~F.col("id").isin(idset)
            )
            self.fs.delete(tmp)
            kept.write.mode("overwrite").parquet(tmp)
            self.fs.delete(old)
            self.fs.rename(part_dir, old)
            self.fs.rename(tmp, part_dir)
            self.fs.delete(old)
        self._after_drop(emptied)
        return n_victims

    # -- scan --------------------------------------------------------------

    def is_empty(self) -> bool:
        return not self.fs.exists(self.data_path)

    def scan(self, tags: list[str] | None = None) -> DataFrame:
        """Dequantized view of the stored rows, partition-pruned by
        tag-superset (reference get_matching_db_files, db.rs:687-706:
        a stored tag-set matches iff it ⊇ the query tags; empty query
        matches everything).

        The superset predicate is evaluated over the tag-set METADATA
        listing (a few-hundred-row parquet read driver-side — no Spark job,
        no data scan) and turned into an IN-list on the partition column,
        so the parquet scan prunes directories exactly like the reference
        selects files from index.bin."""
        df = self.spark.read.parquet(self.data_path)
        if tags:
            listing = self._matching_tag_set_ids(sorted(set(tags)))
            if not listing:
                df = df.filter(F.lit(False))
            else:
                df = df.filter(F.col("tag_set_id").isin(listing))
        return _decode(df)

    def dimension(self) -> int | None:
        """The stored vectors' dimension (None for an empty index): the
        model's output side in projected mode, otherwise the dimension
        the listing carries — no Spark job either way, unless the listing
        lacks it (see the listing contract)."""
        if self.is_empty():
            return None
        model = self._load_model()
        if model is not None:
            return model.components.shape[1]
        return self._listed_dimension()

    def _listed_dimension(self) -> int | None:
        """The dimension the listing carries; one stored row's when the
        listing lacks it; None for an empty index."""
        if self.is_empty():
            return None
        listing = self._read_listing()
        if listing is not None and listing[1] is not None:
            return listing[1]
        # explicit schema: a partition directory a concurrent first insert
        # has created but not yet filled reads as empty
        row = self.spark.read.schema("quant array<tinyint>").parquet(
            self.data_path
        ).select(F.size("quant").alias("d")).first()
        return row["d"] if row else None

    # -- search ------------------------------------------------------------

    def search(self, query: list[float], k: int = 10,
               tags: list[str] | None = None,
               strict_nan: bool = True) -> DataFrame:
        """Top-k nearest neighbors (reference search_embedding,
        db.rs:217-283). Returns (id, content, tags, score) — cosine
        descending, or euclidean ascending in projected mode.

        Plan: pruned scan → dequantize → score → guard →
        TakeOrderedAndProject(k) — the reference's bounded heap,
        distributed.

        An empty index returns an empty result (the reference's search over
        a fresh DB yields an empty vec — db.rs:229-231 loads an empty index
        and selects no files), not a scan error on the missing path.

        A query whose dimension differs from the stored vectors' fails
        (DimensionMismatchError on the driver in projected mode, an
        in-plan error otherwise). NaN policy (reference
        NearestNeighborsResult::cmp panics on NaN similarity,
        db.rs:742-748): with ``strict_nan`` a NaN score (a zero-norm
        vector under cosine, or NaN inputs) fails the job — the
        distributed mirror of the panic. ``strict_nan=False`` drops
        NaN-scored rows instead, for callers that prefer skip-and-serve."""
        if self.is_empty():
            return self.spark.createDataFrame(
                [], "id string, content string, tags array<string>, score double"
            )
        model = self._load_model()
        df = self.scan(tags)
        q = self._query_vector(query, model)
        if model is not None:
            score = euclidean_to_literal("embedding", q)
        else:
            score = cosine_to_literal("embedding", q)
        df = _guard_score(df, score, len(q), strict_nan)
        scored = topk(df, F.col("score"), k, ascending=model is not None)
        return _drop_nan_scores(scored, strict_nan).select(
            "id", "content", "tags", "score"
        )

    def search_batch(self, queries: dict[str, list[float]], k: int = 10,
                     tags: list[str] | None = None,
                     strict_nan: bool = True) -> DataFrame:
        """Top-k for a SET of query vectors in one dataflow (extension —
        the reference serves one query per call). Returns
        (query_id, id, content, tags, score, rank), rank 1..k per query.

        The throughput shape: the pruned scan happens ONCE and every query
        scores against it via a broadcast crossJoin of the (tiny) query
        table, ranked per query by a WindowGroupLimit — N queries share one
        corpus scan instead of N scans (same plan as the catalog's
        ann_ivf_batch/topk_batch, surfaced on the index API). Scores follow
        search(): cosine descending, or euclidean ascending in projected
        mode (queries are projected first), with the same dimension and
        NaN guards; queries of unequal length raise DimensionMismatchError.
        """
        from victor_spark.operators.topk import topk_per_group

        if not queries:
            raise ValueError("search_batch needs at least one query")
        if self.is_empty():
            return self.spark.createDataFrame(
                [], "query_id string, id string, content string, "
                    "tags array<string>, score double, rank int"
            )
        model = self._load_model()
        qrows = [(qid, self._query_vector(v, model))
                 for qid, v in sorted(queries.items())]
        qdim = len(qrows[0][1])
        for _qid, q in qrows:
            _check_dim(len(q), qdim, "first query")
        # each query's norm folds on the driver (py_norm, bit-identical
        # to the kernel's) and each stored row's once before the
        # crossJoin, so a (row, query) pair folds only its dot
        qdf = F.broadcast(_local_frame(self.spark, {
            "query_id": [qid for qid, _q in qrows],
            "_qv": [q for _qid, q in qrows],
            "_qn": [py_norm(q) for _qid, q in qrows],
        }, "query_id string, _qv array<double>, _qn double"))
        if model is not None:
            rows = self.scan(tags)
            score = euclidean("embedding", "_qv")
        else:
            rows = self.scan(tags).withColumn("_rn", norm("embedding"))
            score = cosine_normed("embedding", "_qv", "_rn", "_qn")
        df = _guard_score(rows.crossJoin(qdf), score, qdim, strict_nan)
        ranked = topk_per_group(
            df, ["query_id"], "score", k,
            ascending=model is not None, tie_cols=["id"],
        )
        return _drop_nan_scores(ranked, strict_nan).select(
            "query_id", "id", "content", "tags", "score", "rank"
        )

    def _query_vector(self, query: list[float], model: PCAModel | None,
                      stored_dim: int | None = None,
                      stored: str = "index") -> list[float]:
        """The query as the stored vectors live: floats, projected in
        projected mode (the stored vectors and every ANN artifact were
        built over the projected space). Raises DimensionMismatchError
        against the model's input dimension and, when given, against
        ``stored_dim`` (the ANN artifact's dimension)."""
        q = [float(x) for x in query]
        if model is not None:
            _check_dim(len(q), model.components.shape[0], "model input")
            q = [float(x) for x in model.project_vector(q)]
        if stored_dim is not None:
            _check_dim(len(q), stored_dim, stored)
        return q

    def _with_content(self, hits: DataFrame) -> DataFrame:
        """Join ANN hits (id, adc_dist) back to the content store,
        broadcast-wise like the exact path's P7 content lookup."""
        content = self.spark.read.parquet(self.data_path).select(
            "id", "content", "tags"
        )
        return F.broadcast(hits).join(content, "id").select(
            "id", "content", "tags", "adc_dist"
        ).orderBy(F.asc("adc_dist"), F.asc("id"))

    # -- PQ serving path (extension; see operators/pq.py) -------------------

    def build_pq(self, m: int = 8, n_codes: int = 16,
                 trainer: str = "sample", train_iters: int = 10,
                 seed_col: str = "id") -> None:
        """Build (or refresh) the product-quantization serving table: a
        deterministic codebook over the stored vectors plus an
        ``(id, pq_code)`` parquet of per-subvector codes.

        A maintenance artifact exactly like the PCA model — rebuild after
        batch loads; searches between build and rebuild serve the codes as
        of the last build. At scale this is the point: ``search_pq`` scans
        m bytes/row instead of the float vectors, with the codebook+LUT
        driver-side (O(n_codes·d)).

        ``trainer="sample"`` (default) keeps the deterministic salted-md5
        row codebook (oracle-replayable in SQL); ``trainer="kmeans"`` runs
        ``train_iters`` Lloyd rounds from the same deterministic init —
        better quantization error, same serving algebra.

        ``seed_col``: the column whose salted md5 drives the
        deterministic init. The default ``"id"`` is stable within one
        index lifetime but ids are minted per insert, so REBUILDING an
        identical corpus draws a different init; pass ``"content"`` (or
        any column stable across re-inserts and unique per row) for
        cross-run reproducible codebooks. A dimension that m does not
        divide raises ValueError (``pq.encode``).
        """
        from victor_spark.operators import pq

        if self.is_empty():
            raise ValueError("cannot build PQ over an empty index")
        full = self.scan()
        cb = self._train_codebook(full, n_codes, trainer, train_iters,
                                  metric="l2", salt="pq", seed_col=seed_col)
        enc = pq.encode(full.select("id", "embedding"), "embedding", cb,
                        m=m).select("id", "pq_code")
        self._write_artifact(enc, self.pq_path)
        self._write_json(self.pq_meta_path, {"m": m, "codebook": cb})

    def _train_codebook(self, df: DataFrame, k: int, trainer: str,
                        train_iters: int, metric: str, salt: str,
                        seed_col: str = "id",
                        vec_col: str = "embedding") -> list[list[float]]:
        """Model rows for an ANN artifact: the deterministic salted-md5
        sample (oracle-replayable) or Lloyd-refined centroids from that
        same init (better recall at equal serving cost; operators/kmeans).
        ``seed_col`` picks the column the init hashes (see build_pq); the
        rows come back ordered by it, so an artifact seeded by a column
        that is stable across re-ingests is identical across them."""
        from victor_spark.operators import kmeans, pq

        if seed_col in ("embedding", vec_col):
            raise ValueError(
                "seed_col must name a scalar identity column (e.g. 'id' "
                "or 'content'), not the vector column"
            )
        if trainer == "sample":
            return pq.codebook_vectors(df, seed_col, vec_col, k=k, salt=salt)
        if trainer == "kmeans":
            return kmeans.fit_kmeans(df, seed_col, vec_col, k=k,
                                     max_iter=train_iters, metric=metric,
                                     salt=salt)
        raise ValueError(f"trainer must be sample|kmeans, got {trainer!r}")

    def _write_artifact(self, df: DataFrame, path: str,
                        partition_by: str | None = None) -> None:
        """Write an ANN serving table via a ``__building`` staging dir and
        swap it in, so readers never see a half-written table."""
        tmp = path + "__building"
        self.fs.delete(tmp)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(tmp)
        self.fs.replace(tmp, path)

    def search_pq(self, query: list[float], k: int = 10,
                  tags: list[str] | None = None) -> DataFrame:
        """Approximate top-k by asymmetric distance: smallest ADC squared
        L2 first. Returns (id, content, tags, adc_dist). Requires
        :meth:`build_pq`; candidates join back to the content store
        broadcast-wise, like the exact path's P7 content lookup.

        ``tags`` restricts to rows whose tag-set ⊇ tags — a semi-join of
        the code table against the tag-PRUNED data's id column BEFORE
        scoring, so the top-k is exact within the tag scope (not a lossy
        post-filter) and the id set comes from pruned partitions only."""
        if not self.fs.exists(self.pq_meta_path):
            raise ValueError("no PQ table built; call build_pq() first")
        from victor_spark.operators import pq

        meta = self._read_json(self.pq_meta_path)
        q = self._query_vector(query, self._load_model(),
                               len(meta["codebook"][0]), "PQ codebook")
        codes = self._scoped_codes(self.pq_path, tags)
        hits = pq.adc_topk(
            codes, q, meta["codebook"], k=k, m=meta["m"], id_col="id",
        )
        return self._with_content(hits)

    def _scoped_codes(self, path: str, tags: list[str] | None,
                      cells: list[int] | None = None) -> DataFrame:
        """An ANN code table, cut to the probed ``cells`` (partition
        pruning) and to the rows whose tag-set ⊇ ``tags`` — a semi-join
        against the tag-pruned data ids BEFORE scoring, so the top-k is
        exact within the tag scope."""
        codes = self.spark.read.parquet(path)
        if cells is not None:
            codes = codes.filter(F.col("cell").isin(cells))
        if tags:
            codes = codes.join(self.scan(tags).select("id"), "id", "leftsemi")
        return codes

    def build_ivf(self, n_cells: int = 64,
                  trainer: str = "sample", train_iters: int = 10,
                  seed_col: str = "id") -> None:
        """Materialize the inverted-file serving table: rows rewritten
        PARTITIONED BY their nearest-centroid cell, centroids persisted
        driver-side. ``search_ivf`` then probes nprobe cells as parquet
        partition pruning — the scan literally never opens the other
        cells' files, which is the IVF promise expressed in Spark's own
        storage idiom (same trick as the tag_set_id layout, §1.3/P4).

        ``trainer="sample"`` (default): the n_cells stored rows with the
        smallest salted md5 of ``seed_col`` (deterministic,
        oracle-replayable). ``trainer="kmeans"``: spherical Lloyd from
        that same init — cells follow the corpus density, worth ~+0.1
        recall@10 at equal nprobe (tests/test_kmeans.py measures it). A
        maintenance artifact — rebuild after batch loads.

        Each row's cell is ``ivfpq.cell_sql``: nearest centroid by cosine,
        ties and zero-norm rows (NaN) to the lowest cell, as a map-side
        fold over the centroid literals — no shuffle.
        """
        from victor_spark.operators.ivfpq import cell_sql

        if self.is_empty():
            raise ValueError("cannot build IVF over an empty index")
        full = self.scan()
        cents = self._train_codebook(full, n_cells, trainer, train_iters,
                                     metric="cosine", salt="ivf",
                                     seed_col=seed_col)
        assigned = full.select(
            "id", "content", "tags", "embedding",
            F.expr(cell_sql("embedding", dict(enumerate(cents)))).alias("cell"),
        )
        self._write_artifact(assigned, self.ivf_path, partition_by="cell")
        self._write_json(self.ivf_meta_path, {"centroids": cents})

    def search_ivf(self, query: list[float], k: int = 10,
                   nprobe: int = 2,
                   tags: list[str] | None = None) -> DataFrame:
        """Approximate top-k cosine over the IVF layout: rank cells by
        query-centroid cosine DRIVER-side (n_cells tiny), scan only the
        nprobe best cells (parquet partition pruning), exact cosine within.
        Returns (id, content, tags, score) like :meth:`search`.

        In projected mode the query is projected first (same path as
        search), but the IVF space stays COSINE end-to-end — cells were
        assigned and are probed by cosine over the projected vectors — so
        scores are cosine even where search() reports euclidean ascending;
        a consistent metric within the ANN path beats mirroring the
        reference's metric switch halfway through an index."""
        from victor_spark.operators.ivfpq import probe_cells

        if not self.fs.exists(self.ivf_meta_path):
            raise ValueError("no IVF table built; call build_ivf() first")
        cents = self._read_json(self.ivf_meta_path)["centroids"]
        q = self._query_vector(query, self._load_model(), len(cents[0]),
                               "IVF centroid")
        df = self.spark.read.parquet(self.ivf_path).filter(
            F.col("cell").isin(
                probe_cells(q, dict(enumerate(cents)), max(1, nprobe))
            )
        )
        if tags:
            # the IVF table carries the tags column, so the tag-superset
            # predicate applies directly inside the probed-cell scan —
            # exact within scope, no extra join
            query_tags = sorted(set(tags))
            df = df.filter(
                F.forall(
                    F.array(*[F.lit(t) for t in query_tags]),
                    lambda t: F.array_contains(F.col("tags"), t),
                )
            )
        score = cosine_to_literal("embedding", q)
        scored = df.select("id", "content", "tags", score.alias("score"))
        return topk(scored, F.col("score"), k, ascending=False)

    def build_ivfpq(self, m: int = 8, n_codes: int = 16,
                    n_cells: int = 64,
                    trainer: str = "sample", train_iters: int = 10,
                    seed_col: str = "id") -> None:
        """Materialize the IVF-PQ serving table (operators/ivfpq.py, the
        FAISS-standard composition): rows assigned to nearest-centroid
        cells, RESIDUALS (v − centroid) product-quantized, and the
        ``(id, cell, pq_code)`` table written partitionBy(cell) so a probe
        is directory pruning over an m-bytes/vector code column.

        One training sequence for both trainers (the FAISS recipe):
        train the cells over the vectors (salt 'ivfpq-cent'; spherical
        Lloyd under ``trainer="kmeans"``), assign every row its cell and
        residual once (``ivfpq.cell_sql`` and ``ivfpq.residual_sql``, one
        map-side pass checkpointed for its two consumers), train the
        codebook over the RESIDUALS (salt 'ivfpq-cb'; L2 Lloyd under
        kmeans), then encode and write. The
        ``"sample"`` default picks rows by smallest salted md5 of
        ``seed_col`` as build_pq/build_ivf do. A maintenance artifact —
        rebuild after batch loads. ``seed_col`` follows build_pq's
        reproducibility contract: ids are minted per insert, so pass a
        stable unique column like ``"content"`` for identical artifacts
        across re-ingests of the same corpus. A dimension that m does
        not divide raises ValueError (``pq.encode``)."""
        from victor_spark.operators import pq
        from victor_spark.operators.ivfpq import cell_sql, residual_sql

        if self.is_empty():
            raise ValueError("cannot build IVF-PQ over an empty index")
        full = self.scan()
        cents = self._train_codebook(full, n_cells, trainer, train_iters,
                                     metric="cosine", salt="ivfpq-cent",
                                     seed_col=seed_col)
        # the assignment job is the corpus-sized part of the build; compute
        # it once and feed both the codebook trainer and the encode/write,
        # carrying the seed column for the residual codebook's init
        centroids = dict(enumerate(cents))
        carry = (seed_col,) if seed_col != "id" else ()
        residuals = full.select(
            "id", *carry, "embedding",
            F.expr(cell_sql("embedding", centroids)).alias("cell"),
        ).select(
            "id", *carry, "cell",
            F.expr(residual_sql("embedding", centroids, centroids))
            .alias("_r"),
        ).localCheckpoint()
        codebook = self._train_codebook(residuals, n_codes, trainer,
                                        train_iters, metric="l2",
                                        salt="ivfpq-cb", seed_col=seed_col,
                                        vec_col="_r")
        enc = pq.encode(residuals, "_r", codebook, m=m).select(
            "id", "cell", "pq_code"
        )
        self._write_artifact(enc, self.ivfpq_path, partition_by="cell")
        self._write_json(
            self.ivfpq_meta_path,
            {"m": m, "centroids": cents, "codebook": codebook},
        )

    def search_ivfpq(self, query: list[float], k: int = 10,
                     nprobe: int = 2,
                     tags: list[str] | None = None) -> DataFrame:
        """Approximate top-k by IVF-PQ asymmetric distance: rank cells
        driver-side, scan only the nprobe best cells' code partitions, and
        score each with the query-residual LUT for that cell. Returns
        (id, content, tags, adc_dist ascending). Requires
        :meth:`build_ivfpq`. ``tags`` scopes to tag-superset rows via a
        pre-scoring semi-join (exact within scope)."""
        from victor_spark.operators.ivfpq import cell_adc_sql, probe_cells

        if not self.fs.exists(self.ivfpq_meta_path):
            raise ValueError("no IVF-PQ table built; call build_ivfpq() first")
        meta = self._read_json(self.ivfpq_meta_path)
        cents = meta["centroids"]
        q = self._query_vector(query, self._load_model(), len(cents[0]),
                               "IVF-PQ centroid")
        centroids = dict(enumerate(cents))
        probe = probe_cells(q, centroids, max(1, nprobe))
        codes = self._scoped_codes(self.ivfpq_path, tags, cells=probe)
        score = cell_adc_sql(q, centroids, probe, meta["codebook"], meta["m"])
        hits = (
            codes.select("id", F.expr(score).alias("adc_dist"))
            .orderBy(F.asc("adc_dist"), F.asc("id"))
            .limit(k)
        )
        return self._with_content(hits)

    # -- interchange --------------------------------------------------------

    def export_jsonl(self, path: str, tags: list[str] | None = None) -> None:
        """Export (id, content, tags, embedding) as JSON Lines.

        Embeddings are dequantized to doubles — the standard corpus
        interchange shape for downstream training pipelines. The export is
        a distributed write (one shard per partition); no driver collect.
        """
        from victor_spark.sources.formats import write_jsonl

        write_jsonl(
            self.scan(tags).select("id", "content", "tags", "embedding"), path
        )

    def import_jsonl(self, path: str) -> None:
        """Insert records from JSON Lines with (content, embedding, tags).

        Schema is explicit (no inference pass over the input); rows flow
        through :meth:`insert_df`, so dimension checks, tag normalization,
        quantization, and the projected-insert path all apply.
        """
        from victor_spark.sources.formats import read_jsonl

        df = read_jsonl(
            self.spark,
            path,
            "content string, embedding array<double>, tags array<string>",
        )
        self.insert_df(df)

    def merge_from(self, other: "VectorIndex") -> int:
        """Fold another index's rows into this one — the shard-merge step
        of parallel ingest (N workers each build a private shard index
        with no listing contention, then one merge per shard; the
        single-writer listing contract holds trivially because only the
        merger writes). Returns the number of rows merged.

        The stored rows move AS-IS — one distributed partitioned append
        of the already-quantized table (no dequantize/requantize round
        trip, so no second quantization error) — and the tag-set
        listings union. Works across filesystems (a local shard can
        merge into an hdfs:// index; the append is a Spark job either
        way). Both indexes must agree on dimension and on projection
        state (same PCA model or both unprojected — merging differently
        projected spaces would corrupt scoring). ANN serving artifacts
        are dropped here: membership changed (same contract as delete).
        """
        # identity first — pure path canonicalization, no FS access (some
        # alias spellings, e.g. a file://localhost authority, are caught
        # here but rejected outright by the Hadoop local FS)
        if _canon_path(self.path) == _canon_path(other.path):
            raise ValueError("cannot merge an index into itself")
        if other.is_empty():
            return 0
        d_other = other.dimension()
        if not self.is_empty():
            d_self = self.dimension()
            if d_self != d_other:
                raise DimensionMismatchError(
                    f"cannot merge dimension {d_other} into {d_self}"
                )
            m_self, m_other = self._load_model(), other._load_model()
            if (m_self is None) != (m_other is None):
                raise ValueError(
                    "cannot merge a projected index with an unprojected one"
                )
            if m_self is not None and not (
                (m_self.components == m_other.components).all()
                and (m_self.means == m_other.means).all()
            ):
                raise ValueError(
                    "cannot merge indexes projected with different PCA models"
                )
        elif other._load_model() is not None:
            # empty target adopts the shard's projection state
            self.fs.write_bytes_atomic(
                self.model_path, other.fs.read_bytes(other.model_path)
            )
        # row count from parquet FOOTERS of the shard's partitions — free
        # metadata, no scan job (same mechanism as delete/delete_ids)
        n = sum(
            other.fs.parquet_row_count(other._part_dir(tsid))
            for tsid in other._partition_ids()
        )
        self._publish(self._stage(other.spark.read.parquet(other.data_path)))
        # data first, then metadata (same ordering contract as insert_df)
        self._register_tag_sets(
            {tuple(ts) for _tsid, ts in other._tag_sets()}, d_other
        )
        self._drop_ann_artifacts()
        return n

    def vacuum(self, min_age_seconds: float = 3600.0) -> list[str]:
        """Remove maintenance debris a crash can leave behind: staging
        directories from interrupted ANN builds / compactions / row-level
        deletes / projections, retired ``__old`` backups, and orphaned
        ``.tmp`` artifact files. Returns the paths removed.

        Safe by construction: every maintenance writer stages under a
        suffix OUTSIDE the live paths (``__building``, ``__compacting``,
        ``__del_tmp``/``__del_old``, ``__old``, ``.projected``, ``.tmp``)
        precisely so that no crash leaves half-written state inside a
        directory readers scan — vacuum just reclaims the disk.

        AGE GATE: only debris whose modification time is older than
        ``min_age_seconds`` (default 1 h) is reclaimed, so the documented
        no-active-writer contract cannot be violated by accident — a
        concurrent insert/compact/delete owns a staging or backup
        directory that is by definition FRESH, and vacuum leaves it
        alone. Pass ``min_age_seconds=0`` only when no writer of any
        kind can be active. Interrupted-but-completable insert staging
        (``__staging`` with a ``_SUCCESS`` marker) is better served by
        :meth:`recover_staged` first — vacuum abandons the remainder."""
        import time as _time

        debris_suffixes = ("__building", "__compacting", "__del_tmp",
                           "__del_old", "__old", ".projected", ".tmp",
                           "__staging")
        removed = []
        if not self.fs.exists(self.path):
            return removed
        now = _time.time()
        for name in self.fs.listdir(self.path):
            # a lock-break claimant that crashed between its victim
            # rename and delete leaves lock__stale_<uuid> debris no
            # acquire path ever looks at — sweep it here (age-gated
            # like everything else)
            if name.endswith(debris_suffixes) or "__stale_" in name:
                p = fsjoin(self.path, name)
                try:
                    if now - self.fs.mtime(p) < min_age_seconds:
                        continue  # fresh — likely a live writer's staging
                except Exception:
                    continue  # vanished since listdir (owner cleaned up)
                self.fs.delete(p)
                removed.append(p)
        return removed

    # -- PCA maintenance (db.rs:287-299, trigger :551-553) ------------------

    def storage_bytes(self) -> int:
        return sum(size for _p, size in self.fs.file_sizes(self.data_path))

    def stats(self) -> list[dict]:
        """Per-tag-set accounting from METADATA only — the listing gives
        (tag_set_id, tags), parquet footers give row counts, the directory
        gives bytes and file counts. Zero data pages read (the ANALYZE
        a 100 TB table can afford); rows sorted by tag_set_id."""
        if self.is_empty():
            return []
        out = []
        for tsid, tags in sorted(self._tag_sets()):
            part_dir = self._part_dir(tsid)
            n_rows = n_files = n_bytes = 0
            if self.fs.is_dir(part_dir):
                for fname in self.fs.listdir(part_dir):
                    if fname.endswith(".parquet"):
                        fpath = fsjoin(part_dir, fname)
                        n_rows += self.fs.parquet_row_count(fpath)
                        n_bytes += self.fs.file_size(fpath)
                        n_files += 1
            out.append({
                "tag_set_id": tsid, "tags": list(tags),
                "rows": n_rows, "files": n_files, "bytes": n_bytes,
            })
        return out

    def compact(self, target_rows_per_file: int = 1_000_000,
                sort_within: str | list[str] | None = None) -> dict:
        """Rewrite the table with size-targeted files per tag partition —
        the OPTIMIZE-style maintenance job that pairs with maybe_project
        (the reference's only maintenance hook is its PCA trigger,
        db.rs:551-553; it never compacts its append-only files).

        Streaming/batch appends leave one file per (batch, tag) — at scale
        that's the classic small-file problem: open/seek overhead per file
        dominates the scan and partition listing slows planning. Each tag
        set is re-split into ceil(rows/target) groups via a salted hash of
        the row id, so every output group lands wholly in one task → one
        file of ~target rows, deterministic layout, no global shuffle
        beyond the one repartition.

        ``sort_within`` additionally sorts rows by the given column(s)
        inside each output task, so every written file carries tight
        parquet min/max statistics on those columns — the clustering leg
        of OPTIMIZE: a later scan filtering on a sorted column skips whole
        files/row groups from footers alone.

        Directory swap: write temp, rename over (self.fs — on object
        stores the rename pair is the documented non-atomic window,
        victor_spark/fs.py). Returns {"files_before", "files_after",
        "rows"}.
        """
        def _count_files(p: str) -> int:
            return sum(
                1 for fp, _s in self.fs.file_sizes(p) if fp.endswith(".parquet")
            )

        if self.is_empty():
            return {"files_before": 0, "files_after": 0, "rows": 0}
        df = self.spark.read.parquet(self.data_path)
        files_before = _count_files(self.data_path)
        rows = df.count()
        # per-tag row counts: map-side-partial agg, broadcast back (the tag
        # dimension is small even when the fact table is 100 TB)
        counts = df.groupBy("tag_set_id").agg(F.count("*").alias("__n"))
        n_groups = F.greatest(
            F.lit(1), F.ceil(F.col("__n") / target_rows_per_file)
        )
        if sort_within:
            # clustering mode: the SPLIT itself must be range-based on the
            # sort columns (a salted hash split would scatter each value
            # range across every file, leaving overlapping min/max stats),
            # then rows are ordered inside each task for row-group-tight
            # statistics
            import math as _math

            cols = ([sort_within] if isinstance(sort_within, str)
                    else list(sort_within))
            n_parts = max(1, _math.ceil(rows / target_rows_per_file))
            out = df.repartitionByRange(
                n_parts, F.col("tag_set_id"), *[F.col(c) for c in cols]
            ).sortWithinPartitions("tag_set_id", *cols)
        else:
            out = (
                df.join(F.broadcast(counts), "tag_set_id")
                .withColumn(
                    "__grp",
                    F.pmod(
                        md5_32("id"),
                        n_groups,
                    ),
                )
                .repartition("tag_set_id", "__grp")
                .drop("__grp", "__n")
            )
        tmp = self.data_path + "__compacting"
        self.fs.delete(tmp)
        # the salted repartition buys write parallelism on a huge tag; the
        # writer's maxRecordsPerFile enforces the per-file bound even when
        # AQE coalesces the (tag, group) shuffle partitions into fewer tasks
        out.write.mode("overwrite").option(
            "maxRecordsPerFile", target_rows_per_file
        ).partitionBy("tag_set_id").parquet(tmp)
        old = self.data_path + "__old"
        self.fs.delete(old)
        self.fs.rename(self.data_path, old)
        self.fs.rename(tmp, self.data_path)
        self.fs.delete(old)
        return {
            "files_before": files_before,
            "files_after": _count_files(self.data_path),
            "rows": rows,
        }

    def maybe_project(self, threshold_bytes: int = 1_000_000, k: int = 500) -> bool:
        """Storage-pressure hook: if the table exceeds the threshold and is
        not yet projected, fit PCA on all vectors, persist the model, and
        rewrite the table projected (reference: wasm ∧ file>1MB ∧
        ¬projected, db.rs:551-553)."""
        if self._load_model() is not None or self.is_empty():
            return False
        if self.storage_bytes() <= threshold_bytes:
            return False
        self.project(k)
        return True

    def project(self, k: int = 500) -> PCAModel:
        """Fit + persist + backfill (reference project_embeddings,
        db.rs:287-299; we center with the global means everywhere, fixing
        the per-file re-centering drift of db.rs:301-367)."""
        full = self.scan()
        dim = self.dimension()
        model = fit_pca(full, "embedding", min(k, dim))
        projected = _encode(full.select(
            "id",
            "content",
            "tags",
            # standalone projection stage (see insert_df: UDF-path models
            # can't project inside quantize's lambdas)
            project_column("embedding", model).alias("_pv"),
            "tag_set_id",
        ), "_pv")
        tmp = self.data_path + ".projected"
        projected.write.mode("overwrite").partitionBy("tag_set_id").parquet(tmp)
        self.fs.replace(tmp, self.data_path)
        self._tag_sets(dim=model.components.shape[1])
        buf = io.BytesIO()
        model.save(buf)
        self.fs.write_bytes_atomic(self.model_path, buf.getvalue())
        # the vector space just changed dimension — PQ codes / IVF cells
        # built on the original space are meaningless now
        self._drop_ann_artifacts()
        return model

    def _drop_ann_artifacts(self) -> None:
        for p in (self.pq_path, self.pq_meta_path, self.ivf_path,
                  self.ivf_meta_path, self.ivfpq_path, self.ivfpq_meta_path):
            self.fs.delete(p)

    def _load_model(self) -> PCAModel | None:
        if self.fs.exists(self.model_path):
            return PCAModel.load(io.BytesIO(self.fs.read_bytes(self.model_path)))
        return None

    # -- small JSON artifacts over self.fs ----------------------------------

    def _read_json(self, p: str) -> dict:
        return json.loads(self.fs.read_bytes(p).decode("utf-8"))

    def _write_json(self, p: str, obj: dict) -> None:
        self.fs.write_bytes_atomic(p, json.dumps(obj).encode("utf-8"))
