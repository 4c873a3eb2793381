"""Similarity search: brute-force and LSH-bucketed approximate top-k.

Brute force is the correctness baseline: score every row, bounded-heap
top-k (TakeOrderedAndProject — no shuffle of the corpus, k rows per
partition to the driver). That is the reference's entire search algorithm
(/root/reference/src/db.rs:217-283) distributed.

The scale path buckets the corpus once by random-hyperplane LSH
(functions/hashing.py) and probes only matching buckets — at 100 TB the
bucket column becomes a partition key so a query touches 1/2^planes of the
data, trading recall for a ~2^planes scan reduction. Multi-probe (flip one
bit) widens recall.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from victor_spark.functions import hashing as H
from victor_spark.functions.vector import (
    cosine,
    cosine_to_literal,
    euclidean_to_literal,
    sql_operand,
    to_double_array,
)
from victor_spark.operators.topk import topk, topk_per_group


def brute_force_topk(df: DataFrame, vec_col: str, query: list[float], k: int = 10,
                     metric: str = "cosine") -> DataFrame:
    """Exact top-k rows nearest to `query`. Adds a `score` column.

    metric='cosine' orders descending similarity; 'euclidean' ascending
    distance (nearest-k — the reference's projected mode minus its
    farthest-k bug, SURVEY.md §2.3).
    """
    v = f"CAST({sql_operand(vec_col)} AS array<double>)"
    if metric == "cosine":
        return topk(df, cosine_to_literal(v, query), k, ascending=False)
    if metric == "euclidean":
        return topk(df, euclidean_to_literal(v, query), k, ascending=True)
    raise ValueError(f"unknown metric {metric!r}")


def batch_topk(corpus: DataFrame, queries: DataFrame, corpus_id: str, corpus_vec: str,
               query_id: str, query_vec: str, k: int = 10) -> DataFrame:
    """Per-query exact top-k for a batch of query vectors.

    Broadcast the query set (small side) against the corpus — the cross
    product is generated map-side with zero shuffle of the corpus; the only
    shuffle is the window's partitionBy(query_id) over already-scored pairs.
    For huge query batches, flip to bucketed ANN instead.
    """
    q = F.broadcast(
        queries.select(F.col(query_id).alias("query_id"),
                       to_double_array(query_vec).alias("qvec"))
    )
    c = corpus.select(F.col(corpus_id).alias("corpus_id"),
                      to_double_array(corpus_vec).alias("cvec"))
    scored = c.crossJoin(q).select(
        "query_id", "corpus_id", cosine("cvec", "qvec").alias("score")
    )
    return topk_per_group(scored, ["query_id"], "score", k)


def bucketed_corpus(df: DataFrame, vec_col: str, num_planes: int = 8) -> DataFrame:
    """Attach the LSH `bucket` column; at scale, persist partitioned by it."""
    v = f"CAST({sql_operand(vec_col)} AS array<double>)"
    return df.withColumn("bucket", H.hyperplane_bucket(v, num_planes))


def lsh_topk(df: DataFrame, vec_col: str, query: list[float], k: int = 10,
             num_planes: int = 8, multiprobe: bool = True) -> DataFrame:
    """Approximate top-k: scan only the query's LSH bucket (± one-bit
    probes), then exact cosine within the candidates.

    With the corpus persisted partitionBy("bucket"), the bucket filter is
    partition pruning — the scan reads ~(1+planes)/2^planes of the data.
    """
    bucketed = bucketed_corpus(df, vec_col, num_planes)
    qbucket = _query_bucket(query, num_planes)
    probes = [qbucket] + ([qbucket ^ (1 << j) for j in range(num_planes)] if multiprobe else [])
    cands = bucketed.filter(F.col("bucket").isin(probes))
    return brute_force_topk(cands, vec_col, query, k, metric="cosine")


def _query_bucket(query: list[float], num_planes: int) -> int:
    """Driver-side bucket id of the query vector (same planes as the
    column expression — sin formula of functions/hashing.py)."""
    import math

    bucket = 0
    for j in range(num_planes):
        proj = sum(x * math.sin(j * 12.9898 + i * 78.233) for i, x in enumerate(query))
        if proj > 0.0:
            bucket |= 1 << j
    return bucket
