"""Document chunking: fixed-size overlapping token windows — the RAG
ingestion stage between raw documents and the vector index.

The standard splitter contract (chunk_size tokens, overlap tokens
shared between consecutive chunks, stride = size - overlap): windows
start at 0, stride, 2·stride, …; the last window is the first one
whose end reaches the document's end, so every token is covered and no
degenerate tail chunk is emitted. Empty documents produce no chunks.

Pure integer arithmetic and array slicing in one codegen projection —
the row expansion (explode) is the only "cost", and it is map-side:
chunking a 100 TB corpus is a scan, not a shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from victor_spark.functions import text as T
from victor_spark.functions.vector import sql_operand


def chunk_tokens(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    chunk_size: int = 16,
    overlap: int = 4,
) -> DataFrame:
    """(id, chunk_id, chunk_tokens array<string>): overlapping windows.

    n_chunks = 1 + max(0, ceil((n - size) / stride)) for n > 0 — exact
    integer arithmetic, reproducible anywhere.
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError(f"need 0 <= overlap < chunk_size, got {overlap}/{chunk_size}")
    stride = chunk_size - overlap
    d = docs.select(
        F.col(id_col), T.tokens(f"lower({sql_operand(text_col)})").alias("_t")
    ).withColumn("_n", F.size("_t"))
    # ceil((n - size) / stride) as (n - size + stride - 1) div stride
    extra = F.floor(
        (F.col("_n") - chunk_size + (stride - 1)) / F.lit(stride)
    ).cast("long")
    n_chunks = F.when(F.col("_n") <= 0, F.lit(0)).otherwise(
        F.lit(1) + F.greatest(extra, F.lit(0))
    )
    # guard the empty case: sequence(0, -1) would produce a DESCENDING
    # [0, -1] (Spark infers step -1), manufacturing chunks for empty docs
    starts = F.when(
        n_chunks > 0, F.sequence(F.lit(0).cast("long"), n_chunks - 1)
    ).otherwise(F.array().cast("array<bigint>"))
    return (
        d.select(
            id_col,
            "_t",
            F.explode(starts).alias("chunk_id"),
        )
        .select(
            id_col,
            "chunk_id",
            F.slice(
                "_t", (F.col("chunk_id") * stride + 1).cast("int"), chunk_size
            ).alias("chunk_tokens"),
        )
    )
