"""Top-k operators.

The reference maintains a bounded min-heap of size k over a sequential scan
(/root/reference/src/db.rs:244-282). Spark's `ORDER BY score LIMIT k`
compiles to TakeOrderedAndProject — a per-partition bounded heap plus a
driver merge of k-row partials: exactly the reference's algorithm,
distributed, with no full sort and no shuffle of the corpus. That plan is
scale-optimal for single queries: each of the 1000 executors streams its
partitions through a k-slot heap and ships k rows.

For batches of queries we instead shuffle once on query_id and use a
row_number window — the corpus side is broadcast (queries × corpus is
generated map-side), so the only shuffle is of (query, candidate) pairs
already reduced per-partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _score_order(score: Column, ascending: bool) -> Column:
    return score.asc_nulls_last() if ascending else score.desc_nulls_last()


def topk(df: DataFrame, score: Column, k: int, ascending: bool = False,
         score_name: str = "score") -> DataFrame:
    """Global top-k by a score expression → TakeOrderedAndProject.

    ascending=True is the projected-mode (euclidean distance) ordering —
    note the reference orders descending even for distance (farthest-k bug,
    SURVEY.md §2.3); we implement nearest-k. A NULL score ranks last in
    either direction.
    """
    scored = df.withColumn(score_name, score)
    return scored.orderBy(_score_order(F.col(score_name), ascending)).limit(k)


def topk_per_group(df: DataFrame, group_cols: list[str], score_col: str, k: int,
                   ascending: bool = False, rank_name: str = "rank",
                   tie_cols: list[str] | None = None) -> DataFrame:
    """Per-group top-k via row_number window (batch multi-query search).

    One shuffle on the group columns; `tie_cols` (ascending) break score
    ties deterministically — required whenever results feed a hash-checked
    comparison. A NULL score ranks last in either direction.
    """
    order = [_score_order(F.col(score_col), ascending)]
    order += [F.col(c).asc() for c in (tie_cols or [])]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn(rank_name, F.row_number().over(w))
        .filter(F.col(rank_name) <= k)
    )
