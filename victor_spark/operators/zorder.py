"""Z-order (Morton) clustering: multi-column data-skipping layout.

The 100 TB problem this solves: parquet skips row groups by min/max
footer stats, but a table sorted by ONE column has full-domain spans on
every OTHER column — predicates on those columns prune nothing.
Interleaving the bits of two (or more) bounded column ranks gives a
1-D sort key whose contiguous ranges are small HYPER-RECTANGLES in the
multi-column space: range-partition + sort by the Morton key and every
file carries tight min/max on ALL interleaved columns, so Spark's scan
pruning works for predicates on any of them (the OPTIMIZE ZORDER BY of
Delta/Iceberg, built here from plain column expressions).

Determinism contract: ranks and the interleave are INTEGER arithmetic
end-to-end (`((x - xmin) * (2^bits - 1)) div (xmax - xmin)`, then
div/mod bit extraction) — no float scaling, so the key is reproducible
across engines and a DuckDB oracle replays it exactly. Both kernels are
one SQL template each over name or SQL-expression operands
(``vector.sql_operand``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from victor_spark.functions.vector import sql_operand


def _int_rank_sql(x: str, xmin: str, xmax: str, bits: int) -> str:
    top = (1 << bits) - 1
    span = f"CAST(({xmax} - {xmin}) AS BIGINT)"
    return (
        f"CASE WHEN {span} = 0 THEN CAST(0 AS BIGINT) "
        f"ELSE CAST(FLOOR((CAST({x} AS BIGINT) - CAST({xmin} AS BIGINT))"
        f" * {top} / {span}) AS BIGINT) END"
    )


def int_rank(x: str, xmin: str, xmax: str, bits: int = 16) -> Column:
    """Scale an integer column into [0, 2^bits) — exact integer math.

    ``(x - xmin) * (2^bits - 1) div (xmax - xmin)``; a constant column
    (xmin == xmax) ranks to 0.

    The quotient is computed as floor over double division, which is
    exact while ``(xmax - xmin) * 2^bits < 2^53`` — holds for any
    bits=16 column with span < ~1.4e11 (every column here); pre-bucket
    wider domains (e.g. epoch-micros timestamps → minutes) first.
    """
    return F.expr(_int_rank_sql(
        sql_operand(x), sql_operand(xmin), sql_operand(xmax), bits
    ))


def _morton_key_sql(x: str, y: str, bits: int) -> str:
    return "(" + ") + (".join(
        f"(CAST(FLOOR(({x} / {1 << i})) AS BIGINT) % 2) * {1 << (2 * i)}"
        f" + (CAST(FLOOR(({y} / {1 << i})) AS BIGINT) % 2)"
        f" * {1 << (2 * i + 1)}"
        for i in range(bits)
    ) + ")"


def morton_key(x: str, y: str, bits: int = 16) -> Column:
    """Bit-interleave two ranks in [0, 2^bits) into one 2·bits-bit key.

    Bit i of x lands at position 2i, bit i of y at 2i+1 — one codegen
    expression of 2·bits div/mod terms, no UDF.
    """
    return F.expr(_morton_key_sql(sql_operand(x), sql_operand(y), bits))


def zorder_frame(
    df: DataFrame, x_col: str, y_col: str, bits: int = 16, key_col: str = "_zkey"
) -> DataFrame:
    """Attach the Morton key over the two columns' observed ranges.

    The min/max bounds ride along as a broadcast 1-row aggregate (no
    driver collect); at 100 TB the bounds job is a column-pruned scan.
    """
    b = F.broadcast(
        df.agg(
            F.min(x_col).alias("_xmin"),
            F.max(x_col).alias("_xmax"),
            F.min(y_col).alias("_ymin"),
            F.max(y_col).alias("_ymax"),
        )
    )
    out = df.crossJoin(b)
    xs = _int_rank_sql(sql_operand(x_col), "_xmin", "_xmax", bits)
    ys = _int_rank_sql(sql_operand(y_col), "_ymin", "_ymax", bits)
    return out.withColumn(key_col, morton_key(xs, ys, bits)).drop(
        "_xmin", "_xmax", "_ymin", "_ymax"
    )


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int = 16,
    bits: int = 16,
) -> None:
    """Range-partition + sort by the Morton key and write parquet.

    Every output file covers a contiguous Morton range = a tight
    hyper-rectangle in (x, y), so its footer min/max prune scans for
    predicates on EITHER column. The key column itself is dropped —
    the layout, not the schema, carries the clustering.
    """
    keyed = zorder_frame(df, x_col, y_col, bits)
    (
        keyed.repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )
