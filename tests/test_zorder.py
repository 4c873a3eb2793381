"""Z-order layout: integer-exact Morton math + REAL parquet-footer
data-skipping — the files a z-ordered write produces carry tight
min/max on BOTH interleaved columns, which is the entire point.
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from victor_spark.operators.zorder import (
    int_rank,
    morton_key,
    write_zordered,
    zorder_frame,
)
from victor_spark.sources import load_table


def _file_stats(path: str, column: str) -> list[tuple]:
    """(min, max) per parquet data file from footer metadata only."""
    import pyarrow.parquet as pq

    out = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == column
            )
            s = col.statistics
            lo = s.min if lo is None else min(lo, s.min)
            hi = s.max if hi is None else max(hi, s.max)
        out.append((lo, hi))
    return out


def test_morton_key_interleaves_bits(spark):
    df = spark.createDataFrame([(3, 5)], "x long, y long")
    # x=0b011 -> bits at 0,2 ; y=0b101 -> bits at 1,5... interleaved:
    # z = x0<<0 | y0<<1 | x1<<2 | y1<<3 | x2<<4 | y2<<5
    #   = 1 + 2 + 4 + 0 + 0 + 32 = 39
    row = df.select(morton_key("x", "y", bits=3).alias("z")).collect()
    assert row[0].z == 39


def test_int_rank_hits_both_ends_exactly(spark):
    df = spark.range(101).select(F.col("id").alias("x"))
    r = df.select(
        int_rank("x", "0", "100", bits=8).alias("r")
    ).agg(F.min("r"), F.max("r")).collect()[0]
    assert (r[0], r[1]) == (0, 255)


def test_constant_column_ranks_zero(spark):
    df = spark.range(5).select(F.lit(7).alias("x"))
    r = df.select(int_rank("x", "7", "7").alias("r")).collect()
    assert all(row.r == 0 for row in r)


def test_zorder_frame_key_is_partition_independent(spark):
    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "user_id", "value")
    a = {r.event_id: r._zkey for r in zorder_frame(ev, "user_id", "value").collect()}
    b = {
        r.event_id: r._zkey
        for r in zorder_frame(ev.repartition(13), "user_id", "value").collect()
    }
    assert a == b


def test_zordered_files_prune_on_both_columns(spark, tmp_path):
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", (F.floor(F.col("value") * 100 + 0.5)).cast("long").alias("cents"))
    )
    zdir, xdir = str(tmp_path / "z"), str(tmp_path / "x")
    write_zordered(ev, zdir, "user_id", "cents", n_files=8)
    ev.repartitionByRange(8, "user_id").sortWithinPartitions("user_id").write.parquet(
        xdir
    )

    lo_u, hi_u, lo_c, hi_c = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("cents"), F.max("cents")
    ).collect()[0]
    dom_u, dom_c = hi_u - lo_u, hi_c - lo_c

    def mean_span(stats, dom):
        return sum((b - a) / dom for a, b in stats) / len(stats)

    # x-sorted layout: near-zero user_id spans, near-full cents spans
    assert mean_span(_file_stats(xdir, "user_id"), dom_u) < 0.30
    assert mean_span(_file_stats(xdir, "cents"), dom_c) > 0.60
    # z-ordered layout: BOTH columns materially below full domain
    zu = mean_span(_file_stats(zdir, "user_id"), dom_u)
    zc = mean_span(_file_stats(zdir, "cents"), dom_c)
    assert zu < 0.60 and zc < 0.60

    # pruning simulation: a predicate on cents alone skips z-order files
    # but no x-sorted file
    probe_lo, probe_hi = lo_c, lo_c + dom_c // 10
    x_hit = sum(1 for a, b in _file_stats(xdir, "cents") if a <= probe_hi and b >= probe_lo)
    z_hit = sum(1 for a, b in _file_stats(zdir, "cents") if a <= probe_hi and b >= probe_lo)
    assert x_hit == 8  # single-column sort cannot skip on the other column
    assert z_hit < 8  # z-order can


def test_zorder_write_roundtrips_rows(spark, tmp_path):
    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "user_id", "value")
    out = str(tmp_path / "zz")
    write_zordered(ev, out, "user_id", "event_id", n_files=4)
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    assert set(back.columns) == {"event_id", "user_id", "value"}
    assert back.select(F.sum("event_id")).collect() == ev.select(
        F.sum("event_id")
    ).collect()

def _py_int_rank(x, lo, hi, bits=16):
    span = hi - lo
    return 0 if span == 0 else math.floor((x - lo) * ((1 << bits) - 1) / span)


def _py_morton_key(x, y, bits=16):
    """Spark's integer % is Java's remainder (sign of the dividend), so a
    negative input contributes negative bit terms — replayed with fmod."""
    def bit(v, i):
        return int(math.fmod(math.floor(v / (1 << i)), 2))

    return sum(
        bit(x, i) * (1 << (2 * i)) + bit(y, i) * (1 << (2 * i + 1))
        for i in range(bits)
    )


def test_zorder_kernels_match_python_reference(spark):
    """int_rank and morton_key against a plain-Python replay, incl. the
    span==0 rank, negative domains, and the 2^31 bit literal."""
    rows = [
        (0, 0, 0, 100, -50, 50),
        (100, 37, 0, 100, -50, 50),
        (-50, 50, -50, 50, -50, 50),
        (7, 7, 7, 7, 7, 7),  # span == 0 on x
        (123456, 65535, 0, 200000, 0, 65535),
    ]
    df = spark.createDataFrame(
        rows, "x long, y long, xmin long, xmax long, ymin long, ymax long"
    )
    got = df.select(
        int_rank("x", "xmin", "xmax").alias("r"),
        morton_key("x", "y").alias("m"),
        morton_key("x", "y", bits=4).alias("m4"),
    ).collect()
    for (x, y, xmin, xmax, _, _), g in zip(rows, got):
        assert g.r == _py_int_rank(x, xmin, xmax), (x, g)
        assert g.m == _py_morton_key(x, y), (x, y, g)
        assert g.m4 == _py_morton_key(x, y, bits=4), (x, y, g)
    assert [g.r for g in got] == [0, 65535, 0, 0, 40453]


def test_morton_key_mixed_str_column_args(spark):
    """Operands are SQL: a Column anywhere raises TypeError with the fix
    in the message, instead of a str being misread as a string literal
    (silent NULL keys) or a Column silently taking another code path."""
    for a, b in ((F.col("xs"), "ys"), ("xs", F.col("ys"))):
        with pytest.raises(TypeError, match="column name"):
            morton_key(a, b, 4)


def test_zorder_dotted_names_resolve_struct_fields(spark):
    """Dotted operands are SQL expressions: ``s.x`` reads the struct
    field, not a backticked single identifier."""
    df = spark.range(8).select(
        F.struct(
            (F.col("id") % 3).alias("x"), (F.col("id") % 2).alias("y")
        ).alias("s")
    )
    got = df.select(
        F.col("s.x").alias("x"), F.col("s.y").alias("y"),
        morton_key("s.x", "s.y", 4).alias("k"),
        int_rank("s.x", "0", "2", 4).alias("r"),
    ).collect()
    for g in got:
        assert g.k == _py_morton_key(g.x, g.y, 4)
        assert g.r == _py_int_rank(g.x, 0, 2, 4)
