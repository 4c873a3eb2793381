"""HyperLogLog sketch: accuracy, merge algebra, small-range correction.

The oracle parity of the catalog `hll_distinct` query is covered by
test_oracle_parity.py; these tests cover the operator API itself —
the properties a 100 TB rollup relies on.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from victor_spark.operators.sketches import (
    approx_distinct,
    hll_estimate,
    hll_merge,
    hll_prepare,
    hll_registers,
)


@pytest.fixture(scope="module")
def ids(spark):
    # 20k distinct string ids — comfortably in the raw-estimate branch
    return spark.range(20_000).select(F.concat(F.lit("id-"), "id").alias("x"))


def test_estimate_within_standard_error(spark, ids):
    # p=10 → sigma = 1.04/sqrt(1024) ≈ 3.25%; assert within 3 sigma
    est = approx_distinct(ids, "x", p=10)
    assert abs(est / 20_000 - 1.0) < 0.10


def test_duplicates_do_not_change_estimate(spark, ids):
    dup = ids.unionAll(ids).unionAll(ids)
    assert approx_distinct(dup, "x") == approx_distinct(ids, "x")


def test_merge_of_slices_equals_whole(spark, ids):
    # the rollup algebra: registers(A ∪ B) == merge(registers(A), registers(B))
    a = ids.filter(F.length("x") <= 6)  # id-0 .. id-999
    b = ids.filter(F.length("x") > 6)
    whole = hll_registers(hll_prepare(ids, "x")).collect()
    merged = hll_merge(
        hll_registers(hll_prepare(a, "x")),
        hll_registers(hll_prepare(b, "x")),
    ).collect()
    assert sorted((r.bucket, r.r) for r in whole) == sorted(
        (r.bucket, r.r) for r in merged
    )


def test_merge_is_idempotent(spark, ids):
    regs = hll_registers(hll_prepare(ids, "x"))
    twice = hll_merge(regs, regs)
    assert sorted((r.bucket, r.r) for r in regs.collect()) == sorted(
        (r.bucket, r.r) for r in twice.collect()
    )


def test_small_range_uses_linear_counting(spark):
    # 30 distinct values over 1024 registers → V > 0 and E << 2.5m:
    # the corrected estimator takes the m·ln(m/V) branch and must land
    # far closer than the raw estimate's small-cardinality bias
    small = spark.range(30).select(F.col("id").cast("string").alias("x"))
    regs = hll_registers(hll_prepare(small, "x"))
    corrected = hll_estimate(regs, correct=True).collect()[0]
    raw = hll_estimate(regs, correct=False).collect()[0]
    assert corrected["empty_registers"] > 0
    assert abs(corrected["estimate"] - 30) < 3
    assert corrected["estimate"] != raw["estimate"]


def test_register_table_is_dense_and_bounded(spark, ids):
    regs = hll_registers(hll_prepare(ids, "x"), p=10)
    rows = regs.collect()
    assert len(rows) == 1024
    assert {r.bucket for r in rows} == set(range(1024))
    assert all(0 <= r.r <= 33 for r in rows)


def test_deterministic_across_runs(spark, ids):
    assert approx_distinct(ids, "x") == approx_distinct(ids, "x")


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def zipf_counts(spark):
    # key-i appears with count 1000//(i+1): a heavy head over a long tail
    rows = [(f"key-{i}", 1000 // (i + 1)) for i in range(500)]
    return spark.createDataFrame(rows, "k string, c long")


def test_cms_never_underestimates(spark, zipf_counts):
    from victor_spark.operators.sketches import cms_lookup, cms_sketch

    sk = cms_sketch(zipf_counts, "k", "c")
    est = cms_lookup(sk, zipf_counts.select("k"), "k")
    joined = est.join(zipf_counts, "k").collect()
    assert len(joined) == 500
    assert all(r.cms_count >= r.c for r in joined)


def test_cms_head_is_near_exact(spark, zipf_counts):
    # eps = e/width ≈ 0.0013; N ≈ 6.7k → overestimate ≲ 9 w.h.p.
    from victor_spark.operators.sketches import cms_lookup, cms_sketch

    sk = cms_sketch(zipf_counts, "k", "c")
    head = zipf_counts.filter(F.col("c") >= 100)
    est = cms_lookup(sk, head.select("k"), "k")
    joined = est.join(head, "k").collect()
    assert all(r.cms_count - r.c < 50 for r in joined)


def test_cms_unseen_keys_estimate_zero_not_inflated(spark, zipf_counts):
    """The sketch table is sparse: a key hashing to any never-touched
    (j, bucket) must estimate 0 (min over ALL depth counters includes
    the empty one), not an inflated min over its non-empty rows — and
    must appear in the output, not vanish from the inner join."""
    from victor_spark.operators.sketches import cms_lookup, cms_sketch

    # a nearly-empty sketch leaves most cells untouched, so probe keys
    # outside the corpus are all but guaranteed an empty counter
    tiny = zipf_counts.limit(3)
    sk = cms_sketch(tiny, "k", "c")
    probes = spark.createDataFrame(
        [(f"ghost-{i}",) for i in range(50)], "k string"
    )
    est = cms_lookup(sk, probes, "k").collect()
    assert len(est) == 50  # every probed key answers
    assert all(r.cms_count == 0 for r in est)


def test_cms_lookup_tolerates_duplicate_probe_keys(spark, zipf_counts):
    """A duplicated key in the probe frame must estimate the same value
    once, not fall to 0 because its matched-row count exceeds depth."""
    from victor_spark.operators.sketches import cms_lookup, cms_sketch

    sk = cms_sketch(zipf_counts, "k", "c")
    dup = spark.createDataFrame([("key-0",), ("key-0",), ("key-1",)],
                                "k string")
    est = {r["k"]: r["cms_count"] for r in cms_lookup(sk, dup, "k").collect()}
    assert len(est) == 2
    assert est["key-0"] >= 1000 and est["key-1"] >= 500


def test_cms_sketches_merge_by_summing(spark, zipf_counts):
    from victor_spark.operators.sketches import cms_sketch

    a = zipf_counts.filter(F.col("c") >= 10)
    b = zipf_counts.filter(F.col("c") < 10)
    whole = cms_sketch(zipf_counts, "k", "c").collect()
    merged = (
        cms_sketch(a, "k", "c")
        .unionByName(cms_sketch(b, "k", "c"))
        .groupBy("j", "bucket")
        .agg(F.sum("s").alias("s"))
        .collect()
    )
    assert sorted((r.j, r.bucket, r.s) for r in whole) == sorted(
        (r.j, r.bucket, r.s) for r in merged
    )


def test_cms_bounded_size(spark, zipf_counts):
    from victor_spark.operators.sketches import cms_sketch

    sk = cms_sketch(zipf_counts, "k", "c", depth=4, width=2048)
    assert sk.count() <= 4 * 2048


# ---------------------------------------------------------------------------
# bloom filter
# ---------------------------------------------------------------------------


def _probe_all(spark, words_df, values_df, col):
    from victor_spark.operators.sketches import bloom_might_contain

    return (
        values_df.crossJoin(F.broadcast(words_df))
        .select(bloom_might_contain(F.col("words"), F.col(col)).alias("hit"))
        .collect()
    )


def test_bloom_has_no_false_negatives(spark):
    from victor_spark.operators.sketches import bloom_build

    vals = spark.range(2000).select(F.concat(F.lit("m-"), "id").alias("x"))
    words = bloom_build(vals, "x")
    assert all(r.hit for r in _probe_all(spark, words, vals, "x"))


def test_bloom_false_positive_rate_is_bounded(spark):
    from victor_spark.operators.sketches import bloom_build

    members = spark.range(1000).select(F.concat(F.lit("m-"), "id").alias("x"))
    others = spark.range(5000).select(F.concat(F.lit("o-"), "id").alias("x"))
    words = bloom_build(members, "x")
    hits = sum(r.hit for r in _probe_all(spark, words, others, "x"))
    # fill <= 4000/16384 = 0.244; fp <= fill^4 ~ 0.36%; allow 4x slack
    assert hits / 5000 < 0.015


def test_bloom_merge_is_wordwise_or(spark):
    from victor_spark.operators.sketches import bloom_build, bloom_merge

    a = spark.range(500).select(F.concat(F.lit("a-"), "id").alias("x"))
    b = spark.range(500).select(F.concat(F.lit("b-"), "id").alias("x"))
    both = a.unionAll(b)
    merged = bloom_merge(bloom_build(a, "x"), bloom_build(b, "x")).collect()[0][
        "words"
    ]
    whole = bloom_build(both, "x").collect()[0]["words"]
    assert merged == whole
    assert len(whole) == 16384 // 32


# ---------------------------------------------------------------------------
# histogram quantiles
# ---------------------------------------------------------------------------


def test_histogram_quantile_error_bounded_by_bin_width(spark):
    from victor_spark.operators.sketches import histogram_quantile, value_histogram

    df = spark.range(10_000).select(
        F.lit("g").alias("g"), (F.col("id") * 0.01).alias("v")
    )
    h = value_histogram(df, "g", "v", bins=256)
    for q, truth in ((0.5, 49.995), (0.9, 89.991), (0.99, 98.9901)):
        est = histogram_quantile(h, "g", q, bins=256).collect()[0]["est"]
        assert abs(est - truth) <= 99.99 / 256 + 1e-9  # one bin width


def test_histogram_merges_by_summing_counts(spark):
    from victor_spark.operators.sketches import value_histogram

    df = spark.range(5_000).select(
        F.lit("g").alias("g"), (F.col("id") % 997).cast("double").alias("v")
    )
    whole = value_histogram(df, "g", "v").select("g", "bin", "cnt")
    # slices share the WHOLE table's bounds (the merge contract)
    a = df.filter(F.col("id") % 2 == 0)
    b = df.filter(F.col("id") % 2 == 1)
    bounds = df.agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    ).collect()[0]

    def fixed_bins(part):
        span = bounds.mx - bounds.mn
        bin_ = F.least(
            F.floor((F.col("v") - F.lit(bounds.mn)) * 256.0 / F.lit(span)).cast(
                "double"
            ),
            F.lit(255.0),
        ).cast("long")
        return part.select("g", bin_.alias("bin")).groupBy("g", "bin").agg(
            F.count("*").alias("cnt")
        )

    merged = (
        fixed_bins(a)
        .unionByName(fixed_bins(b))
        .groupBy("g", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted((r.bin, r.cnt) for r in whole.collect()) == sorted(
        (r.bin, r.cnt) for r in merged.collect()
    )


def test_histogram_constant_group_degenerates_cleanly(spark):
    from victor_spark.operators.sketches import histogram_quantile, value_histogram

    df = spark.range(100).select(F.lit("g").alias("g"), F.lit(42.0).alias("v"))
    h = value_histogram(df, "g", "v")
    assert h.count() == 1  # single bin 0
    est = histogram_quantile(h, "g", 0.9).collect()[0]["est"]
    assert est == pytest.approx(42.0)


def test_bloom_build_is_deterministic(spark):
    from victor_spark.operators.sketches import bloom_build

    vals = spark.range(300).select(F.col("id").cast("string").alias("x"))
    w1 = bloom_build(vals, "x").collect()[0]["words"]
    w2 = bloom_build(vals.repartition(7), "x").collect()[0]["words"]
    assert w1 == w2


def test_histogram_excludes_null_and_nan_values(spark):
    """Review-caught pair: NULL values formed a null-bin row the quantile
    walk's asc-nulls-first window counted FIRST (estimates drifted below
    the group minimum), and one NaN made mx=NaN, defeating the span==0
    guard so every value clamped into the LAST bin."""
    from victor_spark.operators.sketches import (
        histogram_quantile,
        value_histogram,
    )

    df = spark.createDataFrame(
        [("g", 10.0), ("g", 20.0), ("g", None), ("g", None),
         ("g", float("nan"))],
        "grp string, v double",
    )
    hist = value_histogram(df, "grp", "v", bins=4)
    rows = hist.collect()
    assert all(r["bin"] is not None for r in rows)
    assert rows[0]["n"] == 2 and rows[0]["mn"] == 10.0 and rows[0]["mx"] == 20.0
    est = histogram_quantile(hist, "grp", 0.9, bins=4).collect()[0]["est"]
    assert 10.0 <= est <= 20.0  # inside the real value range


def test_bloom_null_probe_is_definitely_absent(spark):
    """Review-caught: a NULL probe returned NULL, and ~NULL is NULL, so a
    keep-unseen filter silently dropped never-seen null rows as if seen.
    Nulls are never inserted, so False is the CORRECT answer."""
    from pyspark.sql import functions as F

    from victor_spark.operators.sketches import bloom_build, bloom_might_contain

    keys = spark.createDataFrame([("a",), ("b",)], "k string")
    words = bloom_build(keys, "k").collect()[0]["words"]
    probe = spark.createDataFrame([("a",), (None,), ("z",)], "k string")
    got = {r["k"]: r["seen"] for r in probe.select(
        "k",
        bloom_might_contain(F.lit(words), F.col("k")).alias("seen"),
    ).collect()}
    assert got["a"] is True and got["z"] is False
    assert got[None] is False  # not NULL — negated filters keep the row


def test_hashing_kernels_match_python_reference(spark):
    """Signatures, band keys, simhash fingerprints and LSH buckets against
    a plain-Python replay of each formula, incl. empty hash sets, a zero
    vector and hash values across the 32-bit range."""
    import math
    import random

    from victor_spark.functions import hashing as H

    rng = random.Random(23)
    rows = []
    for i in range(40):
        n = rng.randrange(0, 12)
        rows.append((
            i,
            [rng.randrange(0, 2 ** 32) for _ in range(n)],
            [rng.uniform(-2, 2) for _ in range(16)],
        ))
    rows.append((100, [], [0.0] * 16))  # empty hash set, zero vector
    df = spark.createDataFrame(rows, "i long, h array<bigint>, v array<double>")

    got = df.select(
        "i",
        H.minhash_signature("h", 16).alias("sig"),
        H.simhash32("h").alias("sh"),
        H.hyperplane_bucket("v", 8).alias("bk"),
    ).withColumn("bands", H.band_keys("sig", 8, 2))
    got = {r["i"]: (r["sig"], r["bands"], r["sh"], r["bk"]) for r in got.collect()}

    def _sig(h):
        return [
            min(((x * a + b) % H.MERSENNE31 for x in h), default=H.MERSENNE31)
            for a, b in H.hash_params(16)
        ]

    def _bands(sig):
        return ["_".join([str(j)] + [str(x) for x in sig[2 * j:2 * j + 2]])
                for j in range(8)]

    def _simhash(h):
        return sum(
            1 << b for b in range(32)
            if 2 * sum(1 for x in h if x & (1 << b)) > len(h)
        )

    def _bucket(v):
        out = 0
        for j in range(8):
            acc = 0.0
            for i, x in enumerate(v):
                acc += x * math.sin(float(j) * 12.9898 + float(i) * 78.233)
            out |= (1 << j) if acc > 0.0 else 0
        return out

    assert len(got) == len(rows)
    for i, h, v in rows:
        sig = _sig(h)
        assert got[i] == (sig, _bands(sig), _simhash(h), _bucket(v)), i
    assert got[100] == ([H.MERSENNE31] * 16, _bands([H.MERSENNE31] * 16), 0, 0)
