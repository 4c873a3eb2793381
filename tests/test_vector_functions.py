"""Kernel unit tests mirroring the reference's closed-form cases
(/root/reference/src/similarity.rs:45-85, packed_vector.rs:66-169)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from victor_spark.functions.vector import (
    cosine,
    dequantize,
    dot,
    euclidean,
    norm,
    quantize,
)


def _one(spark, a, b):
    return spark.createDataFrame(
        [([float(x) for x in a], [float(x) for x in b])], "a array<double>, b array<double>"
    )


def test_cosine_basic(spark):
    # similarity.rs:45-57 — [1,2,3]·[3,2,1] → 0.7142857
    r = _one(spark, [1, 2, 3], [3, 2, 1]).select(cosine("a", "b").alias("c")).first()
    assert abs(r["c"] - 0.7142857) < 0.001


def test_cosine_identical(spark):
    r = _one(spark, [1, 2, 3], [1, 2, 3]).select(cosine("a", "b").alias("c")).first()
    assert abs(r["c"] - 1.0) < 0.001


def test_cosine_opposite(spark):
    r = _one(spark, [1, 2, 3], [-1, -2, -3]).select(cosine("a", "b").alias("c")).first()
    assert abs(r["c"] + 1.0) < 0.001


def test_dot_and_norm(spark):
    r = _one(spark, [1, 2, 3], [3, 2, 1]).select(
        dot("a", "b").alias("d"), norm("a").alias("n")
    ).first()
    assert r["d"] == 10.0
    assert abs(r["n"] - math.sqrt(14)) < 1e-12


def test_euclidean(spark):
    # similarity.rs:26-43
    r = _one(spark, [0, 0, 0], [3, 4, 0]).select(euclidean("a", "b").alias("e")).first()
    assert abs(r["e"] - 5.0) < 1e-12


@pytest.mark.parametrize(
    "vec",
    [
        [0.0] * 64,                      # zeros — packed_vector.rs:80-87
        [1.0] * 64,                      # constant (min==max guard)
        [float(i % 2) for i in range(64)],  # alternating 0/1 — :96-103
    ],
)
def test_quantize_lossless_degenerate(spark, vec):
    df = spark.createDataFrame([(vec,)], "v array<double>")
    r = (
        df.withColumn("q", quantize("v"))
        .withColumn("back", dequantize("q.quant", "q.qmin", "q.qmax"))
        .select(
            F.array_max(F.zip_with("v", "back", lambda a, b: F.abs(a - b))).alias("err")
        )
        .first()
    )
    assert r["err"] == 0.0


def test_quantize_error_bound_random_unit(spark):
    # packed_vector.rs:105-149: seeded uniform(-1000,1000) normalized, d=1024
    import random

    rng = random.Random(0)
    v = [rng.uniform(-1000, 1000) for _ in range(1024)]
    n = math.sqrt(sum(x * x for x in v))
    v = [x / n for x in v]
    df = spark.createDataFrame([(v,)], "v array<double>")
    r = (
        df.withColumn("q", quantize("v"))
        .withColumn("back", dequantize("q.quant", "q.qmin", "q.qmax"))
        .select(
            F.array_max(F.zip_with("v", "back", lambda a, b: F.abs(a - b))).alias("mx"),
            (
                F.aggregate(
                    F.zip_with("v", "back", lambda a, b: F.abs(a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.size("v")
            ).alias("avg"),
        )
        .first()
    )
    # reference bounds: max < 0.0005, avg < 0.0002 (packed_vector.rs:142-143)
    assert r["mx"] < 0.0005
    assert r["avg"] < 0.0002


def test_quantize_idempotent(spark):
    # packed_vector.rs:146-148 — re-packing an unpacked vector is lossless
    import random

    rng = random.Random(1)
    v = [rng.uniform(-1, 1) for _ in range(128)]
    df = spark.createDataFrame([(v,)], "v array<double>")
    once = (
        df.withColumn("q", quantize("v"))
        .select(dequantize("q.quant", "q.qmin", "q.qmax").alias("v1"))
    )
    r = (
        once.withColumn("q", quantize("v1"))
        .select(
            F.array_max(
                F.zip_with(
                    "v1",
                    dequantize("q.quant", "q.qmin", "q.qmax"),
                    lambda a, b: F.abs(a - b),
                )
            ).alias("err")
        )
        .first()
    )
    assert r["err"] < 1e-9


def test_l2_normalize_matches_cosine_contract(spark):
    import math

    from pyspark.sql import functions as F

    from victor_spark.functions.vector import cosine, dot, l2_normalize

    df = spark.createDataFrame(
        [([3.0, 4.0], [1.0, 0.0]), ([0.0, 0.0], [1.0, 0.0])],
        "a array<double>, b array<double>",
    )
    rows = df.select(
        l2_normalize("a").alias("na"),
        l2_normalize("b").alias("nb"),
        cosine("a", "b").alias("c"),
    ).select("na", dot("na", "nb").alias("nd"), "c").collect()
    # normalized dot tracks cosine to float tolerance on real vectors
    assert rows[0]["na"] == [0.6, 0.8]
    assert abs(rows[0]["nd"] - rows[0]["c"]) < 1e-12
    # zero-norm: NaN components (cosine's contract), never a job error
    assert all(math.isnan(x) for x in rows[1]["na"])
    assert math.isnan(rows[1]["nd"]) and math.isnan(rows[1]["c"])


def test_lit_doubles_bit_exact_vs_per_element_lits(spark):
    """The round-11 one-expr literal builders must parse to the SAME
    doubles as per-element F.lit — bit-for-bit, including subnormals, max
    double, -0.0, NaN/Inf and random 64-bit patterns (repr round-trips
    shortest-exact; the parser's Double.parseDouble is correctly
    rounded)."""
    import random
    import struct

    from pyspark.sql import functions as F

    from victor_spark.functions.vector import lit_doubles, lit_doubles_2d

    rng = random.Random(7)
    vals = [
        5e-324, 1.7976931348623157e308, -0.0, 0.1 + 0.2, 1 / 3, -1e-300,
        float("nan"), float("inf"), float("-inf"),
    ] + [
        struct.unpack("d", struct.pack("<Q", rng.getrandbits(64)))[0]
        for _ in range(100)
    ]
    df = spark.range(1)
    got = df.select(lit_doubles(vals).alias("a")).collect()[0]["a"]
    ref = df.select(
        F.array(*[F.lit(float(x)) for x in vals]).alias("a")
    ).collect()[0]["a"]
    assert [struct.pack("d", x) for x in got] == [
        struct.pack("d", x) for x in ref
    ]
    # nested form + empty forms keep the declared types
    got2 = df.select(lit_doubles_2d([vals[:5], vals[5:9]]).alias("a")).collect()[0]["a"]
    assert [struct.pack("d", x) for r in got2 for x in r] == [
        struct.pack("d", x) for x in vals[:9]
    ]
    assert (
        df.select(lit_doubles([]).alias("a")).schema["a"].dataType.simpleString()
        == "array<double>"
    )
    assert (
        df.select(lit_doubles_2d([]).alias("a")).schema["a"].dataType.simpleString()
        == "array<array<double>>"
    )


# ---------------------------------------------------------------------------
# Kernels against a plain-Python replay of their arithmetic, over the edge
# vectors: zero norm, subnormal, NaN, ±inf, empty, length mismatch, null
# and overflow. Spark semantics replayed: a length mismatch pads with null,
# which poisons the fold to null; SQL `=` holds for NaN = NaN; the
# zero-norm guard turns the would-be 0/0 into NaN.
# ---------------------------------------------------------------------------

SUB = 5e-324  # smallest subnormal double

EDGE_VECTORS = [
    ([1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
    ([0.0, 0.0], [0.0, 0.0]),                      # zero norm -> NaN
    ([SUB, -0.0], [SUB, 0.0]),                     # subnormal / signed zero
    ([float("nan"), 1.0], [1.0, 1.0]),             # NaN poison
    ([float("inf"), 1.0], [1.0, float("-inf")]),   # infinities
    ([], []),                                      # empty
    ([1.0, 2.0], [1.0]),                           # length mismatch -> null
    (None, [1.0]),                                 # null array
    ([1e308, 1e308], [1e308, -1e308]),             # overflow territory
]


def _fold(a, b, f):
    if a is None or b is None or len(a) != len(b):
        return None
    acc = 0.0
    for x, y in zip(a, b):
        acc += f(x, y)
    return acc


def _py_dot(a, b):
    return _fold(a, b, lambda x, y: x * y)


def _py_norm(a):
    d = _py_dot(a, a)
    return None if d is None else math.sqrt(d)


def _py_guarded_div(num, den):
    if den is None:
        return None
    if den == 0.0:
        return float("nan")
    return None if num is None else num / den


def _py_cosine(a, b):
    na, nb = _py_norm(a), _py_norm(b)
    return _py_guarded_div(_py_dot(a, b), None if None in (na, nb) else na * nb)


def _py_euclidean(a, b):
    s = _fold(a, b, lambda x, y: (x - y) * (x - y))
    return None if s is None else math.sqrt(s)


def _py_l2_normalize(a):
    n = _py_norm(a)
    if n is None:
        return None
    return [float("nan") if n == 0.0 else x / n for x in a]


def _same(got, want):
    """Bit-level equality with NaN == NaN (repr is exact for doubles)."""
    if isinstance(want, list):
        return isinstance(got, list) and len(got) == len(want) and all(
            _same(g, w) for g, w in zip(got, want)
        )
    return repr(got) == repr(want)


@pytest.fixture(scope="module")
def edge_vectors(spark):
    return spark.createDataFrame(EDGE_VECTORS, "a array<double>, b array<double>")


def test_vector_kernels_on_edge_vectors(edge_vectors):
    from victor_spark.functions.vector import (
        l2_normalize,
        py_cosine,
        py_dot,
        py_norm,
    )

    rows = edge_vectors.select(
        "a", "b",
        dot("a", "b").alias("dot"),
        norm("a").alias("norm"),
        cosine("a", "b").alias("cos"),
        euclidean("a", "b").alias("l2"),
        l2_normalize("a").alias("unit"),
    ).collect()
    assert len(rows) == len(EDGE_VECTORS)
    for r in rows:
        a, b = r["a"], r["b"]
        assert _same(r["dot"], _py_dot(a, b)), r
        assert _same(r["norm"], _py_norm(a)), r
        assert _same(r["cos"], _py_cosine(a, b)), r
        assert _same(r["l2"], _py_euclidean(a, b)), r
        assert _same(r["unit"], _py_l2_normalize(a)), r
        if a is not None and len(a) == len(b):
            # the driver-side twins equal the JVM kernels bit for bit
            assert _same(py_dot(a, b), r["dot"]), r
            assert _same(py_norm(a), r["norm"]), r
            assert _same(py_cosine(a, b), r["cos"]), r


def test_literal_kernels_on_edge_vectors(edge_vectors):
    from victor_spark.functions.vector import (
        cosine_to_literal,
        euclidean_to_literal,
        py_norm,
    )

    for q in ([3.0, -4.0], [0.0, 0.0], [SUB, -0.0], [float("nan"), 1.0], []):
        qnorm = py_norm(q)
        rows = edge_vectors.select(
            "a",
            cosine_to_literal("a", q).alias("cos"),
            euclidean_to_literal("a", q).alias("l2"),
        ).collect()
        for r in rows:
            a = r["a"]
            na = _py_norm(a)
            want_cos = _py_guarded_div(
                _py_dot(a, q), None if na is None else na * qnorm
            )
            assert _same(r["cos"], want_cos), (q, r)
            assert _same(r["l2"], _py_euclidean(a, q)), (q, r)


def test_cosine_to_literal_query_norm_is_the_kernels_sqrt(spark):
    """cosine_to_literal folds the query's norm driver-side. It must be
    the kernel's own IEEE sqrt of the fold, so each score equals cosine
    over the same literal bit for bit — also for a query whose norm
    ``** 0.5`` rounds an ulp away from ``math.sqrt``."""
    import random

    from victor_spark.functions.vector import cosine_to_literal, lit_doubles_sql

    rng = random.Random(1)
    while True:
        q = [rng.gauss(0, 1) for _ in range(4)]
        sq = 0.0
        for x in q:
            sq += x * x
        if sq ** 0.5 != math.sqrt(sq):
            break
    df = spark.createDataFrame(
        [([rng.gauss(0, 1) for _ in range(4)],) for _ in range(50)],
        "v array<double>",
    )
    rows = df.select(
        cosine_to_literal("v", q).alias("lit"),
        cosine("v", lit_doubles_sql(q)).alias("ref"),
    ).collect()
    assert len(rows) == 50
    assert [repr(r["lit"]) for r in rows] == [repr(r["ref"]) for r in rows]


def test_dotted_operand_resolves_struct_field(spark):
    """A non-identifier operand is SQL: ``s.x`` reads the struct field."""
    df = spark.range(1).select(
        F.struct(F.array(F.lit(1.0), F.lit(2.0)).alias("x")).alias("s")
    )
    got = df.select(norm("s.x").alias("n")).collect()[0].n
    assert got == pytest.approx(math.sqrt(5.0))


def test_kernels_reject_column_operands():
    """Every SQL-template kernel refuses a Column with a TypeError that
    names the fix (pass a name or an expression)."""
    from victor_spark.functions import hashing as H
    from victor_spark.functions import text as T
    from victor_spark.functions import url as U
    from victor_spark.functions import vector as V
    from victor_spark.operators.zorder import int_rank, morton_key

    c = F.col("v")
    calls = [
        lambda: V.dot(c, "v"), lambda: V.dot("v", c), lambda: V.norm(c),
        lambda: V.l2_normalize(c), lambda: V.cosine("v", c),
        lambda: V.cosine_to_literal(c, [1.0]), lambda: V.euclidean(c, "v"),
        lambda: V.euclidean_to_literal(c, [1.0]),
        lambda: T.tokens(c), lambda: T.token_count(c),
        lambda: T.quality_score(c), lambda: T.lang_id(c),
        lambda: T.c4_kept_lines(c),
        lambda: U.canonical_url(c), lambda: U.robots_rule(c, True),
        lambda: U.robots_rule("/p", c), lambda: U.robots_rule_of(c, "allow"),
        lambda: H.minhash_signature(c), lambda: H.band_keys(c, 8, 2),
        lambda: H.simhash32(c), lambda: H.hyperplane_bucket(c),
        lambda: int_rank(c, "lo", "hi"), lambda: morton_key("x", c),
    ]
    for call in calls:
        with pytest.raises(TypeError, match="name|expression"):
            call()
