"""ANN operators: brute force exactness + LSH recall on clustered data."""

from __future__ import annotations

import math
import random

import pytest

from victor_spark.operators import ann


def _clustered(spark, n_per=20, d=16, seed=3):
    """Two tight clusters around orthogonal centers."""
    rng = random.Random(seed)
    rows = []
    for i in range(n_per):
        rows.append((i, [1.0 + rng.gauss(0, 0.01) if j == 0 else rng.gauss(0, 0.01) for j in range(d)]))
        rows.append((100 + i, [1.0 + rng.gauss(0, 0.01) if j == 1 else rng.gauss(0, 0.01) for j in range(d)]))
    return spark.createDataFrame(rows, "vec_id long, v array<double>")


def test_brute_force_topk_exact(spark):
    df = _clustered(spark)
    q = [1.0] + [0.0] * 15
    hits = ann.brute_force_topk(df, "v", q, k=5, metric="cosine").collect()
    assert len(hits) == 5
    assert all(h["vec_id"] < 100 for h in hits)  # all from cluster 0
    assert all(hits[i]["score"] >= hits[i + 1]["score"] for i in range(4))


def test_brute_force_euclidean_ascending(spark):
    df = _clustered(spark)
    q = [0.0, 1.0] + [0.0] * 14
    hits = ann.brute_force_topk(df, "v", q, k=5, metric="euclidean").collect()
    assert all(h["vec_id"] >= 100 for h in hits)
    assert all(hits[i]["score"] <= hits[i + 1]["score"] for i in range(4))


def test_batch_topk_per_query(spark):
    df = _clustered(spark)
    queries = spark.createDataFrame(
        [(0, [1.0] + [0.0] * 15), (1, [0.0, 1.0] + [0.0] * 14)],
        "qid long, qv array<double>",
    )
    res = ann.batch_topk(df, queries, "vec_id", "v", "qid", "qv", k=3).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q[0]) == 3 and len(by_q[1]) == 3
    assert all(r["corpus_id"] < 100 for r in by_q[0])
    assert all(r["corpus_id"] >= 100 for r in by_q[1])


def test_lsh_topk_recall_on_clusters(spark):
    df = _clustered(spark)
    q = [1.0] + [0.0] * 15
    exact = {r["vec_id"] for r in ann.brute_force_topk(df, "v", q, k=5).collect()}
    approx = {r["vec_id"] for r in ann.lsh_topk(df, "v", q, k=5, num_planes=6).collect()}
    # tight cluster ⇒ all true neighbors share the query's bucket
    assert len(exact & approx) >= 4


# ---------------------------------------------------------------------------
# product quantization + ADC (operators/pq.py)
# ---------------------------------------------------------------------------

from victor_spark.operators import pq


def test_pq_codebook_deterministic(spark):
    df = _clustered(spark)
    cb1 = pq.codebook_vectors(df, "vec_id", "v", k=4)
    cb2 = pq.codebook_vectors(df, "vec_id", "v", k=4)
    assert cb1 == cb2
    assert len(cb1) == 4 and all(len(c) == 16 for c in cb1)


def test_pq_encode_shape_and_range(spark):
    df = _clustered(spark)
    cb = pq.codebook_vectors(df, "vec_id", "v", k=4)
    enc = pq.encode(df, "v", cb, m=4)
    rows = enc.select("pq_code").collect()
    assert all(len(r["pq_code"]) == 4 for r in rows)
    assert all(1 <= c <= 4 for r in rows for c in r["pq_code"])


def test_pq_rejects_dimension_not_divisible_by_m(spark):
    """m must divide d: a remainder would silently drop the tail
    dimensions, and d < m would leave empty subvectors."""
    df = _clustered(spark)
    cb = pq.codebook_vectors(df, "vec_id", "v", k=4)  # d = 16
    for m in (3, 32, 0):
        with pytest.raises(ValueError, match="not divisible"):
            pq.encode(df, "v", cb, m=m)
        with pytest.raises(ValueError, match="not divisible"):
            pq.adc_lut(cb[0], cb, m=m)
    assert len(pq.adc_lut(cb[0], cb, m=16)) == 16


def test_pq_codebook_row_encodes_to_itself(spark):
    """A vector that IS a codebook row must get its own index in every
    subvector (distance 0 is the unique minimum on distinct rows)."""
    df = _clustered(spark)
    cb = pq.codebook_vectors(df, "vec_id", "v", k=4)
    cb_df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(cb)], "vec_id long, v array<double>"
    )
    enc = {r["vec_id"]: r["pq_code"] for r in pq.encode(cb_df, "v", cb, m=4).collect()}
    for i in range(4):
        assert enc[i] == [i + 1] * 4, enc


def test_pq_adc_matches_exact_on_codebook_rows(spark):
    """ADC distance to a codebook row equals the exact squared L2, because
    the row reconstructs losslessly; and top-1 for a near-centroid query is
    the centroid itself."""
    df = _clustered(spark)
    cb = pq.codebook_vectors(df, "vec_id", "v", k=4)
    enc = pq.encode(df.limit(0).unionByName(
        spark.createDataFrame([(999, cb[0])], "vec_id long, v array<double>")
    ), "v", cb, m=4)
    hit = pq.adc_topk(enc, cb[0], cb, k=1, m=4).collect()[0]
    assert hit["vec_id"] == 999
    assert abs(hit["adc_dist"]) < 1e-12


def test_pq_adc_ranking_respects_clusters(spark):
    """With one codebook row per cluster, ADC ranks same-cluster vectors
    strictly closer than cross-cluster ones."""
    df = _clustered(spark)
    cb = pq.codebook_vectors(df, "vec_id", "v", k=8)
    enc = pq.encode(df, "v", cb, m=4)
    q = [1.0] + [0.0] * 15
    hits = pq.adc_topk(enc, q, cb, k=10, m=4).collect()
    assert all(h["vec_id"] < 100 for h in hits)
    assert all(hits[i]["adc_dist"] <= hits[i + 1]["adc_dist"] for i in range(9))


def test_ivfpq_topk_shape_and_determinism(spark):
    from victor_spark.operators.ivfpq import collect_ivfpq_model, ivfpq_topk
    from victor_spark.plans.catalog import _emb
    from tests.conftest import SF_SMOKE

    e = _emb(spark, SF_SMOKE).select("vec_id", "v")
    out = ivfpq_topk(e, "vec_id", "v", query_id=7, k=5).collect()
    assert len(out) == 5
    # ascending ADC distance, deterministic tie-break
    dists = [r["adc_dist"] for r in out]
    assert dists == sorted(dists)
    assert out == ivfpq_topk(e, "vec_id", "v", query_id=7, k=5).collect()
    # every hit comes from a probed cell and the model artifacts line up
    cents, cb, q = collect_ivfpq_model(e, "vec_id", "v", 7)
    assert len(cb) == 16 and len(q) == 64
    assert all(r["cell"] in cents for r in out)


def test_assign_cells_fold_matches_crossjoin_reference(spark):
    """The map-side assign_cells fold must reproduce the broadcast-
    crossJoin + max_by(cell, struct(cs, -cell)) argmax exactly —
    including tie-breaks (duplicate centroids → lowest cell) and zero-norm
    rows (NaN cosine against every centroid → first/lowest cell under
    Spark's NaN-greatest ordering, same as max_by) — and residual_sql
    must give the residual against the winning centroid bit for bit."""
    from pyspark.sql import functions as F

    from victor_spark.functions.vector import cosine
    from victor_spark.operators.ivfpq import assign_cells, residual_sql

    df = _clustered(spark)
    # adversarial rows: a zero-norm vector and an exact duplicate of a
    # centroid (ties across the duplicate centroids below)
    extra = spark.createDataFrame(
        [(900, [0.0] * 16), (901, [1.0] + [0.0] * 15)],
        "vec_id long, v array<double>",
    )
    df = df.unionAll(extra)
    centroids = {
        0: [1.0] + [0.0] * 15,
        5: [0.0, 1.0] + [0.0] * 14,
        7: [1.0] + [0.0] * 15,  # duplicate of cell 0 → ties break to 0
    }
    got = {
        r["vec_id"]: (r["cell"], r["_r"])
        for r in assign_cells(df, "vec_id", "v", centroids).select(
            "vec_id", "cell",
            F.expr(residual_sql("v", centroids, centroids)).alias("_r"),
        ).collect()
    }
    # reference: the crossJoin + max_by shape, inlined; the residual is
    # zip_with(v, winning cv)
    cent_df = F.broadcast(spark.createDataFrame(
        [(c, v) for c, v in sorted(centroids.items())],
        "cell long, _cv array<double>",
    ))
    ref = {
        r["vec_id"]: (r["best"]["cell"], r["_r"])
        for r in df.crossJoin(cent_df)
        .select("vec_id", "v", "cell", "_cv", cosine("v", "_cv").alias("_cs"))
        .groupBy("vec_id")
        .agg(
            F.first("v").alias("v"),
            F.max_by(
                F.struct("cell", "_cv"), F.struct(F.col("_cs"), -F.col("cell"))
            ).alias("best"),
        )
        .select(
            "vec_id", "best",
            F.zip_with("v", "best._cv", lambda x, y: x - y).alias("_r"),
        )
        .collect()
    }
    # repr is bit-exact for doubles (and tells -0.0 from 0.0)
    assert {i: repr(g) for i, g in got.items()} == {
        i: repr(g) for i, g in ref.items()
    }
    assert got[901][0] == 0  # duplicate-centroid tie broke to the lowest cell
    assert got[900][0] == 0  # a zero-norm row scores NaN: the lowest cell


def _pq_encode_builder_reference(df, vec_col, codebook, m=8, out_col="pq_code"):
    """The pre-round-11 builder-API encode, kept as the differential
    reference for the one-SQL-string form (identical trees by contract)."""
    from pyspark.sql import functions as F

    from victor_spark.functions.vector import bind, lit_doubles_2d

    d = len(codebook[0])
    dsub = d // m
    cb_sub = [
        [c[j * dsub:(j + 1) * dsub] for c in codebook] for j in range(m)
    ]

    def _sqdist(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda s, x: s + x,
        )

    def argmin(j, qsub):
        cbj = lit_doubles_2d(cb_sub[j])
        tagged = F.transform(
            cbj,
            lambda c, i: F.struct(
                _sqdist(qsub, c).alias("d"), (i + 1).alias("code")
            ),
        )
        return F.array_min(tagged)["code"]

    def _argmin_at(j):
        return lambda q: argmin(j, q)

    codes = bind(
        F.col(vec_col),
        lambda v: F.array(
            *[bind(F.slice(v, j * dsub + 1, dsub), _argmin_at(j))
              for j in range(m)]
        ),
    )
    return df.withColumn(out_col, codes.cast("array<int>"))


def test_pq_encode_sql_matches_builder_reference(spark):
    """encode()'s one-SQL-string expression must produce exactly the codes
    the builder-API form produced (same argmin, same tie-breaks)."""
    import random

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-2, 2) for _ in range(16)]) for i in range(60)
    ]
    # adversarial: duplicated codebook rows force argmin ties
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    cb = [rows[i][1] for i in range(8)]
    cb[3] = list(cb[0])  # duplicate row → tie broken by smallest code
    got = {r["vec_id"]: r["pq_code"]
           for r in pq.encode(df, "v", cb, m=4).collect()}
    ref = {r["vec_id"]: r["pq_code"]
           for r in _pq_encode_builder_reference(df, "v", cb, m=4).collect()}
    assert got == ref


def test_pq_adc_sql_matches_builder_reference(spark):
    """adc_topk()'s one-SQL-string score must rank exactly as the builder
    form (same left-to-right term sum, same doubles)."""
    import random
    import struct

    from pyspark.sql import functions as F

    from victor_spark.functions.vector import bind, lit_doubles_2d

    rng = random.Random(13)
    rows = [
        (i, [rng.uniform(-2, 2) for _ in range(16)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    cb = [rows[i][1] for i in range(8)]
    q = [rng.uniform(-2, 2) for _ in range(16)]
    enc = pq.encode(df, "v", cb, m=4)
    got = pq.adc_topk(enc, q, cb, k=60, m=4).collect()

    lut = pq.adc_lut(q, cb, m=4)
    lut_lit = lit_doubles_2d(lut)

    def _score(lut_b):
        score = None
        for j in range(4):
            term = F.element_at(
                F.element_at(lut_b, j + 1),
                F.element_at(F.col("pq_code"), j + 1),
            )
            score = term if score is None else score + term
        return score

    ref = (
        enc.select(F.col("vec_id"), bind(lut_lit, _score).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(60)
        .collect()
    )
    assert [(r["vec_id"], struct.pack("d", r["adc_dist"])) for r in got] == [
        (r["vec_id"], struct.pack("d", r["adc_dist"])) for r in ref
    ]


def test_ivf_assign_sql_matches_builder_reference(spark):
    """The one-SQL-string nearest-cell fold (ivfpq.assign_cells) must
    reproduce the Column-builder fold exactly: dot(v, cv)/(vn·cn) per
    element with vn bound once per row, max_by-style (strictly-greater |
    equal-and-lower-cell) updates."""
    import random

    from pyspark.sql import functions as F

    from victor_spark.functions.vector import bind, lit_doubles, norm, py_norm
    from victor_spark.operators.ivfpq import assign_cells

    rng = random.Random(17)
    rows = [(i, [rng.uniform(-2, 2) for _ in range(16)]) for i in range(80)]
    e = spark.createDataFrame(rows, "vec_id long, v array<double>")

    cents = []
    for cell in (0, 5, 7):
        cv = list(rows[cell][1])
        cents.append((cell, cv, py_norm(cv)))
    cents[2] = (7, list(cents[0][1]), cents[0][2])  # duplicate → ties

    got = {
        r["vec_id"]: r["cell"]
        for r in assign_cells(
            e, "vec_id", "v", {cell: cv for cell, cv, _ in cents}
        ).collect()
    }

    cent_arr = F.array(*[
        F.struct(
            F.lit(cell).cast("long").alias("cell"),
            lit_doubles(cv).alias("cv"),
            F.lit(cn).alias("cn"),
        )
        for cell, cv, cn in cents
    ])
    init = F.struct(
        F.lit(-2.0).alias("cs"), F.lit(-(2 ** 62)).cast("long").alias("cell")
    )
    ref = {
        r["vec_id"]: r["cell"]
        for r in e.select(
            "vec_id",
            bind(
                norm("v"),
                lambda vn: F.aggregate(
                    cent_arr,
                    init,
                    lambda acc, c: bind(
                        F.aggregate(
                            F.zip_with(F.col("v"), c["cv"], lambda x, y: x * y),
                            F.lit(0.0),
                            lambda s, x: s + x,
                        ) / (vn * c["cn"]),
                        lambda cs: F.when(
                            (cs > acc["cs"])
                            | ((cs == acc["cs"]) & (c["cell"] < acc["cell"])),
                            F.struct(cs.alias("cs"), c["cell"].alias("cell")),
                        ).otherwise(acc),
                    ),
                    lambda a: a["cell"],
                ),
            ).alias("cell"),
        ).collect()
    }
    assert got == ref
    # the duplicated centroid's ties all broke to the lower cell id
    assert 7 not in set(got.values())


def test_catalog_ivf_queries_survive_zero_norm_rows(spark, tmp_path):
    """A zero-norm embedding scores NaN against every centroid (cosine's
    zero guard) and lands in the lowest cell, so the catalog's IVF
    queries run instead of failing on 0/0 (ANSI DIVIDE_BY_ZERO)."""
    import pyarrow as pa
    import pyarrow.parquet as papq
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE
    from victor_spark.operators.ivfpq import assign_cells
    from victor_spark.plans import QUERIES
    from victor_spark.plans.catalog import _emb, _ivf_collect_model

    zero = {5, 12}
    t = papq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    emb = [
        [0.0] * len(v) if i in zero else v
        for i, v in zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist())
    ]
    col = t.schema.get_field_index("embedding")
    t = t.set_column(col, t.schema.field(col),
                     pa.array(emb, type=t.schema.field(col).type))
    papq.write_table(t, str(tmp_path / "embeddings.parquet"))
    sf = str(tmp_path)

    for name in ("ann_ivf_topk", "ann_ivf_batch", "ann_recall"):
        assert QUERIES[name].build(spark, sf).collect(), name
    e = _emb(spark, sf).select("vec_id", "v")
    centroids, _ = _ivf_collect_model(e, e.filter(F.col("vec_id") == 7))
    cells = {
        r["vec_id"]: r["cell"]
        for r in assign_cells(e, "vec_id", "v", centroids)
        .filter(F.col("vec_id").isin(sorted(zero))).collect()
    }
    assert cells == {i: min(centroids) for i in zero}
