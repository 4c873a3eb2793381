"""Product quantization (PQ) with asymmetric-distance (ADC) search.

Extension operator — the reference's only compression is whole-vector
min/max scalar quantization (/root/reference/src/packed_vector.rs:11-25);
PQ is the per-subvector generalization that additionally changes how
queries are SCORED (table lookups instead of float arithmetic).

The third leg of the ANN triad (brute-force / LSH+IVF / PQ): vectors are
encoded as `m` small code indices — one per contiguous subvector — against
a shared codebook, and search scores a query by summing per-subvector
lookup-table entries instead of touching the original floats. At 100 TB
this is the standard memory-bound trade: a 64-d float vector (256 B)
becomes `m` 1-byte codes, and the scan that serves a query reads codes
only; the codebook and the per-query LUT are O(k·d) driver-side objects.

Two deliberate design choices keep the operator oracle-checkable:

- **Deterministic codebook**: the k codebook rows are the corpus vectors
  with the smallest salted md5 of their id (then ordered by id) — no
  k-means RNG, reproducible in SQL. Real k-means plugs in behind the same
  interface; the encode/search algebra is identical.
- **Native-expression encode and score**: the per-subvector argmin and the
  ADC sum are Column expressions (whole-stage codegen), not UDFs, with
  explicit left-to-right float folds that the DuckDB oracle replays.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from victor_spark.functions import hashing as H
from victor_spark.functions.vector import lit_doubles_2d_sql


def salted(df: DataFrame, id_col: str, vec_col: str, salt: str) -> DataFrame:
    """(_id, _v, _h): every row with its salted md5 rank key — the one
    deterministic sampling rule of the ANN model artifacts: the k rows
    with the smallest ``_h`` (ties by ``_id``), returned in ``_id`` order."""
    return df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).withColumn(
        "_h", H.md5_32(F.concat(F.lit(salt + ":"), F.col("_id").cast("string")))
    )


def codebook_vectors(df: DataFrame, id_col: str, vec_col: str,
                     k: int = 16, salt: str = "pq") -> list[list[float]]:
    """Pick k codebook rows deterministically: smallest salted md5 of id.

    Returned ordered by id (stable). This is a driver-side collect of k
    full vectors — k·d floats, tiny. A trained k-means model starts from
    exactly these rows (operators/kmeans).
    """
    rows = (
        salted(df, id_col, vec_col, salt)
        .orderBy("_h", "_id")
        .limit(k)
        .orderBy("_id")
        .collect()
    )
    return [[float(x) for x in r["_v"]] for r in rows]


def codebook_and_query(df: DataFrame, id_col: str, vec_col: str,
                       k: int, query_id, salt: str = "pq"):
    """One driver round trip for both model artifacts: the k codebook rows
    (same selection rule as :func:`codebook_vectors`) and the query vector.

    ADC needs both on the driver before the scoring scan can be planned;
    fetching them in a single union'd collect halves the sequential
    job-launch latency of the PQ queries (each driver action costs a full
    scheduler round trip regardless of data size).
    """
    tagged = salted(df, id_col, vec_col, salt)
    cb_part = tagged.orderBy("_h", "_id").limit(k).select(
        "_id", "_v", F.lit("cb").alias("_part")
    )
    q_part = tagged.filter(F.col("_id") == query_id).select(
        "_id", "_v", F.lit("q").alias("_part")
    )
    rows = cb_part.unionAll(q_part).collect()
    cb_rows = sorted(
        (r for r in rows if r["_part"] == "cb"), key=lambda r: r["_id"]
    )
    q_rows = [r for r in rows if r["_part"] == "q"]
    if not q_rows:
        raise ValueError(f"query id {query_id!r} not found in {id_col}")
    codebook = [[float(x) for x in r["_v"]] for r in cb_rows]
    query = [float(x) for x in q_rows[0]["_v"]]
    return codebook, query


def _subvector_dim(d: int, m: int) -> int:
    """Length of each of the m contiguous subvectors of a d-dim vector;
    ValueError unless m divides d (a remainder would silently drop the
    tail dimensions, and d < m would leave empty subvectors)."""
    if m < 1 or d < m or d % m:
        raise ValueError(f"dimension {d} not divisible by m={m}")
    return d // m


def encode(df: DataFrame, vec_col: str, codebook: list[list[float]],
           m: int = 8, out_col: str = "pq_code") -> DataFrame:
    """Attach `out_col`: array<int> of length m, the 1-based codebook index
    whose j-th subvector is nearest (squared L2; first minimum wins ties).

    The expression is assembled as ONE SQL string and parsed JVM-side —
    the builder-API form cost 1,858 py4j round trips per call (~0.55 s of
    driver time per encode, profiled; guide §7.3 "planning time as the
    bottleneck"), almost all in higher-order-function lambda construction.
    The parsed tree is the same expression the builders produced, pinned
    by `tests/test_ann.py::test_pq_encode_sql_matches_builder_reference`:

    - per j, the query subvector binds once (the repo's get/transform
      bind idiom) so each of the k distance folds reads a slot;
    - one pass tags each distance with its 1-based code and a struct
      array_min picks (smallest dist, then smallest code) — where
      array_position(d, array_min(d)) would evaluate the transform twice;
    - the codebook subvectors are pre-sliced driver-side literals, so
      executors never re-slice the codebook per row;
    - 0.0D init + left-to-right (x-y)² folds — the order the oracle
      replays.
    """
    dsub = _subvector_dim(len(codebook[0]), m)
    cb_sub = [
        [c[j * dsub : (j + 1) * dsub] for c in codebook] for j in range(m)
    ]

    def argmin_sql(j: int) -> str:
        return (
            "get(transform(array(slice(_pqv, {s}, {n})), _pqq -> "
            "array_min(transform({cbj}, (_pqc, _pqi) -> named_struct("
            "'d', aggregate(zip_with(_pqq, _pqc, "
            "(_pqx, _pqy) -> (_pqx - _pqy) * (_pqx - _pqy)), 0.0D, "
            "(_pqs, _pqx) -> _pqs + _pqx), "
            "'code', _pqi + 1))).code), 0)"
        ).format(s=j * dsub + 1, n=dsub, cbj=lit_doubles_2d_sql(cb_sub[j]))

    codes_sql = "get(transform(array(`{v}`), _pqv -> array({body})), 0)".format(
        v=vec_col, body=",".join(argmin_sql(j) for j in range(m))
    )
    return df.withColumn(out_col, F.expr(codes_sql).cast("array<int>"))


def adc_lut(query: list[float], codebook: list[list[float]], m: int = 8) -> list[list[float]]:
    """Per-(subvector, code) squared distances from the query — the ADC
    lookup table, computed once per query with the same sequential fold
    as the executors' encode path."""
    dsub = _subvector_dim(len(codebook[0]), m)
    lut = []
    for j in range(m):
        row = []
        for c in codebook:
            s = 0.0
            for i in range(j * dsub, (j + 1) * dsub):
                diff = query[i] - c[i]
                s = s + diff * diff
            row.append(s)
        lut.append(row)
    return lut


def adc_topk(encoded: DataFrame, query: list[float], codebook: list[list[float]],
             k: int, m: int = 8, id_col: str = "vec_id",
             code_col: str = "pq_code") -> DataFrame:
    """Top-k by ADC distance: score = Σ_j LUT[j][code_j], smallest first.

    The scan touches ONLY the code column; scoring is m array lookups into
    a broadcast-literal LUT inside codegen — no floats read, no UDF, no
    shuffle beyond the bounded top-k merge.
    """
    score_sql = adc_score_sql(adc_lut(query, codebook, m), code_col)
    return (
        encoded.select(F.col(id_col), F.expr(score_sql).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )


def adc_score_sql(lut: list[list[float]], code_col: str = "pq_code") -> str:
    """The ADC score of one row, Σ_j LUT[j][code_j], as ONE parsed SQL
    expression (the encode() rationale): the LUT literal binds once per
    row and the m terms sum left-to-right — the fold the oracle replays,
    pinned by the adc differential test."""
    return "get(transform(array({lut}), _pql -> {terms}), 0)".format(
        lut=lit_doubles_2d_sql(lut),
        terms=" + ".join(
            f"element_at(element_at(_pql, {j + 1}), "
            f"element_at(`{code_col}`, {j + 1}))"
            for j in range(len(lut))
        ),
    )
