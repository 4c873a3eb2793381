"""IVF-PQ: inverted-file cells + product-quantized residuals — the
FAISS-standard composition of the catalog's two ANN index structures, and
the configuration actually deployed for billion-vector corpora.

Why residuals: within a cell, vectors cluster around the centroid, so
PQ-encoding (v − centroid) spends the codebook's resolution on the small
in-cell offsets instead of the global spread — better recall at the same
m bytes/vector.

Query path at 100 TB: score the centroids (tiny), pick nprobe cells —
with the corpus persisted `partitionBy("cell")` that is literal directory
pruning — then ADC-scan ONLY the probed cells' code columns with a
per-cell lookup table built from the query's residual against that cell.
No float vectors are read at query time; the scan is m bytes/vector over
nprobe/n_cells of the data.

Determinism (oracle-checkable): centroids are the every-``centroid_mod``-th
vectors, the residual codebook rows are the ``k_cb`` smallest salted-md5
ids (both standing in for k-means, same seam as ivf/pq), and every argmax
breaks ties by (score desc, id asc). All model artifacts come back in ONE
driver collect.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from victor_spark.functions.vector import _cosine_sql, lit_doubles_sql
from victor_spark.operators import pq as PQ


def collect_ivfpq_model(df: DataFrame, id_col: str, vec_col: str,
                        query_id, k_cb: int = 16, centroid_mod: int = 250,
                        salt: str = "pq"):
    """One driver round trip for every model artifact: centroid rows,
    residual-codebook source rows, and the query vector.

    Returns (centroids: {cell: vec}, codebook: list[residual vec] ordered
    by source id, query: vec)."""
    tagged = PQ.salted(df, id_col, vec_col, salt)
    cent = tagged.filter(F.col("_id") % centroid_mod == 0).select(
        "_id", "_v", F.lit("cent").alias("_part")
    )
    cb = tagged.orderBy("_h", "_id").limit(k_cb).select(
        "_id", "_v", F.lit("cb").alias("_part")
    )
    q = tagged.filter(F.col("_id") == query_id).select(
        "_id", "_v", F.lit("q").alias("_part")
    )
    rows = cent.unionAll(cb).unionAll(q).collect()
    centroids = {
        int(r["_id"]): [float(x) for x in r["_v"]]
        for r in rows if r["_part"] == "cent"
    }
    q_rows = [r for r in rows if r["_part"] == "q"]
    if not q_rows:
        raise ValueError(f"query id {query_id!r} not found")
    query = [float(x) for x in q_rows[0]["_v"]]
    cb_rows = sorted(
        (r for r in rows if r["_part"] == "cb"), key=lambda r: r["_id"]
    )
    codebook = [
        _residual([float(x) for x in r["_v"]], centroids) for r in cb_rows
    ]
    return centroids, codebook, query


def _cosine(a: list[float], b: list[float]) -> float:
    # the one driver-side cosine of the cell model; zero-norm guard: a
    # zero vector sorts last instead of raising ZeroDivisionError
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    if na == 0.0 or nb == 0.0:
        return float("-inf")
    return sum(x * y for x, y in zip(a, b)) / (na * nb)


def _nearest_cell(v: list[float], centroids: dict) -> int:
    # (cosine desc, cell asc) — the same tie-break the executors use
    return min(centroids.items(), key=lambda kv: (-_cosine(v, kv[1]), kv[0]))[0]


def probe_cells(query: list[float], centroids: dict, nprobe: int) -> list:
    """The ``nprobe`` cells whose centroids are nearest the query by
    cosine (ties → lowest cell) — the driver-side probe ranking."""
    return sorted(
        centroids, key=lambda c: (-_cosine(query, centroids[c]), c)
    )[:nprobe]


def cell_adc_sql(query: list[float], centroids: dict, cells: list,
                 codebook: list[list[float]], m: int) -> str:
    """Per-row ADC score over probed ``cells``: a CASE on ``cell`` picks
    the LUT of the query's residual against that cell's centroid
    (``PQ.adc_score_sql``). No ELSE: a row outside ``cells`` scores NULL."""
    return "CASE {whens} END".format(whens=" ".join(
        "WHEN `cell` = {c} THEN {score}".format(
            c=int(c),
            score=PQ.adc_score_sql(PQ.adc_lut(
                [qx - cx for qx, cx in zip(query, centroids[c])], codebook, m
            )),
        )
        for c in cells
    ))


def _residual(v: list[float], centroids: dict) -> list[float]:
    cv = centroids[_nearest_cell(v, centroids)]
    return [x - c for x, c in zip(v, cv)]


def assign_cells(df: DataFrame, id_col: str, vec_col: str,
                 centroids: dict) -> DataFrame:
    """(id, vec, cell): nearest centroid by cosine, as a MAP-SIDE fold —
    at scale this is the partitioning job that writes partitionBy('cell').

    The centroid dict is a collected model artifact (the caller already
    holds it driver-side), so assignment bakes it into the plan as a
    literal array and picks each row's argmax with a per-row ``aggregate``
    fold — zero exchanges, no k-fold row inflation (round-11 optimization,
    the semantic_dedup precedent). The old shape (broadcast crossJoin +
    max_by groupBy) shuffled one row per id purely to run the argmax.

    Fold semantics == ``max_by(cell, struct(cs, -cell))`` exactly: a
    strictly-higher cosine wins; an exactly-equal cosine (incl. NaN ==
    NaN, true under Spark's SQL ordering) wins only with a lower cell id;
    NULL cosines skip (the ``when`` condition is NULL → keep acc), just
    as max_by ignores NULL keys. The per-element cosine is the
    ``functions.vector.cosine`` SQL template itself, so scores are
    bit-identical to the crossJoin plan's. The
    init sentinel -2.0 sits below any real cosine, and NaN (zero-norm
    rows) compares greater than it under Spark's ordering, so the first
    centroid always replaces the sentinel — no NULL three-valued logic.
    """
    # One parsed SQL expression (the PQ.encode rationale — the builder
    # form's nested binds/lambdas cost ~0.3 s of py4j per call), with v
    # and each element's cosine bound to lambda variables.
    cents_sql = "array(" + ",".join(
        f"named_struct('cell', CAST({int(cell)} AS BIGINT), "
        f"'cv', {lit_doubles_sql(cv)})"
        for cell, cv in sorted(centroids.items())
    ) + ")"
    cos_sql = _cosine_sql("_av", "_ac.cv")
    assign_sql = (
        "get(transform(array(`{v}`), _av -> aggregate({cents}, "
        "named_struct('cs', -2.0D, 'cell', CAST({init_cell} AS BIGINT)), "
        "(_aa, _ac) -> get(transform(array({cos}), _acs -> "
        "CASE WHEN (_acs > _aa.cs) OR ((_acs = _aa.cs) AND "
        "(_ac.cell < _aa.cell)) THEN named_struct('cs', _acs, 'cell', "
        "_ac.cell) ELSE _aa END), 0), _af -> _af.cell)), 0)"
    ).format(v=vec_col, cents=cents_sql, init_cell=-(2 ** 62), cos=cos_sql)
    return df.select(
        F.col(id_col), F.col(vec_col), F.expr(assign_sql).alias("cell")
    )


def ivfpq_topk(df: DataFrame, id_col: str, vec_col: str, query_id,
               k: int = 5, m: int = 8, k_cb: int = 16, nprobe: int = 2,
               centroid_mod: int = 250, salt: str = "pq",
               model=None, assigned: DataFrame | None = None) -> DataFrame:
    """Top-k by IVF-PQ ADC distance: probe ``nprobe`` cells, score residual
    codes against the query's per-cell residual LUT. Returns
    (id, cell, adc_dist ascending). Pass a precollected
    ``model=(centroids, codebook, query)`` to skip the model-collect job
    when the caller already has it (e.g. the recall audit); pass
    ``assigned`` — an (id_col, vec_col, cell) frame produced by the same
    nearest-centroid rule as :func:`assign_cells` — to share the
    cell-assignment dataflow with a sibling IVF leg instead of paying
    the corpus-wide argmax twice."""
    centroids, codebook, query = model or collect_ivfpq_model(
        df, id_col, vec_col, query_id, k_cb, centroid_mod, salt
    )
    probed = probe_cells(query, centroids, nprobe)

    if assigned is None:
        assigned = assign_cells(df, id_col, vec_col, centroids)
    cand = assigned.filter(F.col("cell").isin([int(c) for c in probed]))

    # residual = v - centroid[cell]: centroid literal selected by the
    # (already probe-filtered) cell column. One parsed SQL expression per
    # projection (the PQ.encode rationale — the builder form's when-chains
    # and lambdas cost ~2,100 py4j round trips per call): v binds once,
    # the CASE picks the probed cell's centroid, no ELSE (non-probed rows
    # were filtered; a stray cell yields NULL, as the when-chain did).
    resid_sql = (
        "get(transform(array(`{v}`), _iv -> CASE {whens} END), 0)"
    ).format(
        v=vec_col,
        whens=" ".join(
            "WHEN `cell` = {c} THEN zip_with(_iv, {cv}, "
            "(_ix, _iy) -> _ix - _iy)".format(
                c=int(c), cv=lit_doubles_sql(centroids[c])
            )
            for c in probed
        ),
    )
    resid = cand.select(F.col(id_col), "cell", F.expr(resid_sql).alias("_r"))
    enc = PQ.encode(resid, "_r", codebook, m=m)

    score_sql = cell_adc_sql(query, centroids, probed, codebook, m)
    return (
        enc.select(F.col(id_col), "cell", F.expr(score_sql).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )
