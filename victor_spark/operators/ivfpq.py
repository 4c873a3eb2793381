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

This module holds the one nearest-cell rule of every IVF path — the
catalog's IVF queries, VectorIndex's build_ivf/build_ivfpq/search_ivf/
search_ivfpq and semantic_dedup: :func:`cell_sql` (executors, a map-side
fold; :func:`assign_cells` wraps it), :func:`probe_cells` (driver), the
update rule :func:`argmax_cell_sql` and :func:`residual_sql`. Scores are
cosine, ties go to the lowest cell, and a zero norm scores NaN, which
Spark orders above every number.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from victor_spark.functions.vector import (
    _cosine_normed_sql,
    _dlit_sql,
    _norm_sql,
    lit_doubles_sql,
    py_cosine,
    py_norm,
    sql_operand,
)
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


def probe_cells(query: list[float], centroids: dict, nprobe: int) -> list:
    """The ``nprobe`` cells whose centroids are nearest the query by
    cosine (ties → lowest cell) — the driver-side probe ranking, scored
    by :func:`py_cosine` and ordered as Spark orders the executors'
    scores: a NaN score (a zero norm) ranks above every number."""
    def _rank(c):
        s = py_cosine(query, centroids[c])
        return (0, 0.0, c) if s != s else (1, -s, c)

    return sorted(centroids, key=_rank)[:nprobe]


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
    cv = centroids[probe_cells(v, centroids, 1)[0]]
    return [x - c for x, c in zip(v, cv)]


def argmax_cell_sql(cents: str, score: str) -> str:
    """The one nearest-cell update rule: a fold over the SQL array
    ``cents`` of structs with a ``cell`` field, each element bound as
    ``_ac`` while ``score`` (SQL over ``_ac``) rates it. A strictly
    higher score wins; an exactly equal score (incl. NaN == NaN, true
    under Spark's SQL ordering) wins only with a lower cell; a NULL score
    keeps the accumulator. That is ``max_by(cell, struct(score, -cell))``
    exactly. The init sentinel -2.0 sits below any real cosine, and NaN
    (a zero norm) compares greater than it, so the first centroid always
    replaces it — no NULL three-valued logic."""
    return (
        f"aggregate({cents}, named_struct('cs', -2.0D, 'cell', "
        f"CAST({-(2 ** 62)} AS BIGINT)), (_aa, _ac) -> "
        f"get(transform(array({score}), _acs -> CASE WHEN (_acs > _aa.cs) "
        "OR ((_acs = _aa.cs) AND (_ac.cell < _aa.cell)) THEN "
        "named_struct('cs', _acs, 'cell', _ac.cell) ELSE _aa END), 0), "
        "_af -> _af.cell)"
    )


def cell_sql(vec: str, centroids: dict) -> str:
    """SQL of the nearest centroid by cosine (ties → lowest cell) of the
    vector operand ``vec`` (``sql_operand`` rules): the per-row fold of
    :func:`argmax_cell_sql` over the centroid dict as a literal array.
    The row's vector and its norm bind once per row; each centroid
    carries its norm as a literal from :func:`py_norm`, bit-identical to
    the JVM fold, so each element costs one dot and its score equals
    ``cosine(vec, cv)`` bit for bit, zero guard included."""
    cents = "array(" + ",".join(
        f"named_struct('cell', CAST({int(cell)} AS BIGINT), "
        f"'cv', {lit_doubles_sql(cv)}, 'cn', {_dlit_sql(py_norm(cv))})"
        for cell, cv in sorted(centroids.items())
    ) + ")"
    fold = argmax_cell_sql(
        cents, _cosine_normed_sql("_av", "_ac.cv", "_avn", "_ac.cn")
    )
    return (
        f"get(transform(array({sql_operand(vec)}), _av -> get(transform("
        f"array({_norm_sql('_av')}), _avn -> {fold}), 0)), 0)"
    )


def assign_cells(df: DataFrame, id_col: str, vec_col: str,
                 centroids: dict) -> DataFrame:
    """(id, vec, cell): nearest centroid by cosine (:func:`cell_sql`), as
    a MAP-SIDE fold — at scale this is the partitioning job that writes
    partitionBy('cell'). The centroid dict is a collected model artifact,
    so it rides in the plan as a literal: zero exchanges and no k-fold
    row inflation, where a broadcast crossJoin + max_by groupBy shuffles
    one row per id purely to run the argmax. With no centroids the frame
    is empty, as the crossJoin's was."""
    if not centroids:
        return df.select(
            F.col(id_col), F.col(vec_col), F.lit(0).cast("long").alias("cell")
        ).filter(F.lit(False))
    return df.select(
        F.col(id_col), F.col(vec_col),
        F.expr(cell_sql(vec_col, centroids)).alias("cell"),
    )


def residual_sql(vec: str, centroids: dict, cells) -> str:
    """SQL of ``vec − centroids[cell]`` for a row whose ``cell`` column is
    one of ``cells``: the vector binds once and a CASE on ``cell`` picks
    the centroid literal. No ELSE: a row outside ``cells`` yields NULL."""
    whens = " ".join(
        f"WHEN `cell` = {int(c)} THEN zip_with(_iv, "
        f"{lit_doubles_sql(centroids[c])}, (_ix, _iy) -> _ix - _iy)"
        for c in cells
    )
    return (
        f"get(transform(array({sql_operand(vec)}), _iv -> CASE {whens} END), 0)"
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

    resid = cand.select(
        F.col(id_col), "cell",
        F.expr(residual_sql(vec_col, centroids, probed)).alias("_r"),
    )
    enc = PQ.encode(resid, "_r", codebook, m=m)

    score_sql = cell_adc_sql(query, centroids, probed, codebook, m)
    return (
        enc.select(F.col(id_col), "cell", F.expr(score_sql).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )
