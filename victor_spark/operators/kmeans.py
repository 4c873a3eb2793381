"""Deterministic distributed k-means — trained centroids for the ANN paths.

Extension operator (the reference has no ANN training; /root/reference is
exact-scan only). The IVF/PQ/IVF-PQ builders default to the salted-md5
row-sample "codebook" because it is oracle-replayable in SQL, but sampled
rows are a recall handicap: Lloyd iterations move centroids to the actual
density, which on the synthetic corpus is worth ~+0.1 recall@10 at equal
probe cost (see tests/test_kmeans.py). ``trainer="kmeans"`` upgrades any
of the builders to these centroids.

Scale shape — the standard Lloyd-on-Spark decomposition:
- init is the same deterministic salted-md5 row pick as the samplers (no
  RNG, stable across cluster sizes and reruns);
- each iteration is ONE distributed pass: every Arrow batch assigns its
  rows to the nearest current centroid with a numpy matmul (centroids ride
  into the closure — k·d floats) and emits per-cell partial (count, sum)
  rows, so the driver receives O(partitions × k) tiny rows per iteration
  and never the data;
- empty cells keep their previous centroid (no re-seeding RNG).

Assignment order within a batch never affects the result — partial sums
are exact integer counts plus float vector sums whose final reduction
happens once on the driver — so the fitted centroids are deterministic up
to float summation order, same as every distributed mean.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from victor_spark.functions.vector import to_double_array


def seed_centroids(df: DataFrame, id_col: str, vec_col: str, k: int,
                   salt: str, metric: str = "cosine",
                   pool_mult: int = 8) -> list[list[float]]:
    """Farthest-point k-means init (the deterministic k-means++ stand-in):
    collect a salted-md5-ordered candidate pool of ``k * pool_mult`` rows
    (a bounded model-sized collect, like the PQ codebook), start from the
    pool's min-md5 row, then greedily add the candidate farthest from its
    nearest chosen centroid.

    Why not ``pq.codebook_vectors`` directly: k independent md5 picks can
    land two seeds in one cluster and none in another, and Lloyd cannot split a
    merged cell afterwards — with uuid row ids the picks differ per
    ingest, so IVF recall on clustered corpora varied run to run
    (observed: a 4-cell build on a 4-cluster corpus dropping to 0.76
    recall on an unlucky draw). Farthest-point spreads the seeds across
    clusters for ANY draw the pool covers; ties break by pool order, so
    the init stays fully deterministic given ids. (The pool's membership
    is chosen by salted md5; its ORDER — and therefore the first seed
    and tie-breaks — is id order, codebook_vectors' return contract.)"""
    from victor_spark.operators.pq import codebook_vectors

    pool = codebook_vectors(df, id_col, vec_col, k * pool_mult, salt)
    if len(pool) <= k:
        return pool
    P = np.asarray(pool, dtype=np.float64)
    if metric == "cosine":
        n_ = np.linalg.norm(P, axis=1, keepdims=True)
        n_[n_ == 0] = 1.0
        Q = P / n_
    else:
        Q = P

    # O(pool * k) incremental nearest-distance updates, never the
    # quadratic pool matrix (k=220 cells * 8x pool is fine either way,
    # but a larger build must not square a 10k-row pool driver-side)
    def _d(j: int) -> "np.ndarray":
        if metric == "cosine":
            return 1.0 - Q @ Q[j]  # monotone in angle
        diff = Q - Q[j]
        return (diff * diff).sum(axis=1)

    chosen = [0]
    d_near = _d(0)
    d_near[0] = -np.inf
    while len(chosen) < k:
        j = int(np.argmax(d_near))  # ties -> first index = pool order
        chosen.append(j)
        d_near = np.minimum(d_near, _d(j))
        # mask the pick: a zero-norm row under cosine keeps self-distance
        # 1.0 (the norm guard leaves it all-zeros), so without this one
        # zero vector in the pool would be re-chosen until every
        # remaining slot is a duplicate centroid (review-caught)
        d_near[j] = -np.inf
    return [[float(x) for x in P[j]] for j in chosen]


def fit_kmeans(df: DataFrame, id_col: str, vec_col: str, k: int,
               max_iter: int = 10, metric: str = "cosine",
               salt: str = "kmeans", tol: float = 1e-6) -> list[list[float]]:
    """Fit k centroids with deterministic init + distributed Lloyd.

    metric="cosine": spherical k-means — rows are direction-normalized for
    assignment (argmax dot), centroids renormalized each round (zero-norm
    rows assign to cell 0). metric="l2": classic Lloyd (argmin squared
    distance). Returns the centroids as plain lists (a driver-side model
    artifact, like the PQ codebook).
    """
    if metric not in ("cosine", "l2"):
        raise ValueError(f"metric must be cosine|l2, got {metric!r}")
    init = seed_centroids(df, id_col, vec_col, k, salt, metric)
    if not init:
        raise ValueError("cannot fit k-means over an empty dataframe")
    if len(init) < k:
        k = len(init)
    C = np.asarray(init, dtype=np.float64)
    if metric == "cosine":
        norms = np.linalg.norm(C, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        C = C / norms

    vdf = df.select(to_double_array(vec_col).alias("_v"))
    d = C.shape[1]

    for _ in range(max_iter):
        cents = C  # captured by value into this iteration's closure

        def _partials(batches, cents=cents):
            counts = np.zeros(k, dtype=np.int64)
            sums = np.zeros((k, d))
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.asarray(
                    [np.asarray(x, dtype=np.float64) for x in pdf["_v"]]
                )
                if metric == "cosine":
                    n_ = np.linalg.norm(X, axis=1, keepdims=True)
                    n_[n_ == 0] = 1.0
                    A = np.argmax((X / n_) @ cents.T, axis=1)
                    X = X / n_
                else:
                    d2 = (
                        (X * X).sum(axis=1)[:, None]
                        - 2.0 * X @ cents.T
                        + (cents * cents).sum(axis=1)[None, :]
                    )
                    A = np.argmin(d2, axis=1)
                counts += np.bincount(A, minlength=k)
                np.add.at(sums, A, X)
            yield pd.DataFrame({
                "cell": range(k),
                "n": counts,
                "s": [row.tolist() for row in sums],
            })

        def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
            return pd.DataFrame({
                "cell": [int(pdf["cell"].iloc[0])],
                "n": [int(pdf["n"].sum())],
                "s": [np.sum(
                    [np.asarray(x, dtype=np.float64) for x in pdf["s"]], axis=0
                ).tolist()],
            })

        # one partial row per (partition, cell) → shuffled on cell and
        # merged Arrow-side: the driver receives exactly k rows however
        # many executors ran
        parts = (
            vdf.mapInPandas(
                _partials, schema="cell int, n long, s array<double>"
            )
            .groupBy("cell")
            .applyInPandas(_merge, schema="cell int, n long, s array<double>")
            .collect()
        )

        newC = C.copy()
        for r in parts:
            if r["n"] and r["n"] > 0:
                newC[r["cell"]] = np.asarray(r["s"]) / r["n"]
        if metric == "cosine":
            norms = np.linalg.norm(newC, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            newC = newC / norms
        shift = float(np.abs(newC - C).max())
        C = newC
        if shift < tol:
            break

    return [row.tolist() for row in C]
