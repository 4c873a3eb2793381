"""PCA dimensionality reduction (the reference's projected mode).

The reference fits PCA over ALL embeddings when a vector file exceeds 1 MB
(/root/reference/src/db.rs:287-299, trigger :551-553): covariance +
symmetric eigendecomposition, keep top-500 components (db.rs:290), persist
eigen+means (eigen.bin), rewrite every stored vector projected, and project
queries at search time (db.rs:456-471).

Spark-first mapping: the covariance of a d-dim corpus is a d×d matrix —
tiny (64²..1536²) regardless of row count — so we compute the Gram matrix
distributed in one aggregation pass (map-side partial sums of outer
products via array expressions) and eigendecompose driver-side with numpy.
That is exactly how pyspark.ml.feature.PCA works internally (RowMatrix
computePrincipalComponents); we implement it directly over array<double>
columns to avoid the mllib Vector conversion round-trip, and we fix the
reference's per-file re-centering inconsistency (db.rs:301-367) by always
centering with the global means.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from victor_spark.functions.vector import lit_doubles, to_double_array


@dataclass
class PCAModel:
    """Fitted projection: components (d×k, columns = eigenvectors in
    descending-eigenvalue order) and per-dimension means."""

    components: np.ndarray  # (d, k)
    means: np.ndarray  # (d,)
    explained_variance: np.ndarray  # (k,)

    def save(self, path) -> None:
        """``path``: a local filename or a binary file-like (the index
        routes model bytes through its filesystem shim, victor_spark/fs.py,
        so the artifact lands wherever the data lives)."""
        np.savez(path, components=self.components, means=self.means,
                 explained_variance=self.explained_variance)

    @staticmethod
    def load(path) -> "PCAModel":
        z = np.load(path)
        return PCAModel(z["components"], z["means"], z["explained_variance"])

    def project_vector(self, v: list[float]) -> list[float]:
        """Driver-side single-vector projection (query path, db.rs:456-471)."""
        x = np.asarray(v, dtype=np.float64) - self.means
        return (x @ self.components).tolist()


def fit_pca(df: DataFrame, vec_col: str, k: int = 500) -> PCAModel:
    """Fit PCA with one distributed pass + driver-side eigh.

    Each partition emits one (n, Σx, Σxxᵀ) partial — computed by numpy over
    Arrow batches (mapInPandas), so the heavy outer-product accumulation
    runs at BLAS speed and the driver receives one d²-sized row per
    partition: at 1000 executors and d=1536 that is ~18 MB total,
    independent of corpus size. (A pure-codegen d²-column aggregate works
    too but compiles a 4096-expression aggregate; this shape is both faster
    and the standard RowMatrix strategy.)
    """
    d = df.select(F.size(to_double_array(vec_col)).alias("d")).first()["d"]
    k = min(k, d)
    vdf = df.select(to_double_array(vec_col).alias("v"))

    def _partials(batches):
        n = 0
        sums = np.zeros(d)
        gram = np.zeros((d, d))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            arr = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            n += arr.shape[0]
            sums += arr.sum(axis=0)
            gram += arr.T @ arr
        yield pd.DataFrame(
            {"n": [n], "sums": [sums.tolist()], "gram": [gram.ravel().tolist()]}
        )

    parts = vdf.mapInPandas(
        _partials, schema="n long, sums array<double>, gram array<double>"
    ).collect()

    n = sum(p["n"] for p in parts)
    sums = np.sum([np.asarray(p["sums"]) for p in parts], axis=0)
    gram = np.sum([np.asarray(p["gram"]).reshape(d, d) for p in parts], axis=0)
    means = sums / n
    # covariance = E[xxT] - mean meanT  (population, matching the reference's
    # X_c^T X_c / n in decomposition.rs:51-56)
    cov = gram / n - np.outer(means, means)
    eigvals, eigvecs = np.linalg.eigh(cov)
    order = np.argsort(eigvals)[::-1][:k]
    return PCAModel(eigvecs[:, order], means, eigvals[order])


# Above this many model coefficients (d×k), literal-array expressions stop
# being the right physical form: the plan would embed hundreds of thousands
# of literals and codegen a method per component. The Arrow/numpy path does
# one BLAS matmul per batch instead.
_EXPR_PATH_MAX_COEFFS = 16_384


def project_column(vec: Column | str, model: PCAModel) -> Column:
    """(v - means) @ components as a column expression.

    Two physical forms, same semantics:
    - small models (d×k ≤ 16k coefficients): k dot-products against literal
      component arrays — JVM-side, no Python (higher-order functions run
      interpreted, outside whole-stage codegen).
    - large models (the reference's 1536×500 = 768k coefficients): an
      Arrow-batched pandas_udf doing one numpy matmul per batch — the plan
      stays a single projection and the coefficients ship once per executor
      inside the serialized function, not as plan literals.
    """
    d, k = model.components.shape
    if d * k > _EXPR_PATH_MAX_COEFFS:
        return _project_udf(model)(to_double_array(vec))
    v = to_double_array(vec)
    centered = F.zip_with(
        v,
        lit_doubles(model.means),
        lambda x, m: x - m,
    )
    comps = []
    for j in range(k):
        col_j = lit_doubles(model.components[:, j])
        comps.append(
            F.aggregate(
                F.zip_with(centered, col_j, lambda x, c: x * c),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias(f"pc{j}")
        )
    return F.array(*comps)


def _project_udf(model: PCAModel):
    from pyspark.sql.types import ArrayType, DoubleType

    comps = model.components
    means = model.means

    @F.pandas_udf(ArrayType(DoubleType()))
    def _proj(vs: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vs.values])
        P = (X - means) @ comps
        return pd.Series(list(P))

    return _proj


def project_dataframe(df: DataFrame, vec_col: str, model: PCAModel,
                      out_col: str = "projected") -> DataFrame:
    return df.withColumn(out_col, project_column(vec_col, model))
