"""PCA dimensionality reduction for embedding columns (the FAISS
PCAMatrix preprocessing stage: project D -> d before indexing, both to
shrink the index and to concentrate variance for quantizers; sibling of
bq.random_rotation, which is the isometric no-reduction case).

Scale shape: the sufficient statistics (sum vector + D x D co-moment
matrix) are accumulated in ONE mapInPandas pass with per-batch BLAS
(X^T X) and driver-side reduction — the shuffle carries D*(D+1) doubles
per partition, never rows. The eigendecomposition is a driver-side
O(D^3) on the D x D covariance (D is 64-4096 in practice — model-sized),
and the projection back over the data is one broadcast gemm per batch.
The map-side-combine shape of the k-means Lloyd pass
(kmeans._lloyd_pass), reused for second moments.

Determinism: eigh of a fixed matrix is deterministic; eigenvector SIGN
is not meaningful, so each component is canonicalized to make its
largest-|.| coefficient positive. RNG-free end to end, but float
reduction order makes the trained matrix engine-specific -> rows-only
catalog material; invariants (orthonormality, variance ordering,
reconstruction-error monotonicity) are pytest-gated.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_search_spark.functions.distance import as_double_array

__all__ = ["PCAModel", "train_pca", "project"]


@dataclass
class PCAModel:
    mean: np.ndarray  # (D,)
    components: np.ndarray  # (d, D) — rows are principal axes
    explained_variance: np.ndarray  # (d,) descending

    @property
    def d_in(self) -> int:
        return len(self.mean)

    @property
    def d_out(self) -> int:
        return len(self.components)


def train_pca(
    points: DataFrame, d_out: int, vec_col: str = "embedding"
) -> PCAModel:
    """One-pass sufficient statistics + driver eigh."""
    import pandas as pd

    src = points.select(as_double_array(vec_col).alias("_v"))

    def fn(batches):
        # accumulate across the partition's Arrow batches and yield ONE
        # statistics row per partition — yielding per batch multiplied
        # the driver collect by (rows / arrow-batch-size) D^2-sized
        # rows, exactly the blowup the one-pass design exists to avoid
        n = 0
        s = None
        ss = None
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
            n += len(X)
            s = X.sum(axis=0) if s is None else s + X.sum(axis=0)
            g = X.T @ X
            ss = g if ss is None else ss + g
        if n:
            yield pd.DataFrame({"n": [n], "s": [s], "ss": [ss.ravel()]})

    parts = src.mapInPandas(
        fn, "n long, s array<double>, ss array<double>"
    ).collect()
    if not parts:
        raise ValueError("empty training set")
    dim = len(parts[0]["s"])
    if not 0 < d_out <= dim:
        raise ValueError(f"d_out must be in 1..{dim}, got {d_out}")
    n = sum(p["n"] for p in parts)
    s = np.sum([np.asarray(p["s"]) for p in parts], axis=0)
    ss = np.sum(
        [np.asarray(p["ss"]).reshape(dim, dim) for p in parts], axis=0
    )
    mean = s / n
    cov = ss / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh((cov + cov.T) / 2.0)
    order = np.argsort(evals)[::-1][:d_out]
    comps = evecs[:, order].T  # (d_out, D)
    # canonical sign: largest-|coef| entry of each component positive
    flip = np.sign(comps[np.arange(d_out), np.abs(comps).argmax(axis=1)])
    flip[flip == 0] = 1.0
    comps = comps * flip[:, None]
    return PCAModel(
        mean=mean,
        components=np.ascontiguousarray(comps),
        explained_variance=np.maximum(evals[order], 0.0),
    )


def project(
    points: DataFrame,
    model: PCAModel,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Append ``out_col`` = components @ (x - mean): one broadcast gemm
    per Arrow batch; every other column passes through."""
    import pandas as pd

    spark = points.sparkSession
    bc = spark.sparkContext.broadcast((model.mean, model.components))
    cols = points.columns
    src = points.withColumn("_v", as_double_array(vec_col))
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in src.schema.fields
        if f.name != "_v"
    ) + f", {out_col} array<double>"

    def fn(batches):
        mu, W = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
            P = (X - mu) @ W.T
            out = pdf.drop(columns=["_v"])
            out[out_col] = list(P)
            yield out

    return src.mapInPandas(fn, schema)
