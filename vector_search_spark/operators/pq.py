"""Product Quantization: train / encode / decode / ADC / SDC.

Reference surface (SURVEY.md §2.9, /root/reference/py/pq.py):
- ``TrainPQ`` (py/pq.py:220-240): per-subspace k-means via thread pool
  -> here ALL M subspaces train inside the same distributed passes
  (the thread fan-out becomes partition parallelism, SURVEY #42/#43).
- ``Encode``/``Decode`` (py/pq.py:242-295): per-subspace argmin / gather.
- ADC ``ComputeAsymmetricDistance`` (py/pq.py:297-324): query-to-code.
  The reference deliberately skips the per-query LUT (comment at
  py/pq.py:313); in batch we invert that: one (M x K) LUT per query,
  broadcast, then each candidate costs M gathers + a sum — the classic
  ADC formulation (py/PRODUCT_QUANTIZATION.md:157-169).
- SDC ``ComputeSymmetricDistance`` (py/pq.py:326-349): code-to-code via
  precomputed K x K centroid-distance tables per subspace (the
  lru_cache at py/hnsw.py:228-238 becomes a broadcast table).

Model layout: ``codebooks`` ndarray (M, K, D'), D' = D/M — the same
(M x K x D') driver-held structure as the reference (py/pq.py:35-40),
small enough to broadcast (256x256x... is a few MB at most).
Persistence mirrors Get/SetCodebooks (py/pq.py:351-381) as parquet.

Validation mirrors the reference: D % M == 0 (py/pq.py:32-33), train
set >= K distinct points per subspace, codes in [0, K).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_search_spark.functions.distance import as_double_array
from vector_search_spark.operators import bq as _bq
from vector_search_spark.operators import kmeans as _kmeans
from vector_search_spark.operators.bq import random_rotation  # noqa: F401
from vector_search_spark.operators.knn import (
    _collect_batch,
    _topk_rows,
    topk_per_query,
)


@dataclass
class PQModel:
    codebooks: np.ndarray  # (M, K, D')

    @property
    def m(self) -> int:
        return self.codebooks.shape[0]

    @property
    def k(self) -> int:
        return self.codebooks.shape[1]

    @property
    def dsub(self) -> int:
        return self.codebooks.shape[2]

    @property
    def dim(self) -> int:
        return self.m * self.dsub


def _check_dims(dim: int, m: int) -> int:
    if dim % m != 0:
        # same contract as reference py/pq.py:32-33
        raise ValueError(f"D={dim} must be divisible by M={m}")
    return dim // m


def model_from_vectors(vectors: np.ndarray, m: int, k: int) -> PQModel:
    """Deterministic codebooks: codebook[m_][k_] = subvector m_ of the
    k_-th given vector. Used by oracle-paired catalog queries (the SQL
    side reproduces the same slices); real training is train_pq."""
    if len(vectors) < k:
        raise ValueError(f"need >= {k} vectors, got {len(vectors)}")
    dim = vectors.shape[1]
    dsub = _check_dims(dim, m)
    cb = vectors[:k].reshape(k, m, dsub).transpose(1, 0, 2)
    return PQModel(np.ascontiguousarray(cb, dtype=np.float64))


def train_pq(
    points: DataFrame,
    m: int = 8,
    k: int = 256,
    seed: int = 42,
    max_iter: int = 100,
    tol: float = 1e-6,
    sample_size: int = 100_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[PQModel, int]:
    """Train all M codebooks in the same distributed Lloyd passes — the
    M-subspace caller of the one k-means trainer (``kmeans.lloyd`` is
    its one-subspace case).

    Init: seeded k-means++ (``kmeans._kmeanspp``) per subspace, one rng
    in subspace order, on one bounded driver-side sample (reference
    runs full k-means++ per subspace, py/pq.py:155; at scale
    init-on-sample is the honest equivalent). Then each Lloyd iteration
    is ONE mapInPandas pass over points (``kmeans._lloyd_pass``): per
    Arrow batch, for every subspace, BLAS-assign subvectors and emit
    partial (m, k, count, sum) rows; the driver combines (state:
    M*K*(D'+1) doubles). Empty codewords keep their value; convergence:
    max codeword shift over ALL subspaces <= tol (reference tol/iters:
    py/pq.py:140,197). Returns (model, n_iter).
    """
    src = points.select(as_double_array(vec_col).alias("_v")).cache()
    try:
        # dim comes from the sample itself — a separate first() probe
        # was one extra scheduled job per training call for a value the
        # sample collect already carries (optimization r17, guide §1.2:
        # don't compute things twice).
        X = _kmeans._training_sample(src, "_v", sample_size, seed)
        if not len(X):
            raise ValueError("empty training set")  # py/pq.py:226
        dsub = _check_dims(X.shape[1], m)
        if len(X) < k:
            raise ValueError(f"need >= {k} training points, got {len(X)}")
        Xs = X.reshape(len(X), m, dsub)
        rng = np.random.default_rng(seed)
        C = np.stack([_kmeans._kmeanspp(Xs[:, mi, :], k, rng) for mi in range(m)])
        res = _kmeans._lloyd_loop(
            C, lambda C: _kmeans._lloyd_pass(src, C), max_iter, tol
        )
        return PQModel(res.centroids), res.n_iter
    finally:
        src.unpersist()


def _code_matrix(col) -> np.ndarray:
    """(n, M) int64 code matrix from either physical layout: BinaryType
    (M bytes per row, K<=256) or array<smallint> (K>256)."""
    vals = col.to_numpy()
    if len(vals) and isinstance(vals[0], (bytes, bytearray)):
        return (
            np.frombuffer(b"".join(vals), dtype=np.uint8)
            .reshape(len(vals), -1)
            .astype(np.int64)
        )
    return np.vstack(vals).astype(np.int64)


def codes_as_int_array(
    df: DataFrame, code_col: str = "code", out_col: str | None = None
) -> DataFrame:
    """Surface a code column as ``array<int>`` regardless of physical
    layout — pure Catalyst (hex + conv per byte for BinaryType), used by
    catalog queries / oracles that explode codes to scalars."""
    out_col = out_col or code_col
    if dict(df.dtypes).get(code_col) == "binary":
        expr = (
            f"transform(sequence(1, length({code_col})), "
            f"i -> int(conv(substr(hex({code_col}), 2*i-1, 2), 16, 10)))"
        )
        return df.withColumn(out_col, F.expr(expr))
    return df.withColumn(out_col, F.col(code_col).cast("array<int>"))


def encode(
    points: DataFrame,
    model: PQModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace argmin -> M small codes (py/pq.py:242-274).

    Returns ``(id_col, code)``; codes in [0, K). For K<=256 ``code`` is
    ``BinaryType`` — exactly M bytes per vector, the at-rest layout
    SURVEY §1 specifies (code table size is the whole point of PQ at
    100 TB; array<smallint> was ~8x the bytes) — else
    ``array<smallint>``. Exact ties take the lowest code (strict-<
    first-wins, py/pq.py:267-271). One streaming pass, no shuffle.
    """
    m, k, dsub = model.codebooks.shape
    bc = points.sparkSession.sparkContext.broadcast(model.codebooks)
    src = points.select(
        F.col(id_col).alias("_id"), as_double_array(vec_col).alias("_v")
    )
    as_bytes = k <= 256

    def fn(batches):
        CC = bc.value
        for pdf, X in _kmeans._batch_vectors(batches):
            if X.shape[1] != m * dsub:
                raise ValueError(
                    f"vector dim {X.shape[1]} != model dim {m * dsub}"
                )
            Xs = X.reshape(len(X), m, dsub)
            codes = np.empty((len(X), m), dtype=np.int16)
            for mi in range(m):
                codes[:, mi] = _kmeans._nearest(Xs[:, mi, :], CC[mi])[0]
            out = (
                [r.tobytes() for r in codes.astype(np.uint8)]
                if as_bytes
                else list(codes)
            )
            yield pd.DataFrame(
                {
                    id_col: pdf["_id"].to_numpy(dtype=np.int64),
                    "code": out,
                }
            )

    ctype = "binary" if as_bytes else "array<smallint>"
    return src.mapInPandas(fn, f"{id_col} long, code {ctype}")


def decode(
    codes: DataFrame, model: PQModel, id_col: str = "vec_id", code_col: str = "code"
) -> DataFrame:
    """Gather centroids by code and concatenate (py/pq.py:276-295)."""
    m = model.m
    bc = codes.sparkSession.sparkContext.broadcast(model.codebooks)
    src = codes.select(F.col(id_col).alias("_id"), F.col(code_col).alias("_c"))

    def fn(batches):
        CC = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            cm = _code_matrix(pdf["_c"])
            vecs = np.concatenate(
                [CC[mi][cm[:, mi]] for mi in range(m)], axis=1
            )
            yield pd.DataFrame(
                {
                    id_col: pdf["_id"].to_numpy(dtype=np.int64),
                    "vec": list(vecs),
                }
            )

    return src.mapInPandas(fn, f"{id_col} long, vec array<double>")


def _adc_lut(codebooks: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """THE ADC lookup table: ``lut[q, m, k]`` = squared L2 from query
    ``q``'s m-th subvector to codeword ``k`` of subspace ``m``, shape
    (nq, M, K). Every ADC path (flat codes, routed cells, the
    compressed HNSW walk) builds its table here."""
    m, kcent, dsub = codebooks.shape
    Q3 = Q.reshape(len(Q), m, dsub)
    lut = np.empty((len(Q), m, kcent))
    for mi in range(m):
        lut[:, mi, :] = _kmeans._sq_dists(Q3[:, mi, :], codebooks[mi])
    np.maximum(lut, 0.0, out=lut)  # cancellation clamp
    return lut


def _adc_scores(lut: np.ndarray, codes) -> np.ndarray:
    """(nq, n) table-summed distances of a column of ``n`` codes
    against every query row of ``lut`` — M gathers per candidate."""
    cm = _code_matrix(codes)
    D = np.zeros((len(lut), len(cm)))
    for mi in range(lut.shape[1]):
        D += lut[:, mi, cm[:, mi]]
    return D


def _lut_topk(
    codes: DataFrame,
    qids: np.ndarray,
    lut: np.ndarray,
    k: int,
    id_col: str,
    code_col: str,
    exclude_self: bool = False,
) -> DataFrame:
    """Table-lookup top-k over a code table: broadcast ``(qids, lut)``,
    one pass over the codes, per-batch partial top-k, exact top-k
    window. ``adc_topk`` and ``sdc_topk`` differ only in the table."""
    bc = codes.sparkSession.sparkContext.broadcast((qids, lut))
    src = codes.select(F.col(id_col).alias("_id"), F.col(code_col).alias("_c"))

    def fn(batches):
        b_qids, b_lut = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            vids = pdf["_id"].to_numpy(dtype=np.int64)
            D = _adc_scores(b_lut, pdf["_c"])
            if exclude_self:
                D[b_qids[:, None] == vids[None, :]] = np.inf
            qi, vj = _topk_rows(vids, D, k)
            yield pd.DataFrame(
                {"query_id": b_qids[qi], "vec_id": vids[vj], "dist": D[qi, vj]}
            )

    scored = src.mapInPandas(fn, "query_id long, vec_id long, dist double")
    return topk_per_query(scored, k)


def adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    model: PQModel,
    k: int = 10,
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_col: str = "code",
) -> DataFrame:
    """Asymmetric-distance kNN over PQ codes (py/hnsw.py:217-226 ->
    py/pq.py:297-324), batch form.

    Builds one (M x K) LUT per query on the driver (tiny: nq*M*K
    doubles), broadcasts it, then one pass over the codes table: each
    candidate costs M LUT gathers + a sum; per-batch partial top-k
    keeps the shuffle at ~k rows per query per batch. Exact top-k
    window afterwards. Returns (query_id, vec_id, dist, rank).
    """
    qids, Q = _collect_batch(
        queries, query_id_col, query_vec_col, model.dim, "the model's"
    )
    return _lut_topk(
        codes, qids, _adc_lut(model.codebooks, Q), k, id_col, code_col
    )


def sdc_table(model: PQModel) -> np.ndarray:
    """(M, K, K) centroid-to-centroid squared distances per subspace —
    the broadcastable replacement for the reference's lru_cache
    (py/hnsw.py:228-238, py/pq.py:326-349)."""
    m, k, _ = model.codebooks.shape
    T = np.empty((m, k, k))
    for mi in range(m):
        C = model.codebooks[mi]
        T[mi] = np.maximum(_kmeans._sq_dists(C, C), 0.0)
    return T


def sdc_topk(
    query_codes: DataFrame,
    codes: DataFrame,
    model: PQModel,
    k: int = 10,
    exclude_self: bool = False,
    id_col: str = "vec_id",
    code_col: str = "code",
) -> DataFrame:
    """Symmetric (code-to-code) kNN: each query code's rows of the
    :func:`sdc_table` form its lookup table (``lut[q, m] =
    T[m, qcode[q, m]]``), then the same table scan as :func:`adc_topk`."""
    qpdf = query_codes.select(
        F.col(id_col).alias("qid"), F.col(code_col).alias("qc")
    ).toPandas()
    qcm = _code_matrix(qpdf["qc"])
    lut = sdc_table(model)[np.arange(model.m)[None, :], qcm]
    return _lut_topk(
        codes, qpdf["qid"].to_numpy(dtype=np.int64), lut, k, id_col,
        code_col, exclude_self=exclude_self,
    )


def rotate(
    points: DataFrame,
    R: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "rotated",
) -> DataFrame:
    """x -> R @ x per row through :func:`bq.rotate` (NULL vectors
    dropped) — the pre-processing stage in front of train_pq/encode for
    rotated (OPQ-style) codes. Returns (id_col, out_col)."""
    return _bq.rotate(
        points.select(id_col, vec_col), R, vec_col, out_col
    ).select(id_col, out_col)


# ---- persistence (Get/SetCodebooks, py/pq.py:351-381) ----


def save_model(spark: SparkSession, model: PQModel, path: str) -> None:
    m, k, dsub = model.codebooks.shape
    rows = [
        (mi, ki, [float(x) for x in model.codebooks[mi, ki]])
        for mi in range(m)
        for ki in range(k)
    ]
    spark.createDataFrame(rows, "m int, k int, centroid array<double>").write.mode(
        "overwrite"
    ).parquet(path)


def load_model(spark: SparkSession, path: str) -> PQModel:
    """Reopen a :func:`save_model` codebook parquet, read with the fixed
    schema it writes (no footer-inference job) and sorted on the driver
    (no range-sort jobs)."""
    pdf = (
        spark.read.schema("m int, k int, centroid array<double>")
        .parquet(path)
        .toPandas()
        .sort_values(["m", "k"])
    )
    m = int(pdf["m"].max()) + 1
    k = int(pdf["k"].max()) + 1
    # shape validation mirrors SetCodebooks (py/pq.py:351-371), element-
    # wise over the (m, k) grid: a row count alone passes a duplicated
    # (m, k) with a compensating gap and misaligns every later codebook
    grid = np.stack([np.repeat(np.arange(m), k), np.tile(np.arange(k), m)], 1)
    mk = pdf[["m", "k"]].to_numpy()
    if mk.shape != grid.shape or not (mk == grid).all():
        raise ValueError(
            f"ragged codebooks in {path}: {len(pdf)} (m, k) rows do not "
            f"cover the {m}x{k} grid once each"
        )
    dsub = len(pdf["centroid"].iloc[0])
    cb = np.vstack(pdf["centroid"].to_numpy()).astype(np.float64).reshape(m, k, dsub)
    return PQModel(cb)


def refine_topk(
    queries: DataFrame,
    codes: DataFrame,
    model: PQModel,
    points: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_col: str = "code",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage PQ search with exact re-ranking (FAISS ``IndexRefine``
    shape; the accuracy repair the reference's ADC notebook leaves on
    the table — py/PRODUCT_QUANTIZATION.md discusses the recall loss,
    py/hnsw.ipynb cell-6 measures it at 0.5069).

    Stage 1: :func:`adc_topk` scans the compressed codes for a
    ``shortlist``-sized candidate set per query (cheap: M LUT gathers
    per candidate). Stage 2 joins ONLY the shortlist back to the raw
    vectors and re-scores exactly, fixing quantization-induced rank
    inversions inside the shortlist.

    Scale shape: stage 2 touches nq x shortlist rows regardless of
    corpus size — the raw-vector join is an equi-join on vec_id against
    the (possibly huge) points table, which Catalyst executes as a
    broadcast of the tiny candidate side; exact scoring is the same
    fold the oracle replays. Returns (query_id, vec_id, dist, rank<=k)
    with EXACT distances.
    """
    from vector_search_spark.operators.ivf import _exact_rescore

    cand = adc_topk(
        queries, codes, model, k=shortlist,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
        id_col=id_col, code_col=code_col,
    ).select("query_id", "vec_id")
    scored = _exact_rescore(
        cand, queries, points, query_id_col, query_vec_col, id_col, vec_col
    ).select("query_id", "vec_id", "dist")
    return topk_per_query(scored, k)


# Not the shared k-means loop (kmeans._lloyd_loop), on purpose: like
# ivf.rebalance_index's 2-means, OPQ's inner Lloyd scores by broadcast
# differences rather than the BLAS kernel and stops on np.allclose, and
# at convergence it returns the NEW centroids (rebalance keeps the old
# ones) — moving either onto the shared loop would change its rows.
def _lloyd_numpy(X: np.ndarray, C: np.ndarray, iters: int) -> np.ndarray:
    """Small in-memory Lloyd refinement (first-min tie-break, empty
    cluster keeps its old centroid)."""
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        newC = C.copy()
        for j in range(len(C)):
            mask = a == j
            if mask.any():
                newC[j] = X[mask].mean(axis=0)
        if np.allclose(newC, C):
            return newC
        C = newC
    return C


def train_opq_rotation(
    points: DataFrame,
    m: int = 8,
    k: int = 256,
    opq_iters: int = 8,
    lloyd_iters: int = 8,
    sample_size: int = 100_000,
    seed: int = 42,
    vec_col: str = "embedding",
) -> tuple[np.ndarray, PQModel, list[float]]:
    """OPQ: jointly train an orthonormal rotation R and PQ codebooks by
    alternating minimization (Ge et al., CVPR 2013, the non-parametric
    OPQ that FAISS ships as the OPQMatrix stage):

      repeat: (1) fix R, train PQ on the rotated sample X @ R.T;
              (2) fix codebooks, solve the orthogonal Procrustes
                  problem  min_R ||X R^T − Y||_F  (Y = the PQ
                  reconstructions) via one SVD of X^T Y.

    R is initialized to the IDENTITY, so iteration 0's objective equals
    plain PQ's — alternating minimization is then monotone
    non-increasing on the sample, i.e. trained-OPQ reconstruction error
    is never worse than plain PQ where it was trained (the returned
    ``errs`` history is asserted monotone in tests).

    Scale shape: rotation + codebooks are a model (D² + M·K·D/M
    doubles) trained on a bounded driver-side sample — the same FAISS
    practice as train_coarse — then applied distributed
    (:func:`rotate` gemm pass → :func:`encode`); no unbounded driver
    state. Returns (R, model, errs).
    """
    X = _kmeans._training_sample(points, vec_col, sample_size, seed)
    if len(X) < k:
        raise ValueError(f"need >= {k} training points, got {len(X)}")
    dim = X.shape[1]
    dsub = _check_dims(dim, m)
    rng = np.random.default_rng(seed)

    R = np.eye(dim)
    C = None
    errs: list[float] = []
    for _ in range(max(1, opq_iters)):
        Xr = X @ R.T
        Xs = Xr.reshape(len(X), m, dsub)
        if C is None:
            C = np.empty((m, k, dsub))
            for mi in range(m):
                C[mi] = _kmeans._kmeanspp(Xs[:, mi, :], k, rng)
        for mi in range(m):
            C[mi] = _lloyd_numpy(Xs[:, mi, :], C[mi], lloyd_iters)
        # reconstruct in rotated space
        Y = np.empty_like(Xr)
        for mi in range(m):
            d = (
                (Xs[:, mi, None, :] - C[mi][None, :, :]) ** 2
            ).sum(axis=2)
            Y[:, mi * dsub : (mi + 1) * dsub] = C[mi][d.argmin(axis=1)]
        errs.append(float(((Xr - Y) ** 2).sum(axis=1).mean()))
        # orthogonal Procrustes: min_R ||X R^T - Y||_F
        U, _s, Vt = np.linalg.svd(X.T @ Y)
        R = (U @ Vt).T
    return np.ascontiguousarray(R), PQModel(C), errs
