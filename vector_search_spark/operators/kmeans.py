"""K-means on DataFrames (reference py/pq.py:80-206 — _KMeansPlusPlus +
_KMeans/Lloyd), re-shaped for Spark scale — and the one quantizer
trainer of the package: the coarse cells (``train_coarse``, k-means,
k-means||) and the PQ codebooks (``pq.train_pq``, ``pq.encode``, OPQ's
init) all run on the parts below, as the reference trains every PQ
subspace with its one k-means class.

Covers SURVEY.md §2 #15 (argmin assignment), #16 (centroid mean with
empty-cluster-keeps-old, reference py/pq.py:181-183), #17 (cluster
sizes), #19 (convergence max-shift, tol 1e-6, reference py/pq.py:197),
#40 (k-means++ init), #41 (Lloyd loop, <=100 iters, py/pq.py:140).

One copy of each part
---------------------
- ``_nearest`` (over ``_sq_dists``) — THE nearest-centroid kernel:
  BLAS ``‖x‖² + ‖c‖² − 2x·c``, unclamped, first minimum wins, so exact
  ties go to the lowest id like the reference's strict-< loops
  (py/pq.py:167-170). Used by ``assign``, the Lloyd pass, the driver
  Lloyd, k-means||'s cost / sample / weight passes and ``pq.encode``;
  ``graph.route_to_cells`` and the PQ lookup tables use ``_sq_dists``.
- ``_kmeanspp`` — THE D² seeding (py/pq.py:80-138), optionally
  weighted: ``kmeans_plus_plus``, ``train_coarse``, k-means||'s final
  step, ``pq.train_pq`` and ``pq.train_opq_rotation``'s init.
- ``_lloyd_loop`` — THE Lloyd update and stop rule: an empty cluster
  keeps its centroid, stop once the max squared shift <= tol. It runs
  over a (k, D) centroid matrix or an (M, K, D') codebook stack.
- ``_lloyd_pass`` — THE distributed Lloyd step, for ``lloyd`` (M = 1)
  and ``pq.train_pq`` (M subspaces). ``_np_weighted_kmeans`` is the
  driver-side trainer (``train_coarse`` with unit weights, k-means||'s
  weighted candidates).
- ``_training_sample`` — THE bounded training sample
  (``kmeans_plus_plus``, ``pq.train_pq``, ``pq.train_opq_rotation``).

Execution shape
---------------
Centroids are a tiny model (K x D <= 256 x 64 doubles) — exactly like
the reference, which holds them on the "driver" (a Python list). Each
distributed Lloyd iteration is ONE pass:

    mapInPandas over points:
        BLAS distance matrix batch x K (per subspace) -> argmin
        -> per-batch partial (m, k, count, component sums)
    -> collect partials (O(batches x M x K) tiny rows) -> combine on driver

No shuffle of point rows at all; the only data movement per iteration
is the partial-sum rows. This is the map-side-combine formulation of
the groupBy-mean the logical plan implies, and it survives 100 TB: the
pass is embarrassingly parallel and the reduce state is M x K x (D'+1)
doubles per batch.

Init: ``init_first_k`` (deterministic, oracle-friendly) and
``kmeans_plus_plus`` — faithful D^2-weighted sampling (py/pq.py:80-138)
run with seeded numpy on a bounded sample pulled to the driver; at
100 TB you init on a sample (or switch to k-means||), never on the full
set — the reference's sequential without-replacement draw is inherently
driver-side.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_search_spark.functions.distance import as_double_array


def _collect_matrix(
    df: DataFrame, id_col: str, vec_col: str, sort_by_id: bool = False
) -> tuple[np.ndarray, np.ndarray]:
    """Collect (ids, matrix). ``sort_by_id=True`` sorts DRIVER-side —
    for the model-sized collects this helper exists for, a distributed
    orderBy before the collect costs a whole range-sort stage pair
    (sampling job + sort job) just to order a handful of rows (r17
    optimization, guide §1.2)."""
    pdf = df.select(
        F.col(id_col).alias("_id"), as_double_array(vec_col).alias("_v")
    ).toPandas()
    ids = pdf["_id"].to_numpy(dtype=np.int64)
    mat = (
        np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
        if len(pdf)
        else np.zeros((0, 0))
    )
    if sort_by_id and len(ids):
        order = np.argsort(ids, kind="stable")
        ids, mat = ids[order], mat[order]
    return ids, mat


def _training_sample(
    df: DataFrame, vec_col: str, sample_size: int, seed: int
) -> np.ndarray:
    """At most ``sample_size`` of ``df``'s vectors as a driver matrix —
    the bounded sample every driver-side init trains on (a seeded
    Bernoulli draw of ~1.1x the target fraction, then a limit)."""
    n = df.count()
    if n > sample_size:
        df = df.sample(fraction=min(1.0, sample_size / n * 1.1), seed=seed)
        df = df.limit(sample_size)
    pdf = df.select(as_double_array(vec_col).alias("_v")).toPandas()
    if not len(pdf):
        return np.zeros((0, 0))
    return np.vstack(pdf["_v"].to_numpy()).astype(np.float64)


def _batch_vectors(batches, col: str = "_v"):
    """``(pdf, X)`` per non-empty Arrow batch of a mapInPandas input,
    ``X`` the batch's vector column as an (n, D) float64 matrix."""
    for pdf in batches:
        if len(pdf):
            yield pdf, np.vstack(pdf[col].to_numpy()).astype(np.float64)


def _sq_dists(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, k) squared L2 distances ``‖x‖² + ‖c‖² − 2x·c`` (one BLAS
    gemm). Unclamped: cancellation can leave tiny negative values, and
    clamping them to 0 before an argmin would merge them into ties."""
    return (
        (X * X).sum(axis=1)[:, None]
        + (C * C).sum(axis=1)[None, :]
        - 2.0 * (X @ C.T)
    )


def _nearest(X: np.ndarray, C: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Each row's nearest centroid id and its (unclamped) squared
    distance. np.argmin returns the first minimum, so exact ties go to
    the lowest centroid id (py/pq.py:167-170)."""
    D = _sq_dists(X, C)
    cid = D.argmin(axis=1)
    return cid, D[np.arange(len(D)), cid]


def _kmeanspp(
    X: np.ndarray, k: int, rng: np.random.Generator, w: np.ndarray | None = None
) -> np.ndarray:
    """Seeded D² seeding (py/pq.py:80-138): the first centre uniform,
    each next one drawn with probability proportional to ``w * d2`` —
    ``d2`` the squared distance to the nearest chosen centre, ``w`` the
    row weights (1 when None). A chosen row has ``d2 == 0``; when the
    whole mass is 0 (fewer distinct weighted rows than k) the next
    centre is the first row not yet chosen rather than a random one."""
    n = len(X)
    chosen = [int(rng.integers(0, n))]
    d2 = ((X - X[chosen[0]]) ** 2).sum(axis=1)
    for _ in range(1, k):
        p = d2 if w is None else w * d2
        total = float(p.sum())
        if total <= 0.0:
            chosen.append(int(np.setdiff1d(np.arange(n), chosen)[0]))
            continue
        r = rng.uniform(0.0, total)
        idx = min(int(np.searchsorted(np.cumsum(p), r, side="right")), n - 1)
        chosen.append(idx)
        d2 = np.minimum(d2, ((X - X[idx]) ** 2).sum(axis=1))
    return X[chosen].copy()


@dataclass
class LloydResult:
    centroids: np.ndarray  # (k, D)
    n_iter: int
    max_shift: float
    converged: bool


def _lloyd_loop(C: np.ndarray, step, max_iter: int, tol: float) -> LloydResult:
    """Lloyd iterations over a centroid matrix (k, D) or a codebook
    stack (M, K, D'). ``step(C)`` returns per-centroid ``(count, sum)``
    of the rows nearest to it (``count`` a weight sum on the driver).
    A centroid with a positive count moves to ``sum / count``, an empty
    one keeps its value (py/pq.py:181-183); stop once the max squared
    shift over all centroids is <= ``tol`` (py/pq.py:197)."""
    it, shift = 0, float("inf")
    for it in range(1, max_iter + 1):
        cnt, sums = step(C)
        newC = C.copy()
        nz = cnt > 0
        newC[nz] = sums[nz] / cnt[nz][:, None]
        shift = float(((C - newC) ** 2).sum(axis=-1).max())
        C = newC
        if shift <= tol:
            return LloydResult(C, it, shift, True)
    return LloydResult(C, it, shift, False)


def _lloyd_pass(src: DataFrame, C: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """One distributed Lloyd step for a codebook stack ``C`` (M, K, D')
    over the ``_v`` vectors of ``src``: per Arrow batch, each subspace's
    subvectors go to their nearest codeword and the batch emits partial
    ``(m, k, cnt, vsum)`` rows; the driver adds them up. Returns
    ``(count (M, K), sums (M, K, D'))``."""
    m, k, dsub = C.shape
    bc = src.sparkSession.sparkContext.broadcast(np.ascontiguousarray(C))
    grid = {
        "m": np.repeat(np.arange(m, dtype=np.int32), k),
        "k": np.tile(np.arange(k, dtype=np.int32), m),
    }

    def fn(batches):
        CC = bc.value
        for _, X in _batch_vectors(batches):
            Xs = X.reshape(len(X), m, dsub)
            cnt = np.empty((m, k), dtype=np.int64)
            sums = np.zeros_like(CC)
            for mi in range(m):
                cid, _ = _nearest(Xs[:, mi, :], CC[mi])
                cnt[mi] = np.bincount(cid, minlength=k)
                np.add.at(sums[mi], cid, Xs[:, mi, :])
            yield pd.DataFrame(
                {**grid, "cnt": cnt.reshape(-1), "vsum": list(sums.reshape(-1, dsub))}
            )

    partials = src.mapInPandas(
        fn, "m int, k int, cnt long, vsum array<double>"
    ).toPandas()
    cnt = np.zeros((m, k), dtype=np.int64)
    sums = np.zeros_like(C)
    if len(partials):
        mk = (
            partials["m"].to_numpy(dtype=np.int64),
            partials["k"].to_numpy(dtype=np.int64),
        )
        np.add.at(cnt, mk, partials["cnt"].to_numpy(dtype=np.int64))
        # same row order as a python loop -> bit-identical float sums
        np.add.at(sums, mk, np.vstack(partials["vsum"].to_numpy()))
    return cnt, sums


def _np_weighted_kmeans(
    X: np.ndarray,
    w: np.ndarray,
    k: int,
    seed: int,
    iters: int = 25,
    tol: float = 1e-6,
) -> np.ndarray:
    """Driver-local weighted k-means++ + Lloyd on an in-memory matrix:
    ``train_coarse``'s bounded sample (unit weights) and the final step
    of k-means|| (the small candidate set, each candidate weighted by
    how many corpus points it attracts)."""
    C = _kmeanspp(X, k, np.random.default_rng(seed), w)

    def step(C):
        cid, _ = _nearest(X, C)
        cnt = np.bincount(cid, weights=w, minlength=len(C))
        sums = np.zeros_like(C)
        # one numpy reduction per cluster, not the distributed pass's
        # row-order np.add.at: the two orders round differently
        for j in np.flatnonzero(cnt):
            mask = cid == j
            sums[j] = (X[mask] * w[mask][:, None]).sum(axis=0)
        return cnt, sums

    return _lloyd_loop(C, step, iters, tol).centroids


def init_first_k(points: DataFrame, k: int, id_col="vec_id", vec_col="embedding") -> np.ndarray:
    """Deterministic init: the k lowest-id points, ordered by id."""
    _, mat = _collect_matrix(
        points.orderBy(id_col).limit(k), id_col, vec_col
    )
    if len(mat) < k:
        raise ValueError(f"need >= {k} points, got {len(mat)}")
    return mat


def kmeans_plus_plus(
    points: DataFrame,
    k: int,
    seed: int = 42,
    sample_size: int = 100_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Seeded k-means++ (D^2-weighted, without replacement) on a sample.

    Faithful to reference py/pq.py:80-138: first centroid uniform, each
    next drawn with probability proportional to squared distance to the
    nearest chosen centroid; already-chosen points excluded. Only the
    vectors are read (``id_col`` is accepted for the common signature).
    """
    X = _training_sample(points, vec_col, sample_size, seed)
    if len(X) < k:
        raise ValueError(f"need >= {k} points after sampling, got {len(X)}")
    return _kmeanspp(X, k, np.random.default_rng(seed))


def assign(
    points: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_vec: bool = False,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Assign each point to its nearest centroid (squared L2).

    Returns ``(id_col, cluster_id, dist)`` (+ the vector when
    ``with_vec``, + ``carry_cols`` passed through unchanged — e.g. an
    event-time column for streaming callers; the single routing kernel
    serves every consumer, so tie-breaks and dtypes can't drift
    between, say, the index writer and the arrival monitor). One
    streaming pass, BLAS per Arrow batch, no shuffle.
    """
    spark = points.sparkSession
    bc = spark.sparkContext.broadcast(np.ascontiguousarray(centroids, dtype=np.float64))
    src = points.select(
        F.col(id_col).alias("_id"),
        as_double_array(vec_col).alias("_v"),
        *[F.col(c) for c in carry_cols],
    )
    carry_schema = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in src.schema.fields
        if f.name in carry_cols
    )
    out_schema = (
        f"{id_col} long, cluster_id int, dist double"
        + (", vec array<double>" if with_vec else "")
        + carry_schema
    )

    def fn(batches):
        C = bc.value
        for pdf, X in _batch_vectors(batches):
            cid, d = _nearest(X, C)
            cols = {
                id_col: pdf["_id"].to_numpy(dtype=np.int64),
                "cluster_id": cid.astype(np.int32),
                "dist": np.maximum(d, 0.0),
            }
            if with_vec:
                cols["vec"] = list(X)
            for c in carry_cols:
                # positional pass-through: a raw Series would align by
                # pandas index against the numpy columns, which is only
                # safe while batches carry a default RangeIndex
                cols[c] = pdf[c].to_numpy()
            yield pd.DataFrame(cols)

    return src.mapInPandas(fn, out_schema)


def train_coarse(
    points: DataFrame,
    k: int,
    seed: int = 42,
    sample_per_centroid: int = 256,
    iters: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Coarse-quantizer centroids from a BOUNDED sample, trained on the
    driver. This is the scale-honest path when centroids only partition
    the space (IVF cells, graph-build blocking, shard routing): a coarse
    quantizer needs O(k * a few hundred) training points regardless of
    table size — FAISS caps IVF training at ~256 samples/centroid — so
    the cluster does ONE bounded-collect job and Lloyd runs in
    microseconds locally. The distributed ``lloyd`` below remains the
    full-data trainer (kmeans_train / kmeans_lloyd catalog queries);
    this replaces it where its output only routes rows to cells.
    """
    cap = max(k * sample_per_centroid, 2 * k)
    # deterministic pseudo-random bounded sample: order by a seeded hash
    # of the id — TakeOrderedAndProject keeps `cap` rows per task, so no
    # full sort and no driver blow-up however large the table is
    _, X = _collect_matrix(
        points.orderBy(F.hash(F.col(id_col), F.lit(seed))).limit(cap),
        id_col,
        vec_col,
    )
    if len(X) < k:
        raise ValueError(f"need >= {k} points, got {len(X)}")
    return _np_weighted_kmeans(X, np.ones(len(X)), k, seed, iters=iters)


def lloyd(
    points: DataFrame,
    init: np.ndarray,
    max_iter: int = 100,
    tol: float = 1e-6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> LloydResult:
    """Lloyd iterations until max centroid shift (squared L2) <= tol.

    Defaults mirror the reference (py/pq.py:140,197). Empty clusters
    keep their previous centroid (py/pq.py:181-183). The one-subspace
    case of the distributed loop ``pq.train_pq`` runs.
    """
    src = points.select(as_double_array(vec_col).alias("_v")).cache()
    try:
        C = np.ascontiguousarray(init, dtype=np.float64)[None]
        res = _lloyd_loop(C, lambda C: _lloyd_pass(src, C), max_iter, tol)
        return replace(res, centroids=res.centroids[0])
    finally:
        src.unpersist()


def centroids_df(spark, C: np.ndarray) -> DataFrame:
    """Centroid matrix as a (cluster_id, centroid) DataFrame (model sink)."""
    rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(C)]
    return spark.createDataFrame(rows, "cluster_id int, centroid array<double>")


def load_centroids(df: DataFrame) -> np.ndarray:
    """A (cluster_id, centroid) model table back as the (NC, D) float64
    matrix. Model-sized driver collect, sorted on the driver (no
    range-sort jobs); the ids must be dense 0..NC-1, checked
    element-wise — a duplicate with a compensating gap (``[0, 1, 1,
    3]``) would silently misalign every row after it."""
    pdf = df.toPandas().sort_values("cluster_id")
    ids = pdf["cluster_id"].to_numpy()
    if len(ids) == 0 or not (ids == np.arange(len(ids))).all():
        raise ValueError(f"non-dense centroid ids {ids.tolist()[:16]}")
    return np.vstack(pdf["centroid"].to_numpy()).astype(np.float64)


def _splitmix64_uniform(
    ids: np.ndarray, seed: int, salt: int
) -> np.ndarray:
    """Deterministic per-id uniform in [0,1): vectorized splitmix64 of
    (seed, salt, id). Engine/partitioning-independent, no per-row
    Python — the draw for k-means||'s Bernoulli oversampling."""
    mask = np.uint64(0xFFFFFFFFFFFFFFFF)
    with np.errstate(over="ignore"):
        x = ids.astype(np.uint64, copy=True)
        x ^= np.uint64((seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
        x ^= np.uint64(((salt + 1) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF)
        x = (x + np.uint64(0x9E3779B97F4A7C15)) & mask
        z = x
        z ^= z >> np.uint64(30)
        z = (z * np.uint64(0xBF58476D1CE4E5B9)) & mask
        z ^= z >> np.uint64(27)
        z = (z * np.uint64(0x94D049BB133111EB)) & mask
        z ^= z >> np.uint64(31)
    return z.astype(np.float64) / 2.0**64


def kmeans_parallel_init(
    points: DataFrame,
    k: int,
    rounds: int = 5,
    oversample: float | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """k-means|| initialization (Bahmani et al., VLDB 2012) — the
    SCALE path for full-data init that SURVEY §2 #40 defers to: where
    k-means++ needs k strictly sequential full-data passes (its draws
    are conditionally dependent), k-means|| oversamples ~l=2k candidates
    per round for O(log phi)~5 rounds, then solves weighted k-means on
    the tiny candidate set locally. This is how Spark MLlib initializes
    KMeans, re-derived here on DataFrames.

    Every distributed pass is the same shape as Lloyd's: mapInPandas
    over the cached corpus, per-batch BLAS distances against the
    broadcast candidate matrix, O(candidates) rows back. The Bernoulli
    draws are DETERMINISTIC (md5 of seed/round/id -> uniform), so the
    init is reproducible across cluster sizes and reruns — no
    partition-seeded RNG.

    Collected state: the candidate set (~1 + l*rounds rows of D
    doubles) — model-sized, never O(N).
    """
    from vector_search_spark.functions import texts as T

    l = float(oversample if oversample is not None else 2 * k)
    spark = points.sparkSession
    src = points.select(
        F.col(id_col).alias("_id"), as_double_array(vec_col).alias("_v")
    ).cache()
    try:
        # first candidate: deterministic min-hash-of-id draw (uniform
        # over rows, stable under partitioning). FUSED with the row
        # count into one aggregate job (min_by == the old
        # orderBy(_h, _id).limit(1) row; the struct comparison breaks
        # hash ties by _id exactly like the old sort) — was two
        # full-scan jobs for one pass of information (r17, guide §1.2).
        h = T.h64(
            F.concat(F.lit(f"kmi:{seed}:"), F.col("_id").cast("string"))
        )
        probe = src.select(
            F.count(F.lit(1)).alias("_n"),
            F.min_by(
                F.col("_v"), F.struct(h.alias("_h"), F.col("_id"))
            ).alias("_fv"),
        ).collect()[0]
        n = probe["_n"]
        if n == 0:
            raise ValueError("empty input")
        C = np.asarray([probe["_fv"]], dtype=np.float64)

        for rnd_i in range(rounds):
            bc = spark.sparkContext.broadcast(C)
            # pass 1: phi = sum of min-d2 to current C
            def cost_fn(batches):
                CC = bc.value
                for _, X in _batch_vectors(batches):
                    d2 = np.maximum(_nearest(X, CC)[1], 0.0)
                    yield pd.DataFrame({"phi": [float(d2.sum())]})

            phi = float(
                src.mapInPandas(cost_fn, "phi double")
                .agg(F.sum("phi"))
                .collect()[0][0]
            )
            if phi <= 0.0:
                break
            # pass 2: Bernoulli-sample candidates with p = min(1, l*d2/phi),
            # uniform u from a VECTORIZED splitmix64 of (seed, round, id)
            # — deterministic across reruns/partitionings, no per-row
            # Python (numpy end to end).
            def sample_fn(batches, _r=rnd_i, _phi=phi):
                CC = bc.value
                for pdf, X in _batch_vectors(batches):
                    d2 = np.maximum(_nearest(X, CC)[1], 0.0)
                    p = np.minimum(1.0, l * d2 / _phi)
                    u = _splitmix64_uniform(
                        pdf["_id"].to_numpy(dtype=np.int64), seed, _r
                    )
                    sel = u < p
                    if sel.any():
                        yield pdf.loc[sel, ["_id", "_v"]]

            new = src.mapInPandas(sample_fn, "_id long, _v array<double>").toPandas()
            if len(new):
                C = np.vstack(
                    [C, np.vstack(new["_v"].to_numpy()).astype(np.float64)]
                )
        # weight pass: how many points each candidate attracts
        bc = spark.sparkContext.broadcast(C)

        def weight_fn(batches):
            CC = bc.value
            nc = len(CC)
            for _, X in _batch_vectors(batches):
                yield pd.DataFrame(
                    {
                        "cand": np.arange(nc, dtype=np.int64),
                        "w": np.bincount(_nearest(X, CC)[0], minlength=nc),
                    }
                )

        wp = (
            src.mapInPandas(weight_fn, "cand long, w long")
            .groupBy("cand")
            .agg(F.sum("w").alias("w"))
            .toPandas()
        )
        w = np.zeros(len(C), dtype=np.float64)
        w[wp["cand"].to_numpy(dtype=np.int64)] = wp["w"].to_numpy(dtype=np.float64)
        if len(C) < k:
            raise ValueError(
                f"k-means|| produced {len(C)} < k={k} candidates; "
                "raise rounds/oversample"
            )
        return _np_weighted_kmeans(C, w, k, seed)
    finally:
        src.unpersist()
