"""K-means on DataFrames (reference py/pq.py:80-206 — _KMeansPlusPlus +
_KMeans/Lloyd), re-shaped for Spark scale.

Covers SURVEY.md §2 #15 (argmin assignment), #16 (centroid mean with
empty-cluster-keeps-old, reference py/pq.py:181-183), #17 (cluster
sizes), #19 (convergence max-shift, tol 1e-6, reference py/pq.py:197),
#40 (k-means++ init), #41 (Lloyd loop, <=100 iters, py/pq.py:140).

Execution shape
---------------
Centroids are a tiny model (K x D <= 256 x 64 doubles) — exactly like
the reference, which holds them on the "driver" (a Python list). Each
Lloyd iteration is ONE distributed pass:

    mapInPandas over points:
        BLAS distance matrix batch x K -> argmin assignment
        -> per-batch partial (cluster_id, count, component sums)
    -> collect partials (O(batches x K) tiny rows) -> combine on driver

No shuffle of point rows at all; the only data movement per iteration
is the partial-sum rows. This is the map-side-combine formulation of
the groupBy-mean the logical plan implies, and it survives 100 TB: the
pass is embarrassingly parallel and the reduce state is K x (D+1)
doubles per batch.

Tie-breaking matches the reference's strict-< first-wins loops
(py/pq.py:167-170): centroids are ordered by cluster_id and np.argmin
returns the first minimal index, so exact ties go to the lowest id.

Init: ``init_first_k`` (deterministic, oracle-friendly) and
``kmeans_plus_plus`` — faithful D^2-weighted sampling (py/pq.py:80-138)
run with seeded numpy on a bounded sample pulled to the driver; at
100 TB you init on a sample (or switch to k-means||), never on the full
set — the reference's sequential without-replacement draw is inherently
driver-side.
"""

from __future__ import annotations

from dataclasses import dataclass

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
    nearest chosen centroid; already-chosen points excluded.
    """
    n = points.count()
    if n > sample_size:
        frac = min(1.0, sample_size / n * 1.1)
        points = points.sample(fraction=frac, seed=seed).limit(sample_size)
    ids, X = _collect_matrix(points, id_col, vec_col)
    if len(X) < k:
        raise ValueError(f"need >= {k} points after sampling, got {len(X)}")
    rng = np.random.default_rng(seed)
    chosen = [int(rng.integers(0, len(X)))]
    d2 = ((X - X[chosen[0]]) ** 2).sum(axis=1)
    for _ in range(1, k):
        d2[chosen] = 0.0
        total = d2.sum()
        if total <= 0.0:  # all remaining points identical to a centroid
            remaining = np.setdiff1d(np.arange(len(X)), chosen)
            chosen.append(int(remaining[0]))
            continue
        r = rng.uniform(0.0, total)
        idx = int(np.searchsorted(np.cumsum(d2), r, side="right"))
        idx = min(idx, len(X) - 1)
        chosen.append(idx)
        d2 = np.minimum(d2, ((X - X[idx]) ** 2).sum(axis=1))
    return X[chosen].copy()


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
        cn2 = (C * C).sum(axis=1)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
            D = (X * X).sum(axis=1)[:, None] + cn2[None, :] - 2.0 * (X @ C.T)
            cid = D.argmin(axis=1)  # first minimal index == lowest cluster_id
            cols = {
                id_col: pdf["_id"].to_numpy(dtype=np.int64),
                "cluster_id": cid.astype(np.int32),
                "dist": np.maximum(D[np.arange(len(X)), cid], 0.0),
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


def _np_kmeans(
    X: np.ndarray, k: int, seed: int, iters: int = 25, tol: float = 1e-6
) -> np.ndarray:
    """Driver-local k-means++ + Lloyd on an in-memory sample."""
    rng = np.random.default_rng(seed)
    n = len(X)
    chosen = [int(rng.integers(0, n))]
    d2 = ((X - X[chosen[0]]) ** 2).sum(axis=1)
    for _ in range(1, k):
        total = float(d2.sum())
        if total <= 0.0:
            chosen.append(int(rng.integers(0, n)))
            continue
        r = rng.uniform(0.0, total)
        idx = min(int(np.searchsorted(np.cumsum(d2), r, side="right")), n - 1)
        chosen.append(idx)
        d2 = np.minimum(d2, ((X - X[idx]) ** 2).sum(axis=1))
    C = X[chosen].copy()
    for _ in range(iters):
        D = (
            (X * X).sum(axis=1)[:, None]
            + (C * C).sum(axis=1)[None, :]
            - 2.0 * (X @ C.T)
        )
        cid = D.argmin(axis=1)
        newC = C.copy()
        for j in range(k):
            mask = cid == j
            if mask.any():
                newC[j] = X[mask].mean(axis=0)
        shift = float(((C - newC) ** 2).sum(axis=1).max())
        C = newC
        if shift <= tol:
            break
    return C


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
    microseconds locally. The distributed ``lloyd`` above remains the
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
    return _np_kmeans(X, k, seed, iters=iters)


@dataclass
class LloydResult:
    centroids: np.ndarray  # (k, D)
    n_iter: int
    max_shift: float
    converged: bool


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
    keep their previous centroid (py/pq.py:181-183).
    """
    spark = points.sparkSession
    src = points.select(as_double_array(vec_col).alias("_v")).cache()
    try:
        k, dim = init.shape
        C = np.ascontiguousarray(init, dtype=np.float64)
        it, shift = 0, float("inf")
        for it in range(1, max_iter + 1):
            cnt, sums = _partial_assign_sums(spark, src, C)
            newC = C.copy()
            nonempty = cnt > 0
            newC[nonempty] = sums[nonempty] / cnt[nonempty, None]
            shift = float(((C - newC) ** 2).sum(axis=1).max())
            C = newC
            if shift <= tol:
                return LloydResult(C, it, shift, True)
        return LloydResult(C, it, shift, False)
    finally:
        src.unpersist()


def _partial_assign_sums(spark, src: DataFrame, C: np.ndarray):
    """One pass: per-batch assignment + partial (count, sum) per cluster."""
    k, dim = C.shape
    bc = spark.sparkContext.broadcast(C)

    def fn(batches):
        CC = bc.value
        cn2 = (CC * CC).sum(axis=1)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
            D = (X * X).sum(axis=1)[:, None] + cn2[None, :] - 2.0 * (X @ CC.T)
            cid = D.argmin(axis=1)
            cnt = np.bincount(cid, minlength=k).astype(np.int64)
            sums = np.zeros_like(CC)
            np.add.at(sums, cid, X)
            yield pd.DataFrame(
                {
                    "cluster_id": np.arange(k, dtype=np.int32),
                    "cnt": cnt,
                    "vsum": list(sums),
                }
            )

    partials = src.mapInPandas(
        fn, "cluster_id int, cnt long, vsum array<double>"
    ).toPandas()
    cnt = np.zeros(k, dtype=np.int64)
    sums = np.zeros_like(C)
    if len(partials):
        cid = partials["cluster_id"].to_numpy(dtype=np.int64)
        np.add.at(cnt, cid, partials["cnt"].to_numpy(dtype=np.int64))
        # same row order as a python loop -> bit-identical float sums
        np.add.at(sums, cid, np.vstack(partials["vsum"].to_numpy()))
    return cnt, sums


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


def _np_weighted_kmeans(
    X: np.ndarray,
    w: np.ndarray,
    k: int,
    seed: int,
    iters: int = 25,
    tol: float = 1e-6,
) -> np.ndarray:
    """Driver-local WEIGHTED k-means++ + Lloyd (the final reduction step
    of k-means||: cluster the small candidate set, each candidate
    weighted by how many corpus points it attracts)."""
    rng = np.random.default_rng(seed)
    n = len(X)
    chosen = [int(rng.integers(0, n))]
    d2 = ((X - X[chosen[0]]) ** 2).sum(axis=1)
    for _ in range(1, k):
        wd = w * d2
        total = float(wd.sum())
        if total <= 0.0:
            chosen.append(int(rng.integers(0, n)))
            continue
        r = rng.uniform(0.0, total)
        idx = min(int(np.searchsorted(np.cumsum(wd), r, side="right")), n - 1)
        chosen.append(idx)
        d2 = np.minimum(d2, ((X - X[idx]) ** 2).sum(axis=1))
    C = X[chosen].copy()
    for _ in range(iters):
        D = (
            (X * X).sum(axis=1)[:, None]
            + (C * C).sum(axis=1)[None, :]
            - 2.0 * (X @ C.T)
        )
        cid = D.argmin(axis=1)
        newC = C.copy()
        for j in range(k):
            mask = cid == j
            if mask.any():
                wj = w[mask]
                newC[j] = (X[mask] * wj[:, None]).sum(axis=0) / wj.sum()
        shift = float(((C - newC) ** 2).sum(axis=1).max())
        C = newC
        if shift <= tol:
            break
    return C


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
                cn2 = (CC * CC).sum(axis=1)
                for pdf in batches:
                    if not len(pdf):
                        continue
                    X = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
                    D = (
                        (X * X).sum(axis=1)[:, None]
                        + cn2[None, :]
                        - 2.0 * (X @ CC.T)
                    )
                    d2 = np.maximum(D.min(axis=1), 0.0)
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
                cn2 = (CC * CC).sum(axis=1)
                for pdf in batches:
                    if not len(pdf):
                        continue
                    X = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
                    ids = pdf["_id"].to_numpy(dtype=np.int64)
                    D = (
                        (X * X).sum(axis=1)[:, None]
                        + cn2[None, :]
                        - 2.0 * (X @ CC.T)
                    )
                    d2 = np.maximum(D.min(axis=1), 0.0)
                    p = np.minimum(1.0, l * d2 / _phi)
                    u = _splitmix64_uniform(ids, seed, _r)
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
            cn2 = (CC * CC).sum(axis=1)
            nc = len(CC)
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
                D = (
                    (X * X).sum(axis=1)[:, None]
                    + cn2[None, :]
                    - 2.0 * (X @ CC.T)
                )
                cid = D.argmin(axis=1)
                yield pd.DataFrame(
                    {
                        "cand": np.arange(nc, dtype=np.int64),
                        "w": np.bincount(cid, minlength=nc).astype(np.int64),
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
