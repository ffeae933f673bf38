"""K-means operator tests (reference invariants: py/test_pq.py:55-94)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_spark.operators import kmeans


@pytest.fixture(scope="module")
def clustered_df(spark):
    # reference fixture: 3 clusters around 0/10/20 per dim (py/test_pq.py:72-94)
    rng = np.random.default_rng(42)
    rows = []
    for ci, center in enumerate([0.0, 10.0, 20.0]):
        for i in range(10):
            v = center + rng.uniform(-1, 1, size=4)
            rows.append((ci * 10 + i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_lloyd_converges_to_known_centers(clustered_df):
    init = kmeans.init_first_k(clustered_df, 3)  # one seed lands in cluster 0
    # first-3 init points all lie in cluster 0; kmeans++ separates them
    init = kmeans.kmeans_plus_plus(clustered_df, 3, seed=1)
    res = kmeans.lloyd(clustered_df, init, max_iter=100, tol=1e-6)
    assert res.converged
    means = sorted(float(c.mean()) for c in res.centroids)
    for got, want in zip(means, [0.0, 10.0, 20.0]):
        assert abs(got - want) < 2.0  # reference tolerance (+-2)


def test_assign_tie_breaks_to_lowest_cluster(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 1.0])], "vec_id long, embedding array<float>"
    )
    C = np.array([[2.0, 2.0], [0.0, 0.0]])  # equidistant from (1,1)
    out = kmeans.assign(df, C).collect()
    assert out[0].cluster_id == 0


def test_empty_cluster_keeps_old_centroid(spark):
    df = spark.createDataFrame(
        [(i, [0.0, 0.0]) for i in range(5)], "vec_id long, embedding array<float>"
    )
    C = np.array([[0.0, 0.0], [100.0, 100.0]])
    res = kmeans.lloyd(df, C, max_iter=2, tol=-1.0)
    assert np.allclose(res.centroids[1], [100.0, 100.0])  # never assigned
    assert np.allclose(res.centroids[0], [0.0, 0.0])


def test_assign_dist_nonnegative_and_sizes_sum(clustered_df):
    init = kmeans.kmeans_plus_plus(clustered_df, 3, seed=1)
    out = kmeans.assign(clustered_df, init)
    assert out.filter(F.col("dist") < 0).count() == 0
    assert out.count() == 30


def test_kmeanspp_without_replacement(clustered_df):
    C = kmeans.kmeans_plus_plus(clustered_df, 5, seed=7)
    # no duplicate centroids
    assert len({tuple(np.round(c, 9)) for c in C}) == 5


def test_train_coarse_k_equal_n_returns_the_input_rows(spark):
    """k = n = 5 with four copies of one vector: once the odd row is a
    centre the D² mass is 0, and the seeding then takes the rows not yet
    chosen instead of redrawing — so no row is a centre twice and the
    centroids are exactly the input rows, wherever the sample order puts
    the odd one."""
    rows = [(i, [1.0, 2.0]) for i in range(4)] + [(4, [5.0, -3.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    want = sorted(tuple(v) for _, v in rows)
    for seed in range(10):
        C = kmeans.train_coarse(df, k=5, seed=seed)
        assert sorted(map(tuple, C.tolist())) == want, seed


def _reference_driver_kmeans(X, w, k, seed, iters=25, tol=1e-6):
    """Loop form of the driver trainer: weighted D² draws, then Lloyd
    with a per-cluster weighted mean (empty clusters keep their
    centroid, stop at max squared shift <= tol)."""
    rng = np.random.default_rng(seed)
    chosen = [int(rng.integers(0, len(X)))]
    d2 = ((X - X[chosen[0]]) ** 2).sum(axis=1)
    for _ in range(1, k):
        wd = w * d2
        r = rng.uniform(0.0, float(wd.sum()))
        idx = min(int(np.searchsorted(np.cumsum(wd), r, side="right")), len(X) - 1)
        chosen.append(idx)
        d2 = np.minimum(d2, ((X - X[idx]) ** 2).sum(axis=1))
    C = X[chosen].copy()
    for _ in range(iters):
        D = (X * X).sum(1)[:, None] + (C * C).sum(1)[None, :] - 2.0 * (X @ C.T)
        cid = D.argmin(axis=1)
        newC = C.copy()
        for j in range(k):
            mask = cid == j
            if mask.any():
                newC[j] = (X[mask] * w[mask][:, None]).sum(axis=0) / w[mask].sum()
        shift = float(((C - newC) ** 2).sum(axis=1).max())
        C = newC
        if shift <= tol:
            break
    return C


def test_driver_kmeans_equals_the_loop_reference():
    """The driver trainer (shared seeding, kernel and Lloyd loop) gives
    the loop form's centroids bit for bit — unit weights (train_coarse)
    and integer weights (k-means||), rounded inputs so ties occur."""
    rng = np.random.default_rng(3)
    for t in range(12):
        X = rng.normal(size=(int(rng.integers(40, 400)), 6))
        if t % 3 == 0:
            X = np.round(X, 1)
        w = np.ones(len(X)) if t % 2 else rng.integers(1, 6, len(X)).astype(float)
        k = int(rng.integers(2, 12))
        got = kmeans._np_weighted_kmeans(X, w, k, seed=t)
        assert np.array_equal(got, _reference_driver_kmeans(X, w, k, seed=t)), t


def test_centroids_roundtrip(spark, clustered_df, tmp_path):
    init = kmeans.kmeans_plus_plus(clustered_df, 3, seed=1)
    res = kmeans.lloyd(clustered_df, init, max_iter=10, tol=1e-6)
    path = str(tmp_path / "centroids.parquet")
    kmeans.centroids_df(spark, res.centroids).write.parquet(path)
    loaded = kmeans.load_centroids(spark.read.parquet(path))
    assert np.allclose(loaded, res.centroids)
    # a duplicate id with a compensating gap must not load misaligned
    gap = spark.createDataFrame(
        [(i, [float(i)]) for i in (0, 1, 1, 3)],
        "cluster_id int, centroid array<double>",
    )
    with pytest.raises(ValueError, match="non-dense centroid ids"):
        kmeans.load_centroids(gap)


def test_train_coarse_deterministic_and_bounded(spark):
    """Same seed -> identical centroids regardless of partitioning (the
    sample is hash-ordered, not partition-ordered); k > n raises."""
    import numpy as np

    from tests.conftest import SF_ORACLE
    from vector_search_spark import tables
    from vector_search_spark.operators import kmeans

    emb = tables.load(spark, SF_ORACLE, "embeddings")
    c1 = kmeans.train_coarse(emb, k=8, seed=42)
    c2 = kmeans.train_coarse(emb.repartition(7), k=8, seed=42)
    assert np.array_equal(c1, c2)
    c3 = kmeans.train_coarse(emb, k=8, seed=43)
    assert not np.array_equal(c1, c3)
    assert c1.shape == (8, 64)
    with __import__("pytest").raises(ValueError, match="need >="):
        kmeans.train_coarse(emb.limit(3), k=8)


@pytest.mark.slow
def test_kmeans_parallel_init_deterministic_and_competitive(spark):
    from vector_search_spark import tables
    from tests.conftest import SF_ORACLE

    emb = tables.load(spark, SF_ORACLE, "embeddings")
    C1 = kmeans.kmeans_parallel_init(emb, k=10, seed=42)
    C2 = kmeans.kmeans_parallel_init(emb, k=10, seed=42)
    assert C1.shape == (10, 64)
    assert np.array_equal(C1, C2)
    # different seed -> different draw stream
    C3 = kmeans.kmeans_parallel_init(emb, k=10, seed=43)
    assert not np.array_equal(C1, C3)

    # after the same Lloyd budget, inertia is on par with k-means++ init
    r_par = kmeans.lloyd(emb, C1, max_iter=20)
    r_pp = kmeans.lloyd(
        emb, kmeans.kmeans_plus_plus(emb, k=10, seed=42), max_iter=20
    )

    def inertia(C):
        return (
            kmeans.assign(emb, C).agg(F.sum("dist")).collect()[0][0]
        )

    assert inertia(r_par.centroids) <= 1.2 * inertia(r_pp.centroids)


def test_kmeans_parallel_init_needs_enough_candidates(spark):
    import pytest as _pt

    tiny = spark.createDataFrame(
        [(i, [float(i)] * 4) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    with _pt.raises(ValueError, match="candidates|empty"):
        kmeans.kmeans_parallel_init(tiny, k=8, rounds=1, oversample=1.0)
