"""Unit tests for the exact kNN operator family (reference invariants per
FIXTURES.md: ascending distances, self-nearest, topK <= N, determinism)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_spark.operators import knn


@pytest.fixture(scope="module")
def line_df(spark):
    # reference fixture: [i, i] vectors (py/test_hnsw.py:242,366-381)
    rows = [(i, [float(i), float(i)]) for i in range(50)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_self_is_nearest(line_df):
    out = knn.brute_force_knn(line_df, line_df, k=1).collect()
    assert all(r.query_id == r.vec_id and r.dist == 0.0 for r in out)


def test_line_neighbors(spark, line_df):
    q = line_df.filter(F.col("vec_id") == 25)
    out = knn.brute_force_knn(q, line_df, k=3).orderBy("rank").collect()
    assert [r.vec_id for r in out] == [25, 24, 26]  # tie 24/26 -> lower id


def test_sorted_ascending_and_bounded(line_df):
    out = knn.brute_force_knn(line_df.limit(5), line_df, k=100)
    rows = out.orderBy("query_id", "rank").collect()
    assert all(r.dist >= 0 for r in rows)
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.dist)
    for dists in per_q.values():
        assert dists == sorted(dists)
        assert len(dists) == 50  # topK caps at dataset size


def test_partial_mode_equals_window_mode(spark, line_df):
    a = knn.brute_force_knn(line_df, line_df, k=5, mode="window")
    b = knn.brute_force_knn(line_df, line_df, k=5, mode="partial")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_knn_graph_excludes_self(line_df):
    g = knn.knn_graph(line_df, k=2)
    assert g.filter(F.col("src") == F.col("dst")).count() == 0
    assert g.groupBy("src").count().filter("count != 2").count() == 0


def test_cosine_metric(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [2.0, 0.0]),   # same direction as 0
        (2, [0.0, 1.0]),   # orthogonal
        (3, [-1.0, 0.0]),  # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = knn.brute_force_knn(
        df.filter("vec_id = 0"), df, k=4, metric="cosine"
    ).orderBy("rank").collect()
    assert [r.vec_id for r in out] == [0, 1, 2, 3]
    assert out[0].dist == pytest.approx(0.0)
    assert out[2].dist == pytest.approx(1.0)
    assert out[3].dist == pytest.approx(2.0)


def test_recall_of_exact_is_one(spark, line_df):
    res = knn.brute_force_knn(line_df, line_df, k=5)
    assert knn.recall_at_k(res, res, k=5) == 1.0


def test_gemm_equals_expr_on_real_embeddings(spark):
    from tests.conftest import SF_ORACLE
    from vector_search_spark import tables

    emb = tables.load(spark, SF_ORACLE, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    for metric in ("l2_sqr", "cosine"):
        a = knn.brute_force_knn(q, emb, k=10, metric=metric, impl="gemm")
        b = knn.brute_force_knn(q, emb, k=10, metric=metric, impl="expr")
        ra = sorted((r.query_id, r.vec_id, r.rank) for r in a.collect())
        rb = sorted((r.query_id, r.vec_id, r.rank) for r in b.collect())
        assert ra == rb, metric


def test_knn_graph_auto_guard_falls_back_distributed(spark):
    """impl='auto' must refuse to collect the node set when it exceeds
    max_gemm_rows and still produce the identical exact graph through
    the distributed expr+partial path (no driver materialization)."""
    from tests.conftest import SF_ORACLE
    from vector_search_spark import tables

    emb = tables.load(spark, SF_ORACLE, "embeddings").limit(200)
    gemm = knn.knn_graph(emb, k=5, impl="gemm")
    # force the fallback: any threshold below the row count
    auto = knn.knn_graph(emb, k=5, impl="auto", max_gemm_rows=10)
    rg = sorted((r.src, r.dst, r.rank) for r in gemm.collect())
    ra = sorted((r.src, r.dst, r.rank) for r in auto.collect())
    assert ra == rg


def test_lsh_self_retrieval_and_bucket_semantics(spark):
    """A query always shares every bucket with itself -> rank 1 is the
    query at distance 0; all candidate pairs share >= 1 bucket."""
    from tests.conftest import SF_ORACLE
    from vector_search_spark import tables
    from vector_search_spark.operators import lsh_ann

    emb = tables.load(spark, SF_ORACLE, "embeddings")

    H = lsh_ann.hyperplanes(dim=64, n_bits=8, n_tables=2, seed=7)
    queries = emb.filter(F.col("vec_id") < 10)
    res = lsh_ann.lsh_topk(emb, queries, H, k=5)
    top1 = res.filter(F.col("rank") == 1)
    assert top1.count() == 10
    assert top1.filter(F.col("query_id") != F.col("vec_id")).count() == 0
    assert top1.agg(F.max("dist")).first()[0] == 0.0
    # every returned candidate shares a (t, sig) bucket with its query
    sigs = lsh_ann.lsh_signatures(emb, H)
    qs = sigs.withColumnRenamed("vec_id", "query_id")
    shared = res.join(qs, "query_id").join(
        sigs, ["t", "sig", "vec_id"], "left_semi"
    )
    assert shared.select("query_id", "vec_id").distinct().count() == res.count()


def test_knn_classify_majority_and_tiebreak(spark):
    from vector_search_spark.operators import knn as _knn
    # two tight clusters with labels 0 / 1; one query per cluster
    rows = []
    for i in range(6):
        rows.append((i, [0.0 + i * 0.01, 0.0], 0))
    for i in range(6):
        rows.append((10 + i, [5.0 + i * 0.01, 5.0], 1))
    base = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    queries = base.filter("vec_id in (0, 10)")
    out = {
        r.query_id: r
        for r in _knn.knn_classify(
            queries, base, base.select("vec_id", "label"), k=5
        ).collect()
    }
    assert out[0].pred_label == 0 and out[0].votes == 5
    assert out[10].pred_label == 1 and out[10].votes == 5

    # exact 2-2 tie (k=4: 2 from each cluster) -> lowest label wins
    tie_base = spark.createDataFrame(
        [
            (0, [0.0, 0.0], 7),
            (1, [1.0, 0.0], 7),
            (2, [0.0, 1.0], 3),
            (3, [1.0, 1.0], 3),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    q = spark.createDataFrame(
        [(99, [0.5, 0.5])], "vec_id long, embedding array<double>"
    )
    got = _knn.knn_classify(
        q, tie_base, tie_base.select("vec_id", "label"), k=4
    ).collect()
    assert got[0].pred_label == 3 and got[0].votes == 2


# --- binary quantization (operators/bq.py) --------------------------------


def test_bq_pack_bits_known_values(spark):
    from vector_search_spark.operators import bq

    # 64-dim vector with bits 0 and 33 set -> word0 = 1, word1 = 2
    v = [0.0] * 64
    v[0] = 0.5
    v[33] = 0.1
    df = spark.createDataFrame(
        [(0, v)], "vec_id long, embedding array<float>"
    )
    row = bq.encode_bits(df, dim=64).collect()[0]
    assert row.bits == [1, 2]
    # negative values never set bits (strict > 0)
    neg = spark.createDataFrame(
        [(0, [-1.0] * 64)], "vec_id long, embedding array<float>"
    )
    assert bq.encode_bits(neg, dim=64).collect()[0].bits == [0, 0]


def test_bq_hamming_self_zero_and_symmetry(spark):
    from vector_search_spark.operators import bq

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bits = bq.encode_bits(emb.limit(20), dim=64).select(
        F.col("vec_id").alias("query_id"), "bits"
    )
    base = bq.encode_bits(emb.limit(20), dim=64)
    out = bq.hamming_topk(bits, base, n_words=2, k=1)
    # every vector's own code is at Hamming distance 0 -> rank 1 is self
    rows = out.collect()
    assert all(r.hamming == 0 and r.query_id == r.vec_id for r in rows)


def test_bq_refine_recall_vs_exact(spark):
    """The Hamming shortlist + exact re-rank must recover most of the
    true top-10 (binary codes keep the dominant geometry)."""
    from vector_search_spark.operators import bq

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = knn.brute_force_knn(
        emb.filter(F.col("vec_id") < 20), emb, k=10
    )
    got = bq.bq_refine_topk(q, emb, dim=64, k=10, shortlist=60)
    t = {(r.query_id, r.vec_id) for r in truth.collect()}
    g = {(r.query_id, r.vec_id) for r in got.collect()}
    recall = len(t & g) / len(t)
    assert recall >= 0.7, recall


def test_bq_dim_guard(spark, line_df):
    from vector_search_spark.operators import bq

    with pytest.raises(ValueError):
        bq.encode_bits(line_df, dim=48)  # not a multiple of 32


# --- filtered ANN + recall evaluation (operators/knn.py) ------------------


def test_filtered_prefilter_only_matching_labels(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    out = knn.filtered_knn(q, emb, F.col("label") == 2, k=5)
    labels = {
        r.label
        for r in out.join(emb.select("vec_id", "label"), "vec_id").collect()
    }
    assert labels == {2}
    # every query gets a full k (enough label-2 rows exist)
    assert out.groupBy("query_id").count().filter("count != 5").count() == 0


def test_filtered_postfilter_may_undersupply(spark):
    """With a tiny overfetch and a selective predicate, post-filtering
    returns FEWER than k — the documented trade; and what it does
    return equals the head of the prefiltered ranking."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    pre = knn.filtered_knn(q, emb, F.col("label") == 2, k=5)
    post = knn.filtered_knn(
        q, emb, F.col("label") == 2, k=5, strategy="postfilter", overfetch=2
    )
    pre_n = pre.count()
    post_n = post.count()
    assert post_n < pre_n  # label 2 is ~1/4 of rows; overfetch 2 starves
    pre_rows = {
        (r.query_id, r.vec_id, r.rank) for r in pre.collect()
    }
    assert {
        (r.query_id, r.vec_id, r.rank) for r in post.collect()
    } <= pre_rows  # survivors agree with the exact filtered ranking


def test_recall_at_k_hand_case(spark):
    truth = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 5), (1, 6)],
        "query_id long, vec_id long",
    )
    result = spark.createDataFrame(
        [(0, 1), (0, 9), (1, 7), (1, 8)],
        "query_id long, vec_id long",
    )
    got = {
        r.query_id: r.recall
        for r in knn.recall_per_query(result, truth, k=2).collect()
    }
    assert got == {0: 0.5, 1: 0.0}


def test_filtered_postfilter_custom_base_id_col(spark):
    """postfilter must honor a renamed base id column (base_id_col) —
    the survivors projection aliases it to the scored output's literal
    `vec_id`. Regression test for the kwarg-name mismatch."""
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .withColumnRenamed("vec_id", "bid")
    )
    q = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").filter(
        F.col("vec_id") < 5
    )
    out = knn.filtered_knn(
        q,
        emb,
        F.col("label") == 2,
        k=3,
        strategy="postfilter",
        overfetch=8,
        base_id_col="bid",
    ).collect()
    assert out  # resolves and returns rows
    ids = {r.vec_id for r in out}
    lab = {
        r.bid
        for r in emb.select("bid", "label").filter(F.col("label") == 2).collect()
    }
    assert ids <= lab  # every survivor satisfies the predicate


# --- multi-probe LSH (operators/lsh_ann.py) --------------------------------


def test_lsh_multiprobe_candidates_superset_and_recall(spark):
    """Multi-probe candidates strictly contain single-probe candidates
    (home bucket is always probed), so recall can only improve; probe
    set size is exactly (1 + n_flip) rows per (query, table)."""
    from vector_search_spark.operators import lsh_ann

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    H = lsh_ann.hyperplanes(dim=64, n_bits=8, n_tables=2, seed=7)
    q = emb.filter(F.col("vec_id") < 10)

    probes = lsh_ann.lsh_probe_signatures(q, H, n_flip=2)
    n_q = q.count()
    assert probes.count() == n_q * 2 * (1 + 2)  # (1+n_flip) per table
    # home signatures are a subset of the probe set
    homes = lsh_ann.lsh_signatures(q, H).select(
        F.col("vec_id").alias("query_id"), "t", "sig"
    )
    assert homes.join(probes, ["query_id", "t", "sig"], "left_anti").count() == 0

    single = lsh_ann.lsh_topk(emb, q, H, k=5)
    multi = lsh_ann.lsh_multiprobe_topk(emb, q, H, k=5, n_flip=2)
    truth = knn.brute_force_knn(q, emb, k=5)

    def recall(res):
        hit = res.select("query_id", "vec_id").intersect(
            truth.select("query_id", "vec_id")
        ).count()
        return hit / truth.count()

    r1, rm = recall(single), recall(multi)
    assert rm >= r1  # superset candidates
    assert rm > 0.3
    with pytest.raises(ValueError):
        lsh_ann.lsh_probe_signatures(q, H, n_flip=99)


def test_bq_rotated_identity_equals_plain_and_recall(spark):
    """Rotated BQ invariants: (1) with the identity rotation the whole
    pipeline reproduces plain bq_refine_topk bit-for-bit (the rotation
    is the ONLY difference); (2) the seeded rotation preserves exact
    re-rank results (L2 is rotation-invariant) up to float ulps, so
    top-k ids match a brute-force-over-shortlist oracle; (3) Recall@10
    vs true brute force clears a floor and is printed beside plain BQ
    for the densification narrative."""
    import numpy as np

    from vector_search_spark import tables
    from vector_search_spark.operators import bq, knn
    from tests.conftest import SF_ORACLE

    emb = tables.load(spark, SF_ORACLE, "embeddings").localCheckpoint()
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def key(df):
        return sorted(
            (r.query_id, r.rank, r.vec_id)
            for r in df.select("query_id", "rank", "vec_id").collect()
        )

    plain = bq.bq_refine_topk(queries, emb, dim=64, k=10, shortlist=60)
    ident = bq.bq_rotated_refine_topk(
        queries, emb, dim=64, k=10, shortlist=60, seed=42
    )
    # (1) identity rotation == plain, exactly
    import vector_search_spark.operators.bq as bqmod

    orig = bqmod.random_rotation
    try:
        bqmod.random_rotation = lambda dim, seed=42: np.eye(dim)
        ident_res = bq.bq_rotated_refine_topk(
            queries, emb, dim=64, k=10, shortlist=60
        )
        assert key(ident_res) == key(plain)
    finally:
        bqmod.random_rotation = orig

    # (2)+(3) seeded rotation: measure recall of both against truth
    truth = knn.brute_force_knn(
        emb.filter(F.col("vec_id") < 20), emb, k=10
    )
    r_plain = knn.recall_at_k(plain, truth, k=10)
    r_rot = knn.recall_at_k(ident, truth, k=10)
    print(f"\nBQ Recall@10 plain={r_plain:.4f} rotated={r_rot:.4f}")
    assert r_rot >= 0.5, f"rotated BQ recall {r_rot:.3f} below floor"
    # rotation must not cost material recall on this (near-isotropic)
    # corpus; on variance-skewed data it gains — both are fine, a
    # collapse is not
    assert r_rot >= r_plain - 0.1


def test_bq_rotate_excludes_null_vectors(spark):
    """rotate() must apply the multimodal NULL-exclusion policy: NULL
    embeddings are dropped up front instead of np.vstack exploding
    with an opaque error inside the Arrow batch. pq.rotate wraps the
    same kernel and inherits the policy."""
    from vector_search_spark.operators import bq, pq

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    R = bq.random_rotation(2, seed=3)
    import numpy as np

    want = np.array([[1.0, 0.0], [0.0, 2.0]]) @ R.T
    for out, col in (
        (bq.rotate(df, R), "rot"),
        (pq.rotate(df, R), "rotated"),
    ):
        rows = out.orderBy("vec_id").collect()
        assert [r.vec_id for r in rows] == [1, 3]
        assert np.allclose(np.array([r[col] for r in rows]), want)


# --- semi-hard negative mining (operators/knn.py) -------------------------


def test_semihard_hand_case(spark):
    """Margin = closest-positive distance; negatives at or inside the
    margin are excluded (strict >, on 1e-6-rounded values); anchors
    with no positive are dropped."""
    rows = [
        (0, [0.0, 0.0], 0),   # anchor, label 0
        (1, [3.0, 3.0], 0),   # its only positive: d = 18
        (2, [1.0, 1.0], 1),   # negative d=2  -> inside margin, excluded
        (3, [4.0, 4.0], 1),   # negative d=32 -> rank 1
        (4, [5.0, 5.0], 1),   # negative d=50 -> rank 2
        (6, [3.0, -3.0], 1),  # negative d=18 == margin -> excluded
        (5, [9.0, 9.0], 2),   # anchor whose label is unique -> dropped
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    anchors = df.filter(F.col("vec_id").isin(0, 5))
    out = (
        knn.mine_semihard_negatives(anchors, df, k=10)
        .orderBy("query_id", "rank")
        .collect()
    )
    assert {r.query_id for r in out} == {0}  # anchor 5 has no positive
    # row 5 is dropped as an ANCHOR but still serves as a (far) negative
    assert [(r.vec_id, r.rank) for r in out] == [(3, 1), (4, 2), (5, 3)]
    assert all(r.pos_margin == 18.0 for r in out)
    assert [r.dist for r in out] == [32.0, 50.0, 162.0]


def test_semihard_k_cap_and_tie_break(spark):
    """Equidistant semi-hard negatives break ties by vec_id; k caps
    the per-anchor list."""
    rows = [
        (0, [0.0, 0.0], 0),
        (1, [1.0, 0.0], 0),    # positive, margin = 1
        (2, [4.0, 4.0], 1),    # d=32
        (3, [-4.0, -4.0], 1),  # d=32 (tie with 2)
        (4, [5.0, 5.0], 1),    # d=50
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    anchors = df.filter(F.col("vec_id") == 0)
    out = (
        knn.mine_semihard_negatives(anchors, df, k=2)
        .orderBy("rank")
        .collect()
    )
    assert [(r.vec_id, r.rank) for r in out] == [(2, 1), (3, 2)]


def test_semihard_testdata_invariants(spark):
    """sf0.001 batch: every mined negative sits strictly beyond its
    anchor's closest-positive margin, lists are ascending and <= k,
    and the margin matches an independent same-label brute-force min."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    anchors = emb.filter(F.col("vec_id") < 8)
    out = knn.mine_semihard_negatives(anchors, emb, k=5)
    rows = out.orderBy("query_id", "rank").collect()
    assert rows
    per_q = {}
    for r in rows:
        assert r.dist > r.pos_margin
        per_q.setdefault(r.query_id, []).append(r.dist)
    for dists in per_q.values():
        assert dists == sorted(dists) and len(dists) <= 5
    # negatives really are different-label
    lab = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    for r in rows:
        assert lab[r.vec_id] != lab[r.query_id]


def test_semihard_all_anchors_unpositive_returns_empty(spark):
    """When every anchor's label is unique (no positives anywhere),
    the margin table is EMPTY — the operator must return zero rows
    with the stable 5-column schema, not blow up on the empty
    margin-side DataFrame."""
    rows = [(0, [0.0, 0.0], 0), (1, [1.0, 1.0], 1), (2, [2.0, 2.0], 2)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = knn.mine_semihard_negatives(
        df.filter(F.col("vec_id") == 0), df, k=3
    )
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "vec_id", "pos_margin", "dist", "rank",
    ]


# --- exact ties at the top-k cut ------------------------------------------

# 40 identical integer vectors (every gemm term exact, so all 40 tie
# exactly) under shuffled ids 100..139, plus one far vector, id 200.
# Every Python-side cut must keep the lowest ids among exact ties, the
# (dist, vec_id) order the final window promises.
_TIE_IDS = [int(i) for i in np.random.default_rng(7).permutation(40) + 100]
_FAR = (200, [-5.0, -5.0, -5.0, -5.0], 0)


@pytest.fixture(scope="module")
def tie_df(spark):
    rows = [(i, [1.0, 1.0, 1.0, 1.0], 1) for i in _TIE_IDS] + [_FAR]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1)


def _lowest_others(src, k):
    return [i for i in sorted(_TIE_IDS) if i != src][:k]


@pytest.mark.parametrize(
    "case",
    ["l2_sqr-1", "l2_sqr-3", "cosine-1", "cosine-3",
     "knn_graph", "knn_graph_blocked", "semihard"],
)
def test_exact_ties_keep_lowest_ids(spark, tie_df, case):
    from vector_search_spark.operators import graph

    if case in ("knn_graph", "knn_graph_blocked"):
        if case == "knn_graph":
            g = knn.knn_graph(tie_df, k=2, impl="gemm")
        else:
            C = np.array([[1.0] * 4, [-5.0] * 4])
            g = graph.knn_graph_blocked(tie_df, C, k=2, nprobe=2)
        got = {}
        for r in g.orderBy("src", "rank").collect():
            got.setdefault(r.src, []).append(r.dst)
        want = {s: _lowest_others(s, 2) for s in _TIE_IDS + [200]}
        assert got == want
        return
    if case == "semihard":
        # anchor label 0: its positive is the far vector (d = 4), every
        # one of the 40 label-1 rows is a negative at d = 100
        anchor = spark.createDataFrame(
            [(999, [-4.0, -4.0, -4.0, -4.0], 0)],
            "vec_id long, embedding array<float>, label int",
        )
        out = knn.mine_semihard_negatives(anchor, tie_df, k=3)
        want = sorted(_TIE_IDS)[:3]
    else:
        metric, k = case.split("-")
        q = spark.createDataFrame(
            [(0, [2.0, 2.0, 2.0, 2.0])], "vec_id long, embedding array<float>"
        )
        out = knn.brute_force_knn(q, tie_df, k=int(k), metric=metric)
        want = sorted(_TIE_IDS)[: int(k)]
    assert [r.vec_id for r in out.orderBy("rank").collect()] == want


def test_topk_rows_hand_tiles():
    """``knn._topk_rows`` on hand-built tiles: (row, col) pairs sorted
    by row, distance, then id; only finite entries survive."""
    inf, nan = np.inf, np.nan
    vids = np.array([5, 3, 9, 1])
    # ties at the k-th slot: the lowest id among the tied wins
    D = np.array([[1.0, 2.0, 2.0, 2.0], [2.0, 2.0, 0.5, 2.0]])
    qi, vj = knn._topk_rows(vids, D, 2)
    assert list(zip(qi, vj)) == [(0, 0), (0, 3), (1, 2), (1, 3)]
    # inf and NaN never survive; fewer finite entries than k
    D = np.array([[nan, inf, 3.0, 1.0], [nan, nan, nan, nan]])
    qi, vj = knn._topk_rows(vids, D, 3)
    assert list(zip(qi, vj)) == [(0, 3), (0, 2)]
    # k >= the tile width: every finite entry, in (dist, id) order
    D = np.array([[4.0, 4.0, 1.0, inf]])
    for k in (4, 9):
        qi, vj = knn._topk_rows(vids, D, k)
        assert list(zip(qi, vj)) == [(0, 2), (0, 1), (0, 0)]
