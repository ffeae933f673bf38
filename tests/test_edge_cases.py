"""Edge-case behavior pinned down (reference parity: py/test_hnsw.py
TestEdgeCases :384-447, py/test_pq.py validation :18-30): empty inputs,
k beyond N, empty documents, degenerate clusters. Where the reference
would crash (it never validates HNSW dims, SURVEY §1), we pin an
explicit error or a sane total behavior instead."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_search_spark.operators import ivf, knn


def test_empty_query_set_raises(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="empty query set"):
        knn.brute_force_knn(emb.filter("vec_id < 0"), emb, k=3).collect()


def test_k_larger_than_base_caps_at_n(spark):
    emb = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    out = knn.brute_force_knn(emb.limit(1), emb, k=100)
    assert out.count() == 3


def test_single_point_kmeans_and_empty_cluster_keep(spark):
    import numpy as np

    from vector_search_spark.operators import kmeans

    one = spark.createDataFrame(
        [(0, [5.0, 5.0])], "vec_id long, embedding array<float>"
    )
    init = np.array([[5.0, 5.0], [100.0, 100.0]])
    res = kmeans.lloyd(one, init, max_iter=3)
    # empty cluster 1 keeps its old centroid (reference py/pq.py:181-183)
    assert res.centroids[1].tolist() == [100.0, 100.0]
    assert res.centroids[0].tolist() == [5.0, 5.0]


def test_empty_text_documents_flow_through_text_ops(spark):
    from vector_search_spark.operators import textstats

    docs = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "real words here")],
        "doc_id long, text string",
    )
    # token_counts must not crash and must report 0 for empty docs
    out = {r.doc_id: r.ws_tokens for r in textstats.token_counts(docs).collect()}
    assert out[0] == 0 and out[1] == 0 and out[2] == 3
    # chunking yields no chunks for empty docs, not an error
    chunks = textstats.chunk_tokens(docs, chunk_size=2)
    assert chunks.filter(F.col("doc_id") < 2).count() == 0


def test_zero_vector_cosine_defined(spark):
    from vector_search_spark.functions import distance as D

    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 1.0])], "a array<float>, b array<float>"
    )
    [r] = df.select(D.cosine_similarity("a", "b").alias("c")).collect()
    assert r.c == 0.0  # zero-norm guard, not NaN


def test_semantic_dedup_single_row_cluster(spark):
    import numpy as np

    from vector_search_spark.operators import dedup

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    out = dedup.semantic_dedup(emb, np.array([[1.0, 0.0]]), 0.5).collect()
    assert len(out) == 1 and out[0].kept


# --- round-6 operators ------------------------------------------------------


def test_shared_span_pairs_degenerate_inputs(spark):
    from vector_search_spark.operators import dedup

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert dedup.shared_span_pairs(empty).count() == 0
    one = spark.createDataFrame(
        [(1, "only one document here nothing to pair")],
        "doc_id long, text string",
    )
    assert dedup.shared_span_pairs(one).count() == 0


def test_quality_weighted_sample_rate_extremes(spark):
    from vector_search_spark.operators import sampling

    docs = spark.createDataFrame(
        [(i, 100 + i) for i in range(50)], "doc_id long, n_chars long"
    )
    w = F.col("n_chars") / F.lit(100.0)
    assert sampling.quality_weighted_sample(docs, w, 0.0).count() == 0
    # p clamps at 1.0: a huge base_rate keeps EVERY row, never >1 draws
    assert sampling.quality_weighted_sample(docs, w, 1000.0).count() == 50


def test_multiprobe_zero_flips_equals_single_probe(spark):
    from vector_search_spark.operators import lsh_ann

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    H = lsh_ann.hyperplanes(dim=64, n_bits=8, n_tables=2, seed=7)
    q = emb.filter(F.col("vec_id") < 5)
    single = lsh_ann.lsh_topk(emb, q, H, k=5)
    multi0 = lsh_ann.lsh_multiprobe_topk(emb, q, H, k=5, n_flip=0)
    key = lambda df: sorted(
        (r.query_id, r.vec_id, r.rank) for r in df.collect()
    )
    assert key(single) == key(multi0)


def test_bigram_logprob_single_token_docs_drop_out(spark):
    from vector_search_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "solitary"), (2, "two tokens")], "doc_id long, text string"
    )
    out = {r.doc_id for r in textstats.bigram_logprob(docs).collect()}
    assert out == {2}


def test_opq_rejects_tiny_training_set(spark):
    from vector_search_spark.operators import pq as _pq

    df = spark.createDataFrame(
        [(i, [float(i), 0.0, 1.0, 2.0]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="training points"):
        _pq.train_opq_rotation(df, m=2, k=16)


def test_lsh_band_curve_guards_and_empty(spark):
    from vector_search_spark.operators import dedup

    docs = spark.createDataFrame([], "doc_id long, text string")
    # empty corpus -> empty curve, no failure
    assert dedup.lsh_band_curve(docs, r_values=(3,)).count() == 0
    # r must divide num_perms
    with pytest.raises(ValueError, match="divide"):
        dedup.lsh_band_curve(docs, num_perms=12, r_values=(5,))


def test_dup_rate_single_source_all_dups(spark):
    from vector_search_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, "Same   TEXT ", "web") for i in range(4)],
        "doc_id long, text string, source string",
    )
    r = dedup.dup_rate_by_source(docs).collect()[0]
    # normalization folds case/whitespace -> one distinct, rate 0.75
    assert (r.n_docs, r.n_distinct) == (4, 1)
    assert abs(r.dup_rate - 0.75) < 1e-9


def test_cell_stats_single_cell_ratio_one(spark):
    import numpy as np

    from vector_search_spark.operators import ivf

    base = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    stats = ivf.cell_stats(
        ivf.assign_clusters(base, np.array([[0.0, 0.0]]))
    ).collect()
    assert len(stats) == 1
    r = stats[0]
    assert (r.n_vecs, r.skew_ratio, r.is_oversized) == (5, 1.0, 0)


def test_rotate_preserves_l2(spark):
    """Rotation isometry end-to-end through the Spark op: pairwise L2
    before == after (the property that makes the rotated re-rank
    exact)."""
    import itertools

    import numpy as np

    from vector_search_spark.operators import bq

    rng = np.random.default_rng(1)
    X = rng.normal(size=(6, 8))
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    R = bq.random_rotation(8, seed=3)
    out = {
        r.vec_id: np.asarray(r.rot)
        for r in bq.rotate(df, R).collect()
    }
    for a, b in itertools.combinations(range(6), 2):
        d0 = float(((X[a] - X[b]) ** 2).sum())
        d1 = float(((out[a] - out[b]) ** 2).sum())
        assert abs(d0 - d1) < 1e-9


def test_enrich_with_static_validates_keys(spark):
    from vector_search_spark.streaming import events as sev

    ev = spark.createDataFrame([(1, "a")], "user_id long, x string")
    dim = spark.createDataFrame([(1, "n")], "uid long, name string")
    ok = sev.enrich_with_static(ev, dim, "user_id", "uid")
    assert ok.collect()[0].name == "n"
    with pytest.raises(ValueError, match="not in dimension columns"):
        sev.enrich_with_static(ev, dim, "user_id", "wrong_key")
    clash = spark.createDataFrame(
        [(1, 9, "n")], "uid long, user_id long, name string"
    )
    with pytest.raises(ValueError, match="duplicate"):
        sev.enrich_with_static(ev, clash, "user_id", "uid")


def test_quality_weighted_sample_null_weight_raises(spark):
    from pyspark.sql import functions as F

    from vector_search_spark.operators import sampling

    docs = spark.createDataFrame(
        [(1, 1.0), (2, None)], "doc_id long, w double"
    )
    out = sampling.quality_weighted_sample(
        docs, base_rate=1.0, weight=F.col("w"), seed=1
    )
    with pytest.raises(Exception, match="NULL weight"):
        out.collect()


def test_cms_estimate_rejects_mismatched_parameters(spark):
    from vector_search_spark.operators import sketch

    items = spark.createDataFrame(
        [(f"k{i % 5}",) for i in range(50)], "k string"
    )
    sk = sketch.cms_build(items, "k", depth=4, width=64)
    probes = spark.createDataFrame([("k0",)], "k string")
    ok = sketch.cms_estimate(sk, probes, "k", depth=4, width=64)
    assert ok.collect()[0].cms_est >= 10
    # The shape check is in-plan (assert_true), so the mismatch
    # surfaces at action time, not call time.
    with pytest.raises(Exception, match="undercount"):
        sketch.cms_estimate(sk, probes, "k", depth=2, width=64).collect()
    with pytest.raises(Exception, match="undercount"):
        sketch.cms_estimate(sk, probes, "k", depth=4, width=16).collect()


def test_cms_estimate_runs_no_job_at_call_time(spark, monkeypatch):
    """Regression for the round-7 eager-validate re-scan: composing
    cms_build |> cms_estimate must stay fully lazy — no action (job)
    may fire until the caller acts, or an uncached corpus-backed
    sketch gets its build subtree re-executed per estimate call."""
    from pyspark.sql import DataFrame

    from vector_search_spark.operators import sketch

    items = spark.createDataFrame(
        [(f"k{i % 5}",) for i in range(50)], "k string"
    )
    sk = sketch.cms_build(items, "k", depth=4, width=64)
    probes = spark.createDataFrame([("k0",), ("k3",)], "k string")

    def _boom(self, *a, **kw):  # pragma: no cover - should never run
        raise AssertionError("eager action during cms_estimate()")

    for action in (
        "first",
        "collect",
        "count",
        "toPandas",
        "head",
        "take",
        "tail",
        "show",
        "isEmpty",
        "foreach",
        "foreachPartition",
        "toLocalIterator",
    ):
        monkeypatch.setattr(DataFrame, action, _boom)
    # Patch-proof second net (advice r8): the Spark job counter must
    # not move across the call — catches eager paths through actions
    # the monkeypatch list doesn't know about (writes, _jdf-level).
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None))
    est = sketch.cms_estimate(sk, probes, "k", depth=4, width=64)
    jobs_after = len(tracker.getJobIdsForGroup(None))
    monkeypatch.undo()
    assert jobs_before == jobs_after, (
        "cms_estimate() ran a Spark job at call time"
    )
    got = {r.k: r.cms_est for r in est.collect()}
    assert got["k0"] >= 10 and got["k3"] >= 10


def test_multimodal_custom_id_col_and_null_payload(spark):
    from vector_search_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [(10, bytearray(b"abc")), (11, None)],
        "event_id long, payload binary",
    )
    out = mm.byte_histogram(df, id_col="event_id").collect()
    assert {r.event_id for r in out} == {10}  # NULL payload excluded
    assert sum(r["count"] for r in out) == 3
    with pytest.raises(ValueError, match="divide 256"):
        mm.byte_histogram(df, id_col="event_id", n_buckets=10)
    # the other stages accept the custom id + NULL policy too
    assert {
        r.event_id
        for r in mm.audio_features(df, id_col="event_id").collect()
    } <= {10}


def test_asof_null_right_ts_never_matches(spark):
    from vector_search_spark.operators import asof

    left = spark.createDataFrame(
        [(1, 100, "L")], "key long, ts long, lv string"
    )
    right = spark.createDataFrame(
        [(1, None, 7, "bad"), (1, 50, 8, "ok")],
        "key long, ts long, rid long, rv string",
    )
    out = asof.asof_join_backward(
        left, right, key="key", left_ts="ts", right_ts="ts",
        right_id="rid", right_cols=["rv"],
    ).collect()
    assert len(out) == 1 and out[0].asof_id == 8  # NULL-ts row ignored


def test_shingles_null_text_stays_null(spark):
    from vector_search_spark.functions import texts as T
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a b c"), (2, None)], "doc_id long, text string"
    )
    rows = {
        r.doc_id: r.sh
        for r in df.select(
            "doc_id", T.shingles(T.tokens("text"), 2).alias("sh")
        ).collect()
    }
    assert rows[1] == ["a b", "b c"]
    assert rows[2] is None  # NULL in, NULL out — DuckDB twin parity


def test_pushed_filters_handles_in_lists_and_codegen_helper(spark):
    from vector_search_spark import plans
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = emb.filter(F.col("vec_id").isin(1, 2, 3) & (F.col("label") == 1))
    fs = plans.pushed_filters(df)
    assert any(f.startswith("In(vec_id") for f in fs), fs
    assert any("EqualTo(label,1)" in f for f in fs), fs
    # no shredded fragments: every entry is bracket/paren balanced
    assert all(
        f.count("(") == f.count(")") and f.count("[") == f.count("]")
        for f in fs
    ), fs
    assert plans.wholestage_codegen_ids(df) >= 1


@pytest.fixture
def tiny_index(spark, tmp_path):
    """A persisted 2-D IVF index of 12 rows in 3 cells: ``(index path,
    centroids path, C)``."""
    import numpy as np

    from vector_search_spark.operators import ivf

    base = spark.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    C = np.array([[1.0, 1.0], [5.0, 1.0], [10.0, 1.0]])
    path, cpath = str(tmp_path / "index"), str(tmp_path / "cents")
    ivf.write_index(ivf.assign_clusters(base, C), path)
    ivf.save_centroids(spark, C, cpath)
    return path, cpath, C


@pytest.mark.parametrize(
    "rows, match",
    [
        ([(1, [1.0, 0.0]), (7, None)], "query 7: a NULL vector"),
        ([(1, [1.0, 0.0]), (7, [float("nan"), 0.0])], "query 7: a NaN"),
        ([(7, [0.0, float("-inf")])], "query 7: a NaN or infinite"),
        (
            [(1, [1.0, 0.0]), (7, [1.0, 0.0, 2.0])],
            "query 7: dimension 3, not the centroids' 2",
        ),
        ([(7, [1.0, 0.0]), (7, [2.0, 0.0])], "query 7: a duplicate id"),
    ],
    ids=["null_vector", "nan", "inf", "dimension", "duplicate_id"],
)
def test_ivf_serving_rejects_bad_query_batches(spark, tiny_index, rows, match):
    """Every path that collects a caller-bounded batch (persisted flat
    one-calls, routed gemm and ADC, exact gemm kNN, flat ADC, the graph
    walk) shares one batch check and names the offending query — the
    Catalyst fold would score these as NULL distances, the driver
    replay would truncate or misorder them and the gemm would emit
    NaN. The dimension is checked against the caller's model, or the
    batch's first row when there is none."""
    import numpy as np

    from vector_search_spark.operators import graph, pq

    path, cpath, C = tiny_index
    qs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = spark.read.parquet(path)
    model = pq.PQModel(np.zeros((2, 1, 1)))
    for dim_of, call in (
        ("the centroids'", lambda: ivf.search_index(
            spark, path, cpath, qs, k=2, nprobe=2)),
        ("the centroids'", lambda: ivf.range_index(
            spark, path, cpath, qs, radius=4.0, nprobe=2)),
        ("the centroids'", lambda: ivf.ivf_topk(
            qs, base, C, k=2, nprobe=2, impl="gemm")),
        ("the centroids'", lambda: ivf.ivf_adc_topk(
            qs, base, C, model, k=2, nprobe=2)),
        ("the first row's", lambda: knn.brute_force_knn(qs, base, k=2)),
        # the anchors are checked in the collect that carries their labels
        ("the first row's", lambda: knn.mine_semihard_negatives(
            qs.withColumn("label", F.lit(0)),
            base.withColumn("label", F.lit(0)), k=2)),
        ("the model's", lambda: pq.adc_topk(qs, base, model, k=2)),
        # the batch is checked before the walk reads the graph
        ("the first row's", lambda: graph.greedy_search(None, base, qs, k=2)),
    ):
        with pytest.raises(
            ValueError, match=match.replace("the centroids'", dim_of)
        ):
            call()


def test_ivf_topk_gemm_rejects_other_metrics(spark, tiny_index):
    """The gemm cell scan scores squared L2 only; any other metric is
    refused before the batch is collected, not silently scored as L2."""
    path, _, C = tiny_index
    base = spark.read.parquet(path)
    for metric in ("cosine", "dot", "l2"):
        with pytest.raises(ValueError, match=f"not '{metric}'"):
            ivf.ivf_topk(base, base, C, k=2, metric=metric, impl="gemm")


def test_persisted_search_empty_batch_returns_empty_frame(spark, tiny_index):
    """An empty batch routes to no cell: search_index / range_index give
    an empty frame with the lazy-route path's schema."""
    from vector_search_spark.operators import ivf

    path, cpath, C = tiny_index
    qs = spark.createDataFrame([], "vec_id long, embedding array<float>")
    base = spark.read.parquet(path)
    for got, want in (
        (
            ivf.search_index(spark, path, cpath, qs, k=2, nprobe=2),
            ivf.ivf_topk(qs, base, C, k=2, nprobe=2),
        ),
        (
            ivf.range_index(spark, path, cpath, qs, radius=4.0, nprobe=2),
            ivf.ivf_range(qs, base, C, radius=4.0, nprobe=2),
        ),
    ):
        assert got.schema == want.schema and got.count() == 0


@pytest.mark.parametrize(
    "rows, match",
    [
        ([(1, [1.0, 0.0]), (None, [2.0, 0.0])], "a NULL id"),
        ([(20, [1.0, 0.0]), (20, [9.0, 0.0])], "upsert row 20: a duplicate id"),
        ([(1, [1.0, 0.0]), (7, None)], "upsert row 7: a NULL vector"),
        ([(7, [float("nan"), 0.0])], "upsert row 7: a NaN or infinite"),
        (
            [(1, [1.0, 0.0]), (7, [1.0, 0.0, 2.0])],
            "upsert row 7: dimension 3, not the centroids' 2",
        ),
    ],
    ids=["null_id", "duplicate_id", "null_vector", "nan", "dimension"],
)
def test_upsert_rejects_bad_batches_before_writing(spark, tiny_index, rows, match):
    """upsert_index checks its batch like every caller-bounded batch and
    raises before anything is written: unchecked, a NULL id was stored
    as -2^63, a duplicate id landed twice in two cells, a NaN vector
    routed silently to cell 0 and a wrong dimension failed as a raw
    PythonException. The index files stay byte-identical."""
    import hashlib
    import os

    from vector_search_spark.operators import ivf

    path, _, C = tiny_index

    def snapshot():
        return {
            os.path.relpath(os.path.join(d, f), path): hashlib.sha256(
                open(os.path.join(d, f), "rb").read()
            ).hexdigest()
            for d, _, fs in os.walk(path)
            for f in fs
        }

    before = snapshot()
    batch = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match=match):
        ivf.upsert_index(spark, path, batch, C)
    assert snapshot() == before
