"""Tests for the benchmark's pure parts (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pytest

from perfbench import eventlog, gen, stats

HERE = os.path.dirname(os.path.abspath(__file__))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


# ---- percentile and sample-count rule ----

@pytest.mark.parametrize("n,tail", [
    (1, None), (19, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, tail):
    assert stats.tail_percentile(n) == tail
    if tail is not None:
        assert n * (100 - tail) / 100 >= 10 - 1e-9


def test_summarize_reports_median_count_and_allowed_tail():
    assert stats.summarize([3.0, 1.0, 2.0]) == {"p50": 2.0, "samples": 3}
    xs = [float(i) for i in range(100)]
    out = stats.summarize(xs)
    assert out["samples"] == 100 and out["p50"] == 49.5
    assert out["p90"] == pytest.approx(np.percentile(xs, 90))
    assert set(out) == {"p50", "samples", "p90"}


# ---- event-log reader ----

TWO_SPAN_LOG = os.path.join(HERE, "testdata", "two_span.eventlog")
TWO_SPAN_SPANS = os.path.join(HERE, "testdata", "two_span.spans.json")


def test_event_log_reader_attributes_jobs_to_spans():
    with open(TWO_SPAN_SPANS) as fh:
        spans = [eventlog.Span(**s) for s in json.load(fh)]
    groups = eventlog.read_groups(TWO_SPAN_LOG)
    assert set(groups) == {s.group for s in spans}
    out = eventlog.per_span(spans, groups)
    agg, scan = out["demo.aggregate"], out["demo.scan"]
    # the aggregate shuffles and returns rows; the scan only counts
    assert agg["jobs"] >= 1 and scan["jobs"] >= 1
    assert agg["shuffle_bytes"] > 0 and scan["shuffle_bytes"] == 0
    assert agg["cpu_s"] > 0 and agg["result_bytes"] > 0
    assert scan["input_records"] > 0
    for acc in (agg, scan):
        assert acc["calls"] == 1
        assert 0 <= acc["idle_s"] <= acc["wall_s"]


def test_covered_ms_unions_and_clips_job_intervals():
    jobs = [(5, 15), (10, 20), (30, 40), (45, 60)]
    assert eventlog.covered_ms(jobs, 0, 50) == 15 + 10 + 5
    assert eventlog.covered_ms([], 0, 50) == 0
    assert eventlog.covered_ms([(0, 100)], 10, 20) == 10


def test_per_span_without_jobs_is_all_idle():
    span = eventlog.Span("x.y", "x.y#0", 1000.0, 3000.0)
    out = eventlog.per_span([span], {})["x.y"]
    assert out["wall_s"] == out["idle_s"] == 2.0
    assert out["jobs"] == 0


# ---- generator determinism ----

def test_same_seed_same_inputs_and_hash():
    a = gen.make_vectors(7, 0, 300), gen.make_docs(7, 200)
    b = gen.make_vectors(7, 0, 300), gen.make_docs(7, 200)
    c = gen.make_vectors(8, 0, 300), gen.make_docs(8, 200)
    assert gen.content_hash(*a) == gen.content_hash(*b)
    assert gen.content_hash(*a) != gen.content_hash(*c)
    assert np.array_equal(a[0].X, b[0].X) and a[1].text == b[1].text


def test_streams_are_independent_draws_of_one_mixture():
    base = gen.make_vectors(3, 0, 500)
    queries = gen.make_vectors(3, 1, 50)
    assert base.X.shape == (500, gen.DIM) and base.X.dtype == np.float32
    assert not np.array_equal(base.X[:50], queries.X)
    extra = gen.make_vectors(3, 10, 20, first_id=500)
    assert extra.ids.tolist() == list(range(500, 520))


def test_exact_topk_matches_a_full_sort():
    v = gen.make_vectors(5, 0, 400)
    q = gen.make_vectors(5, 1, 8).X
    got = gen.exact_topk(v.ids, v.X, q, k=10)
    d = ((q[:, None, :].astype(np.float64) - v.X[None].astype(np.float64)) ** 2).sum(-1)
    for i in range(len(q)):
        want = sorted(range(len(v.ids)), key=lambda j: (d[i, j], v.ids[j]))[:10]
        assert got[i].tolist() == [int(v.ids[j]) for j in want]


def test_docs_carry_known_near_duplicate_groups():
    d = gen.make_docs(11, 600)
    assert sorted(d.ids.tolist()) == list(range(600))
    text = dict(zip(d.ids.tolist(), d.text))
    assert d.groups and all(2 <= len(g) <= 4 for g in d.groups)
    for g in d.groups:
        head = text[g[0]].split()
        for other in g[1:]:
            diff = sum(a != b for a, b in zip(head, text[other].split()))
            assert diff <= 2  # each variant changes one token of the base
    assert gen.expected_losers(d.groups) == {i for g in d.groups for i in g[1:]}
    assert all(a < b for a, b in gen.group_pairs(d.groups))


# ---- a run whose cycle raised ----

def test_end_to_end_leaves_out_metrics_without_samples():
    from perfbench import run
    from perfbench.workloads import Ctx

    ctx = Ctx(spark=None, work="", seed=1, traced=False)
    ctx.samples = {"cycle": [60.0], "build": [10.0], "upsert": [4.0]}
    ctx.counts = {"setup_s": 12.0, "recall.ivf_flat": 1.0}
    out = run.end_to_end("build_maintain", ctx)
    assert list(out) == list(run.END_TO_END)
    assert out["round_p50_s"] == 60.0 and out["bulk_items_per_s"] == 200.0
    assert out["recall_min"] == 1.0
    # delete and compact never ran, so the write figure has no value
    assert out["write_p50_s"] is None and out["light_op_p50_s"] is None
    ctx.counts = {"setup_s": 12.0}
    assert run.end_to_end("dedup", ctx)["recall_min"] is None


# ---- names ----

def test_benchmark_names_match_the_runner():
    from perfbench import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    e2e = [m["name"] for m in bench["end_to_end"]]
    layer = [m["name"] for m in bench["per_layer"]]
    for n in names + e2e + layer:
        assert NAME.fullmatch(n), n
    assert len(set(e2e + layer)) == len(e2e) + len(layer)
    assert sorted(names) == sorted(run.WORKLOADS)
    assert e2e == list(run.END_TO_END)
    assert layer == list(run.per_layer_names())
    assert len(layer) <= 128
