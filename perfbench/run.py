"""Benchmark entry point.

    python3 perfbench/run.py --workload build_maintain --seed 1 --seconds 14 --trace 0

Runs one workload of perfbench/workloads.py on ``local[4]`` from the
root of a source checkout and prints, as the last line of stdout, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. The line
before it is a detail record with the workload's named metrics, each
with its sample count, and the inputs' content hash.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
workload with Spark's event log on and one job group per public call,
and reports the per-layer metrics read back from the log plus the
tracing overhead: the workload's light calibration call timed in a
fresh untraced session and in a fresh traced one, warmed up alike.

All files the run makes stay under ``.perfbench_work/`` in the checkout
and are removed at exit; the Spark JVM is stopped before exiting.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import eventlog, stats  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    WORKLOADS, Ctx, dedup_candidates, run_cycle, start_workers)

MASTER = "local[4]"
SETUP_PASSES = 3

# Recall@10 floors per index family, set from seed runs with margin
RECALL_FLOOR = {
    "ivf_flat": 0.90,
    "ivf_pq_refined": 0.75,
    "hnsw_sharded": 0.85,
    "hnsw_walk": 0.40,
    "after_writes": 0.90,
    "dup_pairs": 0.99,
}

END_TO_END = {  # name -> (unit, better)
    "setup_s": ("s", "lower"),
    "round_p50_s": ("s", "lower"),
    "light_op_p50_s": ("s", "lower"),
    "bulk_items_per_s": ("1/s", "higher"),
    "graph_p50_s": ("s", "lower"),
    "query_p50_s": ("s", "lower"),
    "write_p50_s": ("s", "lower"),
    "recall_min": ("ratio", "higher"),
}

SPANS = (
    "kmeans.train_coarse", "pq.train_pq", "pq.encode", "ivf.write_index",
    "ivf.search_index", "ivf.adc_search_index", "ivf.upsert_index",
    "ivf.delete_ids", "ivf.compact_index", "graph.hnsw_build",
    "graph.descend_entry_points", "graph.greedy_search",
    "hnsw_sharded.hnsw_sharded_topk", "dedup.minhash_lsh_pairs",
    "dedup.connected_components", "dedup.keep_canonical",
)
FIELD_UNITS = {"wall_s": "s", "jobs": "count", "cpu_s": "s", "task_s": "s",
               "idle_s": "s", "shuffle_bytes": "bytes", "result_bytes": "bytes"}
RATIOS = {  # name -> unit
    "ivf.search_index.rows_per_result": "ratio",
    "pq.train_pq.iterations": "count",
    "dedup.minhash_lsh_pairs.verified_per_candidate": "ratio",
    "jobs_per_round": "count",
    "trace_overhead_share": "ratio",
}


def per_layer_names() -> dict[str, str]:
    names = {f"{s}.{f}": u for s in SPANS for f, u in FIELD_UNITS.items()}
    return names | RATIOS


def start_spark(work: str, logdir: str | None):
    """A ``local[4]`` session; with the event log written under
    ``logdir`` when that is given (the traced session)."""
    from vector_search_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # set both ways: the session builder keeps options across sessions
        "spark.eventLog.enabled": str(logdir is not None).lower(),
    }
    if logdir is not None:
        os.makedirs(logdir, exist_ok=True)
        conf |= {
            "spark.eventLog.dir": "file://" + logdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = get_spark(app_name="perfbench", master=MASTER,
                      shuffle_partitions=4, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def measure(name: str, seed: int, seconds: float, work: str, traced: bool):
    """One pass: session, set-up passes, the workload's warm-up, then
    whole cycles of the workload until ``seconds`` have passed. Returns
    the context and the workload state; the session is left running."""
    wl = WORKLOADS[name]
    t0 = time.perf_counter()
    spark = start_spark(work, os.path.join(work, "eventlog") if traced else None)
    ctx = Ctx(spark, work, seed, traced)
    once = time.perf_counter() - t0
    passes = []
    for _ in range(1 if traced else SETUP_PASSES):
        t1 = time.perf_counter()
        state = wl.prepare(ctx)
        passes.append(time.perf_counter() - t1)
    t1 = time.perf_counter()
    wl.warm(ctx, state)
    once += time.perf_counter() - t1
    ctx.measuring = True
    start = time.perf_counter()
    while ctx.rounds == 0 or time.perf_counter() - start < seconds:
        t1 = time.perf_counter()
        run_cycle(ctx, wl.cycle, state)
        ctx.samples.setdefault("cycle", []).append(time.perf_counter() - t1)
        ctx.rounds += 1
    ctx.measuring = False
    ctx.counts["setup_s"] = once + statistics.median(passes)
    ctx.counts["setup_once_s"] = once
    ctx.counts["setup_passes_s"] = passes
    if traced and name == "dedup":
        ctx.counts["candidates"] = dedup_candidates(ctx, state)
    for family, (hits, total) in ctx.recall_hits.items():
        r = hits / total
        ctx.counts[f"recall.{family}"] = r
        ctx.check(r >= RECALL_FLOOR[family],
                  f"recall {family} {r:.4f} below floor {RECALL_FLOOR[family]}")
    return ctx, state


def calibrate(name: str, ctx: Ctx, state) -> float:
    """Median latency of the workload's light calibration call, timed
    after one unmeasured round of it."""
    WORKLOADS[name].calibrate(ctx, state)
    ctx.measuring = True
    WORKLOADS[name].calibrate(ctx, state)
    ctx.measuring = False
    return statistics.median(ctx.samples.pop("calibrate"))


def tracing_overhead(name: str, state, work: str, seed: int) -> float:
    """Traced minus untraced latency of the calibration call, as a share
    of the untraced one. Each side runs in a fresh session of its own
    over the files the measured run left on disk, after the same
    warm-up, so JVM warmth weighs the same on both; the traced side logs
    to a directory of its own, apart from the measured run's log."""
    median = {}
    for logdir in (None, os.path.join(work, "calibrate-eventlog")):
        spark = start_spark(work, logdir)
        try:
            start_workers(spark)
            median[logdir] = calibrate(
                name, Ctx(spark, work, seed, logdir is not None), state)
        finally:
            spark.stop()
    plain, traced = median.values()
    return (traced - plain) / plain


def p50(ctx: Ctx, label: str) -> float | None:
    """Median of a timing label; None when a failed call left no sample."""
    xs = ctx.samples.get(label)
    return statistics.median(xs) if xs else None


def rate(n: int, seconds: float | None) -> float | None:
    return None if seconds is None else n / seconds


def end_to_end(name: str, ctx: Ctx) -> dict[str, float | None]:
    """Every end-to-end metric; None for one whose samples are missing."""
    c = ctx.counts
    # the graph walk answers one 16-query batch per run and its recall
    # swings with the seed, so it has a floor but no say here
    recall = min((v for k, v in c.items()
                  if k.startswith("recall.") and k != "recall.hnsw_walk"),
                 default=None)
    n = WORKLOADS[name].items
    if name == "build_maintain":
        writes = [p50(ctx, w) for w in ("upsert", "delete", "compact")]
        vals = {
            "round_p50_s": p50(ctx, "cycle"),
            "light_op_p50_s": p50(ctx, "read_after_write_nq16"),
            "bulk_items_per_s": rate(n, p50(ctx, "build")),
            "graph_p50_s": p50(ctx, "graph"),
            "query_p50_s": p50(ctx, "serve_mix"),
            "write_p50_s": None if None in writes else sum(writes),
        }
    else:
        vals = {
            "round_p50_s": p50(ctx, "dedup_pass"),
            "light_op_p50_s": p50(ctx, "canonicalize"),
            "bulk_items_per_s": rate(n, p50(ctx, "pairs")),
            "graph_p50_s": p50(ctx, "pair_graph"),
            "query_p50_s": p50(ctx, "pairs"),
            "write_p50_s": p50(ctx, "keep"),
        }
    vals |= {"setup_s": c["setup_s"], "recall_min": recall}
    return {m: vals[m] for m in END_TO_END}


def detail(name: str, ctx: Ctx) -> dict:
    """The workload's named metrics: every timing label with its median,
    tail percentile (when ten samples lie beyond it) and sample count."""
    out = {label: stats.summarize(v) for label, v in sorted(ctx.samples.items())}
    c = ctx.counts
    n = WORKLOADS[name].items
    if name == "build_maintain":
        out["ivf_flat_nq64_qps"] = rate(64, p50(ctx, "ivf_flat_nq64"))
        out["build_vectors_per_s"] = rate(n, p50(ctx, "build"))
    else:
        out["dedup_docs_per_s"] = rate(n, p50(ctx, "pairs"))
    out |= {k: v for k, v in c.items() if k.startswith("recall.")}
    out["failed_op_share"] = ctx.failed / max(1, ctx.attempted)
    out["rounds"] = ctx.rounds
    out["setup_once_s"] = c["setup_once_s"]
    out["setup_passes_s"] = c["setup_passes_s"]
    out["content_hash"] = c["content_hash"]
    return out


def per_layer(ctx: Ctx, spans: dict[str, dict], overhead: float) -> dict[str, float]:
    """Every per-layer metric: per-call means of each span's fields
    (zeros for spans the workload never calls), the ratios, and the
    tracing overhead."""
    out = {}
    for s in SPANS:
        acc = spans.get(s)
        for f in FIELD_UNITS:
            out[f"{s}.{f}"] = acc[f] if acc else 0.0
    c = ctx.counts
    si = spans.get("ivf.search_index")
    out["ivf.search_index.rows_per_result"] = (
        si["input_records"] / c["ivf.search_index.results"]
        if si and c.get("ivf.search_index.results") else 0.0)
    out["pq.train_pq.iterations"] = (
        c["pq.train_pq.iterations"] / c["pq.train_pq.calls"]
        if c.get("pq.train_pq.calls") else 0.0)
    out["dedup.minhash_lsh_pairs.verified_per_candidate"] = (
        c["dedup.minhash_lsh_pairs.verified"] / c["dedup.passes"] / c["candidates"]
        if c.get("candidates") and c.get("dedup.passes") else 0.0)
    out["jobs_per_round"] = sum(
        a["jobs"] * a["calls"] for n, a in spans.items() if n in SPANS
    ) / ctx.rounds
    out["trace_overhead_share"] = overhead
    return out


def stop_gateway() -> None:
    """Stop the py4j gateway and wait for the Spark JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — the JVM must not outlive the run
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "vector_search_spark")):
        print(f"no vector_search_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    try:
        ctx, state = measure(args.workload, args.seed, args.seconds, work,
                             bool(args.trace))
        print(json.dumps({"detail": detail(args.workload, ctx)}))
        ctx.spark.stop()  # also closes the event log
        if args.trace:
            overhead = tracing_overhead(args.workload, state, work, args.seed)
            (logfile,) = glob.glob(os.path.join(work, "eventlog", "*"))
            spans = eventlog.per_span(ctx.spans, eventlog.read_groups(logfile))
            print(json.dumps({"spans": spans}))
            units = per_layer_names()
            metrics = {m: {"value": v, "unit": units[m]}
                       for m, v in per_layer(ctx, spans, overhead).items()}
        else:
            values = end_to_end(args.workload, ctx)
            missing = [m for m, v in values.items() if v is None]
            ctx.check(not missing, f"no samples behind {missing}")
            metrics = {m: {"value": v, "unit": END_TO_END[m][0]}
                       for m, v in values.items() if v is not None}
    finally:
        stop_gateway()
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
