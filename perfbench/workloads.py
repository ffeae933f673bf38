"""The benchmark's two workloads, driven through the public operator API.

Each workload is one client thread in a closed loop: a call is issued
only after the previous one has returned and its result has been
collected and checked. A workload has

- ``prepare(ctx)``: generate the seeded inputs and write them as
  parquet. It is set-up work; the runner times it several times and
  reports the median.
- ``warm(ctx, state)``: start-up work left after ``prepare`` that no
  sample should pay for; counted in set-up.
- ``cycle(ctx, state)``: one round of the workload's traffic. The
  runner repeats it for the measured seconds.

Every public call runs inside ``ctx.call(span, label, fn)``: one span
named ``<module>.<function>`` (its own Spark job group when tracing),
one latency sample under ``label``. Output checks run outside the
timed calls, under the ``bench.check`` span, and each failed check
counts as a failed operation.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field, fields

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.eventlog import Span

K = 10


@dataclass
class Ctx:
    spark: object
    work: str  # scratch directory inside the checkout
    seed: int
    traced: bool
    measuring: bool = False
    rounds: int = 0  # whole cycles measured so far
    attempted: int = 0
    failed: int = 0
    spans: list[Span] = field(default_factory=list)
    samples: dict[str, list[float]] = field(default_factory=dict)
    counts: dict[str, float] = field(default_factory=dict)
    recall_hits: dict[str, list[int]] = field(default_factory=dict)

    @contextmanager
    def span(self, name: str):
        gid = f"{name}#{len(self.spans)}"
        # only measured calls get a group (unique: it numbers the spans);
        # set-up and warm-up jobs stay untagged and out of the attribution
        tag = self.traced and self.measuring
        sc = self.spark.sparkContext
        if tag:
            sc.setJobGroup(gid, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            if tag:
                sc._jsc.clearJobGroup()
            if self.measuring:
                self.spans.append(Span(name, gid, t0 * 1e3, t1 * 1e3))

    def call(self, span: str, label: str | None, fn):
        """Run one public call as a timed operation; returns its result."""
        self.attempted += self.measuring
        t0 = time.perf_counter()
        with self.span(span):
            out = fn()
        if label:
            self.sample(label, time.perf_counter() - t0)
        return out

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", file=sys.stderr)

    def sample(self, label: str, seconds: float) -> None:
        if self.measuring:
            self.samples.setdefault(label, []).append(seconds)

    def add(self, key: str, value: float) -> None:
        if self.measuring:
            self.counts[key] = self.counts.get(key, 0) + value

    def score(self, family: str, found: dict[int, list[int]],
              truth: np.ndarray, qids: list[int]) -> None:
        """Check a top-k result's shape and add its hits to the family's
        recall tally (``truth`` rows indexed by query id)."""
        ok = all(len(found.get(q, ())) == K == len(set(found[q])) for q in qids)
        self.check(ok, f"{family}: not exactly {K} distinct ids per query")
        hits = sum(len(set(found.get(q, ())) & set(truth[q].tolist()))
                   for q in qids)
        if self.measuring:
            tally = self.recall_hits.setdefault(family, [0, 0])
            tally[0] += hits
            tally[1] += K * len(qids)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def run_cycle(ctx: Ctx, cycle, state) -> None:
    """One cycle. An exception fails the operation that raised it and
    ends the cycle; the loop goes on with the next one."""
    try:
        cycle(ctx, state)
    except Exception:  # noqa: BLE001 — the run reports it and carries on
        ctx.failed += 1
        traceback.print_exc(file=sys.stderr)


def start_workers(spark) -> None:
    """Run the session's first job and start the Python workers, so no
    measured call pays for them."""
    df = spark.range(4096)
    df.mapInPandas(lambda it: it, df.schema).count()


def topk_ids(df) -> dict[int, list[int]]:
    found: dict[int, list[int]] = {}
    for r in df.select("query_id", "vec_id").collect():
        found.setdefault(int(r[0]), []).append(int(r[1]))
    return found


def query_df(spark, vecs: gen.Vectors, rows: np.ndarray):
    return spark.createDataFrame(
        [(int(vecs.ids[i]), vecs.X[i].tolist()) for i in rows],
        "vec_id long, embedding array<float>",
    )


# --------------------------------------------------------------------------
# shared index build: coarse quantizer -> IVF-flat cells -> residual PQ codes
# --------------------------------------------------------------------------

CELLS = 12  # ~170 vectors per cell: hnsw_build blocks its candidates by cell
NPROBE = 3
PQ_M, PQ_K, PQ_ITERS = 16, 64, 5


@dataclass
class Index:
    """Where one build keeps its inputs and artifacts."""
    points: str
    ivf: str
    centroids: str
    codes: str
    pq: str

    @classmethod
    def under(cls, root: str) -> "Index":
        return cls(*(os.path.join(root, f.name) for f in fields(cls)))


def residual_codes_input(ivf_df, C):
    """Residual vectors (vector - cell centroid) of a written IVF index,
    the input PQ trains and encodes on (IVFADC)."""
    from vector_search_spark.operators import ivf

    return ivf.residuals(ivf_df, C).select(
        "vec_id", "cluster_id", F.col("residual").alias("embedding"))


def build_index(ctx: Ctx, points, ix: Index):
    """Train, write and persist the IVF-flat and IVF-PQ indexes."""
    from vector_search_spark.operators import ivf, kmeans, pq as pqm

    spark = ctx.spark
    C = ctx.call("kmeans.train_coarse", None, lambda: kmeans.train_coarse(
        points, k=CELLS, seed=ctx.seed))

    def write():
        ivf.write_index(ivf.assign_clusters(points, C), ix.ivf)
        ivf.save_centroids(spark, C, ix.centroids)

    ctx.call("ivf.write_index", None, write)
    resid = residual_codes_input(spark.read.parquet(ix.ivf), C)
    model, iters = ctx.call("pq.train_pq", None, lambda: pqm.train_pq(
        resid, m=PQ_M, k=PQ_K, seed=ctx.seed, max_iter=PQ_ITERS))
    ctx.add("pq.train_pq.iterations", iters)
    ctx.add("pq.train_pq.calls", 1)

    def encode():
        codes = pqm.encode(resid, model).join(
            resid.select("vec_id", "cluster_id"), "vec_id")
        ivf.write_index(codes, ix.codes)
        pqm.save_model(spark, model, ix.pq)

    ctx.call("pq.encode", None, encode)
    return C


# --------------------------------------------------------------------------
# build_maintain: the vector user path — build and persist the indexes,
# walk the new HNSW graph, serve a batch mix, then upsert / delete /
# compact with a read after every write
# --------------------------------------------------------------------------

VEC_N = 2000
QUERY_POOL = 512
READ_NQ = 16  # the batch read after every write
# the serving batch mix of one cycle, in order: (index family, nq)
SERVE_MIX = (("flat", 1), ("flat", 64), ("pq", 16), ("sharded", 16))
UPSERT_SHARE, DELETE_SHARE = 0.01, 0.005
MISSING_PER_DELETE = 5
CALIBRATE_CALLS = 3


@dataclass
class VecState:
    ix: Index
    base: gen.Vectors
    queries: gen.Vectors
    truth: np.ndarray  # exact top-k of every pool query over the base set
    upsert: gen.Vectors
    delete: list[int]
    cursor: int = 0

    def batch(self, ctx: Ctx, nq: int):
        rows = (self.cursor + np.arange(nq)) % QUERY_POOL
        self.cursor = int(rows[-1] + 1)
        return query_df(ctx.spark, self.queries, rows), [int(i) for i in rows]


def vec_prepare(ctx: Ctx) -> VecState:
    base = gen.make_vectors(ctx.seed, 0, VEC_N)
    queries = gen.make_vectors(ctx.seed, 1, QUERY_POOL)
    rng = np.random.default_rng([ctx.seed, 4])
    n_up = int(VEC_N * UPSERT_SHARE)
    # half new ids, half replacements of live ids (which may change cell)
    upsert = gen.make_vectors(ctx.seed, 10, n_up, first_id=VEC_N)
    upsert.ids[: n_up // 2] = rng.choice(VEC_N, size=n_up // 2, replace=False)
    live = np.union1d(base.ids, upsert.ids)
    dels = rng.choice(live, size=int(VEC_N * DELETE_SHARE), replace=False)
    # ids never in the index exercise the n_missing accounting
    missing = range(10**9, 10**9 + MISSING_PER_DELETE)
    ctx.counts["content_hash"] = gen.content_hash(base, queries, upsert)
    st = VecState(Index.under(ctx.path("vec")), base, queries,
                  gen.exact_topk(base.ids, base.X, queries.X, K), upsert,
                  [int(i) for i in dels] + list(missing))
    gen.write_vectors(base, st.ix.points)
    return st


def _index_health(ctx: Ctx, path: str, expected: int, what: str) -> None:
    with ctx.span("bench.check"):
        r = ctx.spark.read.parquet(path).agg(
            F.count(F.lit(1)), F.countDistinct("vec_id")
        ).first()
    ctx.check(r[0] == expected, f"{what}: index has {r[0]} rows, expected {expected}")
    ctx.check(r[0] == r[1], f"{what}: an id appears in two cells")


def _walk(ctx: Ctx, st: VecState, hg, points) -> None:
    from vector_search_spark.operators import graph

    q, qids = st.batch(ctx, 16)

    def descend():
        qb = graph.collect_query_batch(q)
        return qb, graph.descend_entry_points(hg, points, q, query_batch=qb)

    qb, seeds = ctx.call("graph.descend_entry_points", None, descend)
    found = ctx.call("graph.greedy_search", None, lambda: topk_ids(
        graph.greedy_search(hg, points, q, k=K, ef=48, max_hops=1, seeds=seeds,
                            expand=5, early_stop=False, query_batch=qb)))
    ctx.score("hnsw_walk", found, st.truth, qids)


def _serve_mix(ctx: Ctx, st: VecState, ix: Index, C) -> None:
    from vector_search_spark.operators import hnsw_sharded, ivf

    spark = ctx.spark
    for kind, nq in SERVE_MIX:
        q, qids = st.batch(ctx, nq)
        if kind == "flat":
            found = ctx.call("ivf.search_index", f"ivf_flat_nq{nq}", lambda: topk_ids(
                ivf.search_index(spark, ix.ivf, ix.centroids, q, k=K, nprobe=NPROBE)))
            ctx.add("ivf.search_index.results", nq * K)
            ctx.score("ivf_flat", found, st.truth, qids)
        elif kind == "pq":
            found = ctx.call("ivf.adc_search_index", f"ivf_pq_refined_nq{nq}",
                             lambda: topk_ids(ivf.adc_search_index(
                                 spark, ix.codes, ix.centroids, ix.pq, q, k=K,
                                 nprobe=NPROBE, residual=True,
                                 points_path=ix.points, shortlist=5 * K)))
            ctx.score("ivf_pq_refined", found, st.truth, qids)
        else:
            found = ctx.call("hnsw_sharded.hnsw_sharded_topk", f"hnsw_sharded_nq{nq}",
                             lambda: topk_ids(hnsw_sharded.hnsw_sharded_topk(
                                 spark.read.parquet(ix.points), C, q, k=K, m=8,
                                 ef_construction=32, ef=48, nprobe=3)))
            ctx.score("hnsw_sharded", found, st.truth, qids)


def vec_cycle(ctx: Ctx, st: VecState) -> None:
    from vector_search_spark.operators import graph, ivf

    spark, ix = ctx.spark, st.ix
    points = spark.read.parquet(ix.points)
    t0 = time.perf_counter()
    C = build_index(ctx, points, ix)
    ctx.sample("build", time.perf_counter() - t0)
    _index_health(ctx, ix.ivf, VEC_N, "write_index")
    t0 = time.perf_counter()
    hg = ctx.call("graph.hnsw_build", "hnsw_build", lambda: graph.hnsw_build(
        points, C, m=8, ef_construction=32, seed=ctx.seed))
    t1 = time.perf_counter()
    _walk(ctx, st, hg, points)
    t2 = time.perf_counter()
    ctx.sample("hnsw_walk_nq16", t2 - t1)
    ctx.sample("graph", t2 - t0)  # HNSW build + walk
    _serve_mix(ctx, st, ix, C)
    ctx.sample("serve_mix", time.perf_counter() - t2)

    vecs = dict(zip(st.base.ids.tolist(), st.base.X))

    def read() -> None:
        q, qids = st.batch(ctx, READ_NQ)
        found = ctx.call("ivf.search_index", "read_after_write_nq16", lambda: topk_ids(
            ivf.search_index(spark, ix.ivf, ix.centroids, q, k=K, nprobe=NPROBE)))
        ctx.add("ivf.search_index.results", READ_NQ * K)
        live = np.fromiter(vecs, dtype=np.int64)
        truth = gen.exact_topk(live, np.vstack([vecs[i] for i in live]),
                               st.queries.X[qids], K)
        ctx.score("after_writes", found, dict(zip(qids, truth)), qids)

    t_round = time.perf_counter()
    up = query_df(spark, st.upsert, np.arange(len(st.upsert.ids)))
    ctx.call("ivf.upsert_index", "upsert", lambda: ivf.upsert_index(
        spark, ix.ivf, up, C))
    vecs.update(zip(st.upsert.ids.tolist(), st.upsert.X))
    _index_health(ctx, ix.ivf, len(vecs), "upsert_index")
    read()
    acct = ctx.call("ivf.delete_ids", "delete",
                    lambda: ivf.delete_ids(spark, ix.ivf, st.delete))
    n_live = sum(1 for i in st.delete if vecs.pop(i, None) is not None)
    ctx.check(acct["n_requested"] == acct["n_deleted"] + acct["n_missing"],
              f"delete_ids accounting {acct}")
    ctx.check(acct["n_deleted"] == n_live,
              f"delete_ids deleted {acct['n_deleted']}, expected {n_live}")
    _index_health(ctx, ix.ivf, len(vecs), "delete_ids")
    read()
    ctx.sample("maintain_round", time.perf_counter() - t_round)
    ctx.call("ivf.compact_index", "compact", lambda: ivf.compact_index(
        spark, ix.ivf, max_files_per_cell=1))
    _index_health(ctx, ix.ivf, len(vecs), "compact_index")
    read()


def vec_warm(ctx: Ctx, st: VecState) -> None:
    """The cycle runs each operator once, so its samples carry each call's
    first-use planning and code generation, as a fresh build job does;
    only session-wide start-up moves into set-up."""
    start_workers(ctx.spark)


def vec_calibrate(ctx: Ctx, st: VecState) -> None:
    """Light operation for the tracing-overhead comparison: nq-1 searches
    over the index the cycle left on disk."""
    from vector_search_spark.operators import ivf

    ix = st.ix
    for i in range(CALIBRATE_CALLS):
        q = query_df(ctx.spark, st.queries, np.array([i]))
        ctx.call("bench.calibrate", "calibrate", lambda: topk_ids(
            ivf.search_index(ctx.spark, ix.ivf, ix.centroids, q, k=K, nprobe=NPROBE)))


# --------------------------------------------------------------------------
# dedup: MinHash-LSH pairs -> connected components -> keep canonical
# --------------------------------------------------------------------------

DEDUP_N = 2000
CALIBRATE_N = 400
WARM_PASSES = 2
# 8 bands of 3 rows: a two-member injected group (Jaccard >= 0.91) misses
# every band with probability ~3e-6, so each group collapses, while
# unrelated documents that share a few common shingles rarely collide
MH = {"shingle_n": 3, "num_perms": 24, "rows_per_band": 3, "threshold": 0.5}


@dataclass
class DedupState:
    n: int
    docs_path: str
    out_path: str
    all_ids: set[int]
    losers: set[int]
    pairs: set[tuple[int, int]]


def dedup_prepare(ctx: Ctx, n: int = DEDUP_N) -> DedupState:
    docs = gen.make_docs(ctx.seed, n)
    st = DedupState(n, ctx.path(f"dedup{n}", "docs"), ctx.path(f"dedup{n}", "kept"),
                    set(docs.ids.tolist()), gen.expected_losers(docs.groups),
                    gen.group_pairs(docs.groups))
    if n == DEDUP_N:
        ctx.counts["content_hash"] = gen.content_hash(docs)
    gen.write_docs(docs, st.docs_path)
    return st


def dedup_cycle(ctx: Ctx, st: DedupState) -> None:
    from vector_search_spark.operators import dedup

    spark = ctx.spark
    docs = spark.read.parquet(st.docs_path)
    t0 = time.perf_counter()
    pairs = ctx.call("dedup.minhash_lsh_pairs", "pairs", lambda: dedup.minhash_lsh_pairs(
        docs, **MH).localCheckpoint())
    t1 = time.perf_counter()
    groups = ctx.call("dedup.connected_components", "components",
                      lambda: dedup.connected_components(pairs).localCheckpoint())
    # the near-dup graph: its edges (the pairs) and its components
    ctx.sample("pair_graph", time.perf_counter() - t0)
    ctx.call("dedup.keep_canonical", "keep", lambda: dedup.keep_canonical(
        docs, groups).write.mode("overwrite").parquet(st.out_path))
    t2 = time.perf_counter()
    ctx.sample("dedup_pass", t2 - t0)
    ctx.sample("canonicalize", t2 - t1)
    with ctx.span("bench.check"):
        found = {(int(r.a), int(r.b)) for r in pairs.select("a", "b").collect()}
        canon = {int(r.node): int(r.canonical_id)
                 for r in groups.select("node", "canonical_id").collect()}
    kept = set(pq.read_table(st.out_path, columns=["doc_id"])["doc_id"].to_pylist())
    ctx.check(st.all_ids - kept == st.losers,
              f"keep_canonical removed {len(st.all_ids - kept)} docs, "
              f"expected {len(st.losers)}")
    collapsed = all(canon.get(a) == canon.get(b) is not None for a, b in st.pairs)
    ctx.check(collapsed, "an injected near-dup group did not collapse to one id")
    if ctx.measuring:
        tally = ctx.recall_hits.setdefault("dup_pairs", [0, 0])
        tally[0] += len(found & st.pairs)
        tally[1] += len(st.pairs)
        ctx.add("dedup.minhash_lsh_pairs.verified", len(found))
        ctx.add("dedup.passes", 1)


def dedup_warm(ctx: Ctx, st: DedupState) -> None:
    """The first pass spends ~6 s generating code whatever the corpus
    size, so it runs over the small calibration corpus; the passes after
    it keep getting faster while the JVM compiles the hot paths, and the
    steepest of that moves into set-up with passes over the measured
    corpus."""
    run_cycle(ctx, dedup_cycle, dedup_prepare(ctx, CALIBRATE_N))
    for _ in range(WARM_PASSES):
        run_cycle(ctx, dedup_cycle, st)


def dedup_calibrate(ctx: Ctx, st: DedupState) -> None:
    """Light operation for the tracing-overhead comparison: the pair
    stage over a small corpus."""
    from vector_search_spark.operators import dedup

    path = dedup_prepare(ctx, CALIBRATE_N).docs_path
    for _ in range(CALIBRATE_CALLS):
        ctx.call("bench.calibrate", "calibrate", lambda: dedup.minhash_lsh_pairs(
            ctx.spark.read.parquet(path), **MH).count())


def dedup_candidates(ctx: Ctx, st: DedupState) -> int:
    """LSH candidate pairs before exact verification, for the traced
    run's verified-per-candidate ratio (same parameters as the pass)."""
    from vector_search_spark.operators import dedup

    docs = ctx.spark.read.parquet(st.docs_path)
    with ctx.span("bench.check"):
        sh = dedup.shingle_table(docs, MH["shingle_n"])
        wide = dedup.minhash_signatures_wide(sh, MH["num_perms"])
        buckets = dedup.lsh_buckets_wide(wide, MH["rows_per_band"], MH["num_perms"])
        return dedup.lsh_candidate_pairs(buckets).count()


@dataclass
class Workload:
    prepare: object
    cycle: object
    warm: object  # unmeasured start-up after prepare, counted in set-up
    calibrate: object  # light operation timed with and without tracing
    items: int  # input size behind bulk_items_per_s


WORKLOADS = {
    "build_maintain": Workload(vec_prepare, vec_cycle, vec_warm, vec_calibrate,
                               VEC_N),
    "dedup": Workload(dedup_prepare, dedup_cycle, dedup_warm, dedup_calibrate,
                      DEDUP_N),
}
