"""Batch kNN-graph construction + HNSW-style layered graph + greedy
search demonstrator.

The reference builds its HNSW graph incrementally, one vector at a time,
against shared in-memory adjacency (py/hnsw.py:337-392). Batch-first
Spark replaces that with (SURVEY.md §7 step 7):

1. ``knn_graph_blocked`` — IVF-cell-blocked candidate generation: each
   point is routed to its ``nprobe`` nearest coarse cells; candidate
   pairs exist only within a shared cell, scored per-cell with a BLAS
   gemm inside ``applyInPandas``. Work is Σ|cell|·|routed-to-cell|
   instead of N² — the standard distributed NN-descent seed.
2. ``hnsw_levels`` — the paper's geometric level draw
   ``floor(-ln(U)·m_L)`` as a Catalyst expression (seeded F.rand). The
   reference's two deviations from the paper (multiplier inside the
   log, M_max0 chosen by the new element's level — SURVEY.md §2.8 ⚠)
   are deliberately NOT replicated.
3. ``select_neighbors_heuristic`` — the diversity-pruning rule
   (py/hnsw.py:295-320): admit candidate c iff it is closer to the
   node than to every already-admitted neighbor. Sequential per node →
   the one justified pandas UDF (applyInPandas per src group).
4. ``hnsw_build`` — levels + per-layer blocked graph + heuristic
   pruning + symmetrization → a layered edge DataFrame artifact.
5. ``descend_entry_points`` — the reference's upper-layer greedy
   descent (ef=1 walk to each layer's local minimum): per layer, the
   argmin of the anchor's bounded-hop ring, then layer-1 probes.
6. ``greedy_search`` — batch frontier-expansion over the edge artifact:
   all queries advance one hop per iteration (frontier⋈edges minus
   visited, score, keep top-ef). Descent-seeded, 2-3 hops suffice
   (recall 1.0 at sf0.1); the value oracle for the walk itself is the
   ``graph_greedy_search`` catalog query.

Steps 5-6 run in one of two forms with identical rows. When the
graph's exact size bound (``HNSWGraph.edges_size_hint``: edge rows plus
node id/vector rows) fits ``VSS_EDGE_BCAST_BYTES``, the edges and the
vectors are collected once per call, capped at that bound, and
``_DriverWalk`` replays the walk per query in numpy on the driver —
two jobs instead of ~20. Above the budget, at budget 0, or when the
points table is not exactly the graph's nodes, the walk runs
distributed: relational hop joins, one Spark job per layer or hop.
The production distributed ANN paths remain operators/ivf.py and
hnsw_sharded.py.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import partial, reduce

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from vector_search_spark.functions.distance import as_double_array, l2_sqr
from vector_search_spark.functions.fanout import coalesce_small
from vector_search_spark.operators import kmeans, knn, pq

__all__ = [
    "route_to_cells",
    "knn_graph_blocked",
    "hnsw_levels",
    "select_neighbors_heuristic",
    "symmetrize_and_cap",
    "hnsw_build",
    "save_graph",
    "load_graph",
    "collect_query_batch",
    "descend_entry_points",
    "greedy_search",
    "graph_height",
    "layer_node_counts",
    "neighbors_of",
    "degree_stats",
]


# ---------------------------------------------------------------------------
# Graph metadata probes (reference Graph class, py/hnsw.py:15-80:
# GetHeight / IsLayerEmpty / LayerNodeCnt / LayerNodeAdjCnt /
# GetNeighbors / GetLayerNodes) — plain aggregates over the edge
# DataFrame ``(layer?, src, dst, dist)``.
# ---------------------------------------------------------------------------


def graph_height(edges: DataFrame) -> int:
    """Number of layers (reference GetHeight, py/hnsw.py:15-20)."""
    if "layer" not in edges.columns:
        return 1
    top = edges.agg(F.max("layer")).first()[0]
    return 0 if top is None else int(top) + 1


def layer_node_counts(edges: DataFrame) -> DataFrame:
    """(layer, nodes, edges) per layer — LayerNodeCnt/LayerNodeAdjCnt
    (py/hnsw.py:34-57) for every layer in one aggregate."""
    layered = (
        edges
        if "layer" in edges.columns
        else edges.withColumn("layer", F.lit(0))
    )
    return layered.groupBy("layer").agg(
        F.countDistinct("src").alias("nodes"),
        F.count(F.lit(1)).alias("edges"),
    )


def neighbors_of(edges: DataFrame, node: int, layer: int = 0) -> DataFrame:
    """Out-neighbors of a node at a layer (GetNeighbors, py/hnsw.py:59-71)."""
    layered = (
        edges
        if "layer" in edges.columns
        else edges.withColumn("layer", F.lit(0))
    )
    return (
        layered.filter(
            (F.col("layer") == layer) & (F.col("src") == node)
        ).select("dst", "dist")
    )


def degree_stats(edges: DataFrame) -> DataFrame:
    """Per-node out-degree + distance stats of a kNN-graph edge list —
    the relational form of the reference's adjacency probes."""
    return edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("int").alias("degree"),
        F.avg("dist").alias("mean_dist"),
        F.max("dist").alias("max_dist"),
    )


def route_to_cells(
    points: DataFrame,
    centroids: np.ndarray,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, cell, probe_rank, vec[, carry...]) — each point assigned to
    its nprobe nearest coarse cells; probe_rank 0 is the home cell.
    Scored against the broadcast centroid matrix in one mapInPandas
    pass. ``carry_cols`` (int-typed) ride along through the pass so
    callers don't need a post-routing join to re-attach them."""
    bc = points.sparkSession.sparkContext.broadcast(
        centroids.astype(np.float64)
    )
    src = points.select(
        F.col(id_col).alias("vec_id"),
        as_double_array(vec_col).alias("v"),
        *[F.col(c) for c in carry_cols],
    )
    npb = nprobe

    def fn(batches):
        C = bc.value
        for pdf, X in kmeans._batch_vectors(batches, "v"):
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            D = kmeans._sq_dists(X, C)
            m = min(npb, D.shape[1])
            cells = np.argsort(D, axis=1, kind="stable")[:, :m]
            n = len(vids)
            out = {
                "vec_id": np.repeat(vids, m),
                "cell": cells.reshape(-1).astype(np.int32),
                "probe_rank": np.tile(np.arange(m, dtype=np.int32), n),
                "v": list(np.repeat(pdf["v"].to_numpy(), m)),
            }
            for c in pdf.columns:
                if c not in ("vec_id", "v"):
                    out[c] = np.repeat(pdf[c].to_numpy(), m)
            yield pd.DataFrame(out)

    carry_schema = "".join(f", {c} int" for c in carry_cols)
    return src.mapInPandas(
        fn, f"vec_id long, cell int, probe_rank int, v array<double>{carry_schema}"
    )


_CELL_COLS = {"layer": np.int32, "src": np.int64, "dst": np.int64,
              "dist": np.float64}


def _cell_candidates(pdf: pd.DataFrame, kk: int) -> pd.DataFrame:
    """THE per-cell kernel of the blocked graph builds, one
    ``route_to_cells`` cell in: ``(layer, src, dst, dist)``, per layer
    each routed row's ``kk`` nearest home rows (self excluded, lowest
    ``dst`` among exact ties). Layer-l node sets are nested (level >=
    l), so one gemm serves every layer and each layer cuts the
    submatrix of members with ``level >= l``; a cell without a
    ``level`` column is one layer, 0 (:func:`knn_graph_blocked`)."""
    home = pdf[pdf["probe_rank"] == 0]
    if not len(home):
        return pd.DataFrame({c: [] for c in _CELL_COLS}).astype(_CELL_COLS)
    sid = pdf["vec_id"].to_numpy(dtype=np.int64)
    bid = home["vec_id"].to_numpy(dtype=np.int64)
    D = knn._gemm_batch_dists(
        "l2_sqr", np.vstack(pdf["v"].to_numpy()), np.vstack(home["v"].to_numpy())
    )
    D[sid[:, None] == bid[None, :]] = np.inf
    lev = "level" in pdf
    slev = pdf["level"].to_numpy(dtype=np.int64) if lev else np.zeros(len(sid))
    blev = home["level"].to_numpy(dtype=np.int64) if lev else np.zeros(len(bid))
    frames = []
    for layer in range(int(max(slev.max(), blev.max())) + 1):
        rs = np.nonzero(slev >= layer)[0]
        cs = np.nonzero(blev >= layer)[0]
        if not len(rs) or not len(cs):
            continue
        Dl = D[np.ix_(rs, cs)]
        qi, vj = knn._topk_rows(bid[cs], Dl, kk)
        frames.append(
            pd.DataFrame(
                {
                    "layer": np.full(len(qi), layer, dtype=np.int32),
                    "src": sid[rs[qi]],
                    "dst": bid[cs[vj]],
                    "dist": Dl[qi, vj],
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


def knn_graph_blocked(
    points: DataFrame,
    centroids: np.ndarray,
    k: int,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate kNN graph (src, dst, dist, rank): candidates are
    pairs sharing a coarse cell (src routed to nprobe cells, dst in its
    home cell), scored per cell with one gemm. A pair sharing several
    cells is deduped by min-dist before the global per-src top-k."""
    routed = route_to_cells(points, centroids, nprobe, id_col, vec_col)
    kk = k + 4  # per-cell pad absorbs cross-cell dedup

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        return _cell_candidates(pdf, kk).drop(columns="layer")

    scored = routed.groupBy("cell").applyInPandas(
        per_cell, "src long, dst long, dist double"
    )
    # One exchange serves BOTH the cross-cell min-dist dedup and the
    # per-src top-k (r17 optimization, guide §2.4): hash by src once —
    # hashpartitioning(src) satisfies the clustering requirement of the
    # (src, dst) dedup window AND the (src) rank window, so neither
    # inserts its own shuffle. The old groupBy(src,dst).min + rank
    # window shuffled the pair relation twice. Keep-first by ascending
    # dist == min-dist per pair (values identical; duplicate pairs from
    # shared cells carry bit-equal gemm distances).
    part = scored.repartition("src")
    w_dd = Window.partitionBy("src", "dst").orderBy("dist")
    w = Window.partitionBy("src").orderBy("dist", "dst")
    return (
        part.withColumn("_dd", F.row_number().over(w_dd))
        .filter(F.col("_dd") == 1)
        .drop("_dd")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def nn_descent_round(
    g: DataFrame,
    points: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One NN-descent refinement round (Dong et al., WWW 2011): propose
    neighbors-of-neighbors (both directions), score the new pairs, keep
    the best k per node. Pair volume is O(N·k²) — linear in N — and
    every step is a relational join/agg, so the round is one shuffle-
    bounded job. Two or three rounds converge on most data.

    The reference has no analog (its graph quality comes from the
    sequential insert order); this is the batch-idiomatic substitute.
    """
    from vector_search_spark.functions import distance as dist

    e = g.select("src", "dst")
    # undirected neighborhood: u—v if either direction is in g
    und = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    # neighbors-of-neighbors: src —mid— cand
    nn = (
        und.alias("a")
        .join(
            und.alias("b"),
            F.col("a.dst") == F.col("b.src"),
        )
        .select(
            F.col("a.src").alias("src"), F.col("b.dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .join(e, ["src", "dst"], "left_anti")  # only genuinely new pairs
    )
    vecs_s = points.select(
        F.col(id_col).alias("src"), as_double_array(vec_col).alias("sv")
    )
    vecs_d = points.select(
        F.col(id_col).alias("dst"), as_double_array(vec_col).alias("dv")
    )
    scored_new = (
        nn.join(vecs_s, "src")
        .join(vecs_d, "dst")
        .select("src", "dst", dist.l2_sqr("sv", "dv").alias("dist"))
    )
    merged = g.select("src", "dst", "dist").unionByName(scored_new)
    # merged is duplicate-free BY CONSTRUCTION: g's pairs are the prior
    # round's distinct top-k, scored_new's pairs are distinct()ed and
    # anti-joined against g — so the old groupBy(src,dst).min(dist) was
    # an identity that cost one full exchange per round (r17
    # optimization, guide §2.4: remove shuffles outright; values
    # bit-identical since min over a singleton is the value).
    w = Window.partitionBy("src").orderBy("dist", "dst")
    return (
        merged.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hnsw_levels(
    points: DataFrame,
    m_l: float,
    seed: int = 42,
    id_col: str = "vec_id",
) -> DataFrame:
    """Geometric level assignment, paper-faithful:
    level = floor(-ln(U) * m_L), U ~ Uniform(0,1)."""
    return points.select(
        F.col(id_col).alias("vec_id"),
        F.floor(-F.log(F.rand(seed)) * F.lit(m_l)).cast("int").alias("level"),
    )


def select_neighbors_heuristic(
    cand: DataFrame,
    points: DataFrame,
    m: int,
    keep_pruned: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_cols: tuple[str, ...] = ("src",),
    pre_dedup: bool = False,
    pre_topk: int | None = None,
) -> DataFrame:
    """HNSW diversity pruning (reference py/hnsw.py:295-320, paper
    Algorithm 4): scan candidates by ascending distance to the node;
    admit c iff d(c, node) < d(c, r) for every admitted r. Optionally
    backfill with pruned candidates (keep_pruned_connections).

    Sequential per node → applyInPandas on the src group; candidate
    vectors are joined in so each group is self-contained. Group size
    is bounded by the candidate k (small), so state is tiny.

    ``group_cols`` widens the grouping key (e.g. ``("layer", "src")``
    so one pass prunes every layer of a layered build at once).

    The physical grouping key is a SALTED bucket of src (not src
    itself): per-node groups are tiny (≤ ef_construction rows) and
    dispatching one Python call per node dominates runtime once there
    are thousands of nodes. Each bucket call loops its nodes with
    numpy-sliced views, amortizing the per-call cost ~100×.

    ``pre_dedup``/``pre_topk`` fold the upstream per-node
    ``groupBy(dst).min(dist)`` + top-k window INTO the same pass (the
    sort already orders by (dist, dst), so keep-first == min-dist and
    a row cap == window rank ≤ k) — two shuffle stages fewer when the
    caller feeds raw multi-cell candidates."""
    vecs = points.select(
        F.col(id_col).alias("dst"), as_double_array(vec_col).alias("dv")
    )
    n_buckets = 64
    enriched = cand.join(vecs, "dst").withColumn(
        "_b", F.pmod(F.hash("src"), F.lit(n_buckets)).cast("int")
    )
    extra = [c for c in group_cols if c != "src"]
    out_schema = (
        ", ".join(f"{c} int" for c in extra)
        + (", " if extra else "")
        + "src long, dst long, dist double"
    )
    sort_keys = extra + ["src", "dist", "dst"]
    grp_keys = extra + ["src"]

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_keys).reset_index(drop=True)
        V = np.vstack(pdf["dv"].to_numpy())
        dists = pdf["dist"].to_numpy()
        # group boundaries over the sorted frame
        key_codes = pd.MultiIndex.from_frame(pdf[grp_keys]).codes
        key_arr = np.column_stack(key_codes)
        change = np.any(key_arr[1:] != key_arr[:-1], axis=1)
        starts = np.concatenate(([0], np.nonzero(change)[0] + 1, [len(pdf)]))
        keep: list[int] = []
        for s, e in zip(starts[:-1], starts[1:]):
            idxs = range(s, e)
            if pre_dedup or pre_topk is not None:
                seen: set[int] = set()
                dst_arr = pdf["dst"].to_numpy()
                sel_idx: list[int] = []
                for i in idxs:
                    if pre_dedup:
                        d = int(dst_arr[i])
                        if d in seen:
                            continue
                        seen.add(d)
                    sel_idx.append(i)
                    if pre_topk is not None and len(sel_idx) >= pre_topk:
                        break
                idxs = sel_idx
            # One pairwise distance matrix per group (|g| <= pre_topk,
            # direct (a-b)^2 form so every entry is bit-identical to the
            # old per-pair ((c-V[j])**2).sum()), then the sequential
            # admission scan compares a candidate against ALL admitted
            # rows in one vectorized op — same strict-< first-wins
            # semantics, no per-pair python round trips.
            gidx = np.fromiter(idxs, dtype=np.int64)
            Vg = V[gidx]
            diff = Vg[:, None, :] - Vg[None, :, :]
            GG = (diff**2).sum(axis=-1)
            adm_loc: list[int] = []
            pruned_loc: list[int] = []
            for li in range(len(gidx)):
                if len(adm_loc) >= m:
                    break
                if adm_loc and bool(
                    (GG[li, adm_loc] < dists[gidx[li]]).any()
                ):
                    pruned_loc.append(li)
                else:
                    adm_loc.append(li)
            admitted = [int(gidx[li]) for li in adm_loc]
            pruned = [int(gidx[li]) for li in pruned_loc]
            if keep_pruned:
                for i in pruned:
                    if len(admitted) >= m:
                        break
                    admitted.append(i)
            keep.extend(admitted)
        sel = pdf.iloc[keep]
        out = {c: sel[c].to_numpy(dtype=np.int32) for c in extra}
        out.update(
            {
                "src": sel["src"].to_numpy(dtype=np.int64),
                "dst": sel["dst"].to_numpy(dtype=np.int64),
                "dist": sel["dist"].to_numpy(dtype=np.float64),
            }
        )
        return pd.DataFrame(out)

    return enriched.groupBy(*(extra + ["_b"])).applyInPandas(
        per_bucket, out_schema
    )


def symmetrize_and_cap(edges: DataFrame, m: int) -> DataFrame:
    """Bidirectional wiring + degree shrink (reference UpdateConnection
    + neighbor-shrink, py/hnsw.py:369-387): reverse every edge, union,
    then ONE shuffle does both the (layer?, src, dst) dedup and the
    per-node cap-at-m — collect each node's candidate list sorted by
    (dist, dst) and fold it with a keep-first-per-dst, stop-at-m
    aggregate (pure Catalyst HOFs). Replaces a groupBy-min + a rank
    window (two shuffle stages). Keep-first on the (dist, dst)-sorted
    list == min-dist per dst, so the fold equals dedup-then-rank<=m.

    ``edges`` = (src, dst, dist) with an optional leading ``layer``
    column; returns the same shape.
    """
    has_layer = "layer" in edges.columns
    grp = (["layer"] if has_layer else []) + ["src"]
    rev = edges.select(
        *([F.col("layer")] if has_layer else []),
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        "dist",
    )
    sym = edges.select(*grp, "dst", "dist").unionByName(rev)
    empty_acc = F.expr(
        "CAST(array() AS array<struct<dist:double,dst:bigint>>)"
    )
    return (
        sym.groupBy(*grp)
        .agg(
            F.sort_array(
                F.collect_list(F.struct("dist", "dst"))
            ).alias("cand")
        )
        .select(
            *grp,
            F.explode(
                F.aggregate(
                    "cand",
                    empty_acc,
                    lambda acc, x: F.when(
                        (F.size(acc) >= m)
                        | F.exists(acc, lambda a: a["dst"] == x["dst"]),
                        acc,
                    ).otherwise(F.array_append(acc, x)),
                )
            ).alias("e"),
        )
        .select(
            *grp,
            F.col("e.dst").alias("dst"),
            F.col("e.dist").alias("dist"),
        )
    )


@dataclass
class HNSWGraph:
    edges: DataFrame  # (layer, src, dst, dist)
    levels: DataFrame  # (vec_id, level)
    entry_point: int
    max_level: int
    # Exact upper bound, in driver bytes, of the edges plus the node
    # vectors (:func:`_size_bound`). A checkpointed LogicalRDD has no
    # stats, so the walk operators gate on this instead: when it fits
    # ``VSS_EDGE_BCAST_BYTES`` they walk on the driver, and the
    # distributed walk broadcasts the edges (one reused build per
    # layer) rather than the candidate chain. None = unknown = the
    # distributed walk with candidate-side broadcast (the always-safe,
    # caller-bounded choice).
    edges_size_hint: int | None = None


# Driver bytes of one collected edge row: (layer, src, dst) as int64.
_EDGE_BYTES = 24


def _size_bound(node_layers: int, n: int, m: int, dim: int) -> int:
    """Exact upper bound, in driver bytes, of a graph's edge rows plus
    its ``n`` nodes' (id, ``dim``-vector) rows as float64.
    ``symmetrize_and_cap`` keeps at most ``m`` edges per (layer, src),
    so the edge rows are at most
    m · Σₗ n(level ≥ l) = m · Σ_v (level_v + 1) = m · ``node_layers``."""
    return m * node_layers * _EDGE_BYTES + n * (dim + 1) * 8


def save_graph(graph: HNSWGraph, path: str) -> None:
    """Persist the graph artifact (round 7): edges parquet PARTITIONED
    BY LAYER, levels parquet, and a 1-row meta table. This completes
    the build-once/serve-many story the descent docstring assumes
    ("the artifact a real pipeline would persist beside the edge
    list"): a 100 TB deployment builds the graph in one job and every
    serving job ``load_graph``s it.

    Layer partitioning is the layout the read side wants: every walk
    filters ``edges.layer == l`` per hop, and the upper layers hold
    only ~N/m^l rows — directory-level partition pruning means a
    layer-5 probe reads kilobytes, not the layer-0 bulk (same
    economics as the IVF cell directories). Plain DataFrame writes —
    no driver I/O, any Hadoop scheme.
    """
    graph.edges.write.mode("overwrite").partitionBy("layer").parquet(
        f"{path}/edges"
    )
    graph.levels.write.mode("overwrite").parquet(f"{path}/levels")
    spark = graph.edges.sparkSession
    spark.createDataFrame(
        [(int(graph.entry_point), int(graph.max_level), graph.edges_size_hint)],
        "entry_point long, max_level int, size_bound long",
    ).write.mode("overwrite").parquet(f"{path}/meta")


def load_graph(spark, path: str) -> HNSWGraph:
    """Reopen a :func:`save_graph` artifact. The edge relation comes
    back as a layer-partitioned parquet scan, so per-layer filters in
    the walk operators prune at the directory level (plan-asserted in
    tests/test_graph.py). The size bound comes back from ``meta``; an
    artifact written without one reopens with None (the distributed
    walk)."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0].asDict()
    return HNSWGraph(
        edges=spark.read.parquet(f"{path}/edges"),
        levels=spark.read.parquet(f"{path}/levels"),
        entry_point=int(meta["entry_point"]),
        max_level=int(meta["max_level"]),
        edges_size_hint=meta.get("size_bound"),
    )


def hnsw_build(
    points: DataFrame,
    centroids: np.ndarray,
    m: int = 8,
    ef_construction: int = 32,
    m_l: float | None = None,
    nprobe: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> HNSWGraph:
    """Layered graph artifact, built batch-per-layer: nodes with
    level >= l get blocked-candidate edges pruned by the diversity
    heuristic, then symmetrized (union of both directions, re-capped at
    m by ascending distance). Entry point = a node of maximal level
    (min id among them, deterministic)."""
    if m_l is None:
        m_l = 1.0 / np.log(m)

    # Single-pass layered candidate generation: knn_graph_blocked's
    # per-cell kernel (_cell_candidates) over every layer at once.
    # Routing is per-point, so filtering routed rows == routing the
    # filtered subset: one shuffle pipeline instead of one per layer.
    #
    # The level draw rides through the routing pass (carry_cols) and the
    # routed relation is checkpointed ONCE: the level probe, the edge
    # pipeline, and HNSWGraph.levels all read the same materialized
    # draw — no second F.rand evaluation anywhere (F.rand is partition-
    # dependent, so re-evaluating it in two plans invites divergence).
    lvl_expr = F.floor(-F.log(F.rand(seed)) * F.lit(m_l)).cast("int")
    routed = route_to_cells(
        points.withColumn("level", lvl_expr),
        centroids,
        nprobe,
        id_col,
        vec_col,
        carry_cols=("level",),
    ).localCheckpoint()
    levels = routed.filter(F.col("probe_rank") == 0).select(
        "vec_id", "level"
    )
    # one tiny job over the checkpoint: highest level, lowest id; the
    # same scan observes the node count and Σ (level + 1) for the size
    # bound (a groupBy of the per-level counts would add a shuffle job)
    seen = Observation()
    top_row = levels.observe(
        seen, F.count(F.lit(1)).alias("n"), F.sum(F.col("level") + 1).alias("nl")
    ).orderBy(F.desc("level"), "vec_id").limit(1).first()
    top = int(top_row["level"]) if top_row else 0
    ep = int(top_row["vec_id"]) if top_row else 0
    bound = _size_bound(seen.get["nl"] or 0, seen.get["n"], m, centroids.shape[1])
    kk = ef_construction + 4  # per-cell pad absorbs cross-cell dedup

    scored = routed.groupBy("cell").applyInPandas(
        partial(_cell_candidates, kk=kk),
        "layer int, src long, dst long, dist double",
    )
    # cross-cell dedup + top-ef_construction + diversity pruning fused
    # into one salted-bucket pass (see select_neighbors_heuristic)
    sel = select_neighbors_heuristic(
        scored, points, m=m, id_col=id_col, vec_col=vec_col,
        group_cols=("layer", "src"),
        pre_dedup=True, pre_topk=ef_construction,
    )
    edges = symmetrize_and_cap(sel, m)
    # eager materialization, not lazy cache: the search walks this
    # artifact from MANY subtrees of one action (descent layers + hop
    # unrolls); a lazy cache races — every subtree recomputes the whole
    # build before the cache fills. The artifact is the "built index",
    # bounded at N*m rows per layer sum, exactly what a real pipeline
    # would persist to parquet between build and serve.
    #
    # coalesce_small (r18, guide §2.2/§6): the pinned artifact otherwise
    # inherits the symmetrize shuffle's partition count (~40 sub-KB
    # partitions at bench scale), and EVERY per-layer filter in the
    # descent + walk re-scans all of them — measured ~10 scans x ~40
    # tasks of scheduling for kilobytes. Identity at scale (estimate-
    # gated), so a big graph keeps its partitioning. The exact size
    # bound is kept on the artifact: stats are lost at the checkpoint,
    # and the walk operators gate on it (HNSWGraph.edges_size_hint).
    from vector_search_spark.functions.fanout import plan_size_estimate

    est = plan_size_estimate(edges)
    return HNSWGraph(
        edges=coalesce_small(edges, est=est).localCheckpoint(),
        levels=levels, entry_point=int(ep), max_level=int(top),
        edges_size_hint=bound,
    )


def collect_query_batch(
    queries: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
):
    """Collect and check the caller-bounded query batch ONCE
    (``knn._collect_batch``): ``(qids, Q)``. The HNSW entries run BOTH
    :func:`descend_entry_points` and a :func:`greedy_search` scorer over
    the same batch; passing this as their ``query_batch`` saves one
    whole scheduled job re-collecting rows the driver already holds."""
    return knn._collect_batch(queries, id_col, vec_col)


# Edge-artifact broadcast budget for the walk joins (guide §3.1
# "broadcast the side that fits"): mirrors the session's 64m
# autoBroadcastJoinThreshold rationale. The gate reads the BUILD-TIME
# size estimate (HNSWGraph.edges_size_hint) because the checkpointed
# relation itself carries no stats; 0 disables edges-side broadcast
# entirely (candidate-side broadcast everywhere).
EDGE_BCAST_BYTES = int(
    os.environ.get("VSS_EDGE_BCAST_BYTES", str(64 * 1024 * 1024))
)


def _edges_fit_broadcast(graph: "HNSWGraph") -> bool:
    return (
        EDGE_BCAST_BYTES > 0
        and graph.edges_size_hint is not None
        and graph.edges_size_hint < EDGE_BCAST_BYTES
    )


class _DriverWalk:
    """The one local kernel of the walk: a numpy replay, on the driver,
    of the distributed walk's own set semantics, row for row (not
    ``LocalHNSW._search_layer``, whose best-first heap visits a
    different set). :meth:`collect` returns None — the distributed
    walk — unless the graph's size bound fits ``VSS_EDGE_BCAST_BYTES``;
    both collects stop at that bound, so the driver never holds more
    than it. Edges beyond the bound, more vector rows than it allows,
    a NULL or duplicate id, an id that is not a graph node, or a
    vector that is NULL, non-finite or not ``dim`` long also fall back.
    A node with no vector is skipped, as the inner join skips it."""

    @classmethod
    def collect(cls, graph, points, id_col, vec_col, dim):
        if not _edges_fit_broadcast(graph):
            return None
        ecap, vcap = (graph.edges_size_hint // b for b in (_EDGE_BYTES, 8 * dim + 8))
        e = graph.edges.select("layer", "src", "dst").limit(ecap + 1).toPandas()
        if len(e) > ecap:
            return None
        p = points.select(F.col(id_col).alias("i"), as_double_array(vec_col)
                          .alias("v")).limit(vcap + 1).toPandas().sort_values("i")
        nodes = np.concatenate([e["src"], e["dst"], [graph.entry_point]])
        ok = (0 < len(p) <= vcap and p.notna().all(axis=None)
              and not p["i"].duplicated().any() and np.isin(p["i"], nodes).all()
              and p["v"].map(lambda v: len(v) == dim and np.isfinite(v).all()).all())
        return cls(e, p["i"].to_numpy(np.int64), np.vstack(p["v"])) if ok else None

    def __init__(self, e, ids, V):
        self.ids, self.V = ids, V  # sorted by id
        self.adj = {l: (g["src"].to_numpy(np.int64), g["dst"].to_numpy(np.int64))
                    for l, g in e.sort_values("src", kind="stable").groupby("layer")}

    def rings(self, layer, ids, hops):
        """The set of nodes 1..``hops`` chained hops from ``ids`` in
        ``layer``."""
        src, dst = self.adj.get(layer, (np.zeros(0, np.int64),) * 2)
        out = [np.zeros(0, np.int64)]
        for _ in range(hops):
            lo, hi = np.searchsorted(src, ids), np.searchsorted(src, ids, "right")
            at = np.repeat(hi - np.cumsum(hi - lo), hi - lo)
            ids = np.unique(dst[at + np.arange(len(at))])
            out.append(ids)
        return np.unique(np.concatenate(out))

    def scored(self, ids, q, fold):
        """(the ``ids`` that have a vector, their distances to ``q``):
        with ``fold`` Catalyst's ``l2_sqr`` (the descent's scorer, a
        sequential index-order float64 sum), else the raw walk scorer's
        numpy kernel."""
        ids = ids[np.isin(ids, self.ids)]
        B = self.V[np.searchsorted(self.ids, ids)]
        return ids, (
            reduce(lambda acc, t: acc + t * t, (q - B).T, np.zeros(len(B)))
            if fold else ((B - q) ** 2).sum(axis=1)
        )

    def descend(self, qid, q, graph, layer1_hops, probe_rounds, upper_hops):
        """``descend_entry_points`` for one query: per layer the
        (dist, id)-minimum of the anchor and its chained rings, then the
        layer-1 probes of the best node's neighbours. No row = the query
        lost its anchor (no candidate had a vector)."""
        def argmin(ids):
            c, d = self.scored(np.unique(ids), q, fold=True)
            return c[np.lexsort((c, d))[:1]]

        a = np.array([graph.entry_point], np.int64)
        for layer in range(graph.max_level, 0, -1):
            hops = upper_hops if layer > 1 else layer1_hops
            a = argmin(np.concatenate([a, self.rings(layer, a, hops)]))
        for _ in range(probe_rounds):
            a = argmin(np.concatenate([a, self.rings(1, a, 1)]))
        return pd.DataFrame({"query_id": qid, "vec_id": a})

    def beam(self, qid, q, seeds, k, ef, max_hops, expand):
        """``greedy_search``'s layer-0 beam for one query: its top-k rows
        by (dist, id). Each hop scores the chained 1..``expand`` rings
        minus the visited set (seeds + past frontiers) and keeps the top
        ``ef``; the frontier is the newly scored survivors. An empty
        frontier ends the walk either way (``early_stop`` or not): it
        adds no candidates."""
        ids, d = self.scored(np.unique(np.asarray(seeds, np.int64)), q, False)
        visited = frontier = ids
        for _ in range(max_hops):
            c, cd = self.scored(np.setdiff1d(
                self.rings(0, frontier, max(1, expand)), visited), q, False)
            ids, d = np.concatenate([ids, c]), np.concatenate([d, cd])
            keep = np.lexsort((ids, d))[:ef]
            frontier = ids[keep[keep >= len(ids) - len(c)]]
            ids, d = ids[keep], d[keep]
            if not len(frontier):
                break
            visited = np.union1d(visited, frontier)
        top = np.lexsort((ids, d))[:k]
        return pd.DataFrame({"query_id": qid, "vec_id": ids[top], "dist": d[top],
                             "rank": np.arange(1, len(top) + 1)})


def _broadcast_query_scorer(points: DataFrame, id_col: str, vec_col: str, qids, Q):
    """Shared scorer for the distributed walk: broadcast the collected
    query batch ``(qids, Q)`` once, return (qids, score_fn) where
    score_fn maps a (query_id, vec_id) DataFrame to
    (query_id, vec_id, dist) via one exact (a-b)^2 gemm-free kernel per
    Arrow batch."""
    spark = points.sparkSession
    bc = spark.sparkContext.broadcast((qids, Q))
    base = points.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("bv")
    )

    def score(cands: DataFrame) -> DataFrame:
        # candidates are caller-batch-bounded (frontier x m^expand) —
        # broadcast explicitly (guide §3.1): the walk's intermediates
        # have no stats post-checkpoint, and an unhinted join plans
        # sort-merge + AQE demotion = an extra exchange pair per hop
        withv = F.broadcast(cands).join(base, "vec_id")

        def fn(batches):
            b_qids, b_Q = bc.value
            pos = {int(q): i for i, q in enumerate(b_qids)}
            for pdf in batches:
                if not len(pdf):
                    continue
                B = np.vstack(pdf["bv"].to_numpy())
                qi = np.array(
                    [pos[int(q)] for q in pdf["query_id"]], dtype=np.int64
                )
                d = ((B - b_Q[qi]) ** 2).sum(axis=1)
                yield pd.DataFrame(
                    {
                        "query_id": pdf["query_id"],
                        "vec_id": pdf["vec_id"],
                        "dist": d,
                    }
                )

        return withv.mapInPandas(fn, "query_id long, vec_id long, dist double")

    return qids, score


def _broadcast_adc_scorer(
    codes: DataFrame,
    queries: DataFrame,
    model,
    query_id_col: str,
    query_vec_col: str,
    id_col: str,
    code_col: str,
    strict: bool = False,
    query_batch: tuple | None = None,
):
    """ADC twin of :func:`_broadcast_query_scorer` — the reference's
    COMPRESSED SearchLayer distance kernel (py/hnsw.py:217-226: walk
    distances against PQ codes through a per-query LUT) as a pluggable
    walk scorer. Same (qids, score_fn) contract, but score_fn joins
    candidates to their CODES and sums M LUT gathers per row — the
    walk never touches the raw vector table, which is the point: at
    100 TB the code table is ~D*8/M x smaller than the vectors, and
    the LUT broadcast is nq x M x K doubles (model-sized), built by
    ``pq._adc_lut`` like every other ADC path. Distances are in ADC
    space; compose with :func:`ivf._exact_rescore` (which
    ``pq.refine_topk`` re-scores through) for true-metric output.

    CONTRACT — codes ⊇ graph nodes: every node the walk can reach
    (entry point, seeds, every edge endpoint) must have a code. The
    default inner join silently DROPS an uncoded frontier node from
    the walk — and codes and the graph are INDEPENDENTLY maintained
    artifacts, so a partial code refresh shrinks the search instead of
    failing (the same silent-shrink class strict=True makes loud on
    the refined family). ``strict=True`` left-joins and
    raises IN-PLAN on the first candidate with no code, mirroring
    :func:`ivf._exact_rescore`."""
    spark = codes.sparkSession
    qids, Q = query_batch or knn._collect_batch(
        queries, query_id_col, query_vec_col, model.dim, "the model's"
    )
    bc = spark.sparkContext.broadcast((qids, pq._adc_lut(model.codebooks, Q)))
    base = codes.select(
        F.col(id_col).alias("vec_id"), F.col(code_col).alias("_c")
    )

    def score(cands: DataFrame) -> DataFrame:
        # same §3.1 hint as the raw scorer: candidates are bounded
        withc = knn._contract_join(
            cands, base, "_c", strict, True, "compressed walk: frontier",
            "has no PQ code — the codes ⊇ graph-nodes contract is "
            "violated (stale or partial code table)",
        )

        def fn(batches):
            b_qids, b_lut = bc.value
            pos = {int(q): i for i, q in enumerate(b_qids)}
            for pdf in batches:
                if not len(pdf):
                    continue
                cm = pq._code_matrix(pdf["_c"])
                qi = np.array(
                    [pos[int(q)] for q in pdf["query_id"]], dtype=np.int64
                )
                d = np.zeros(len(pdf))
                for mi in range(b_lut.shape[1]):
                    d += b_lut[qi, mi, cm[:, mi]]
                yield pd.DataFrame(
                    {
                        "query_id": pdf["query_id"],
                        "vec_id": pdf["vec_id"],
                        "dist": d,
                    }
                )

        return withc.mapInPandas(fn, "query_id long, vec_id long, dist double")

    return qids, score


def descend_entry_points(
    graph: HNSWGraph,
    points: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    layer1_hops: int = 2,
    probe_rounds: int = 1,
    upper_hops: int = 3,
    query_batch: tuple | None = None,
) -> DataFrame:
    """Upper-layer greedy descent (reference KNNSearch layers L..1 with
    ef=1, py/hnsw.py:408-409): start every query at the global entry
    point; at each layer from the top down, walk toward the layer-local
    distance minimum (ef=1 SearchLayer semantics — hop to the closest
    neighbor while it improves), then drop a layer. Returns
    (query_id, vec_id) — per-query layer-0 entry seeds.

    DRIVER WALK: when the graph's size bound fits
    ``VSS_EDGE_BCAST_BYTES`` (see the module docstring), the edges and
    vectors are collected once, capped at that bound, and
    ``_DriverWalk.descend`` replays the recipe below per query — the
    same candidate sets, the same Catalyst ``l2_sqr`` fold (a
    sequential float64 sum), the same (dist, vec_id) argmin — and the
    result is a driver-built frame. Otherwise:

    FULLY DISTRIBUTED FALLBACK (no N-scaling driver collect): every
    layer's walk is the same relational recipe —
    candidates = anchor ∪ up-to-``hops`` chained edge-joins in that
    layer, one scorer pass, per-query argmin (anchor included, so the
    descent is monotone) — and the per-layer argmin is just a DataFrame
    transform of the previous layer's anchor, so the WHOLE descent
    composes into one lazy plan. On this branch there is no
    ``.toPandas()`` beyond the query batch itself (model-sized,
    broadcast by design, as in every serving path here).

    Scan economics at 100 TB: the layers>=2 scoring passes probe
    ``upper_base`` — the routing skeleton's (id, vector) relation,
    ~N/m^2 rows, materialized once per call via localCheckpoint
    (distributed, executor-resident; the artifact a real pipeline would
    persist beside the edge list) — so walking L layers costs L joins
    against an index-sized relation, not L scans of the vector table.
    Layer 1 (~N/m — too big to materialize) is scored against the full
    vector table: one ring pass + ``probe_rounds`` boundary probes.

    DEVIATION from reference semantics (SURVEY §8 #32 note): the
    reference's ef=1 walk (py/hnsw.py:408-409) hops an UNBOUNDED
    number of times while improving; this argmin over a bounded-hop
    neighborhood can hand a different seed to a query that would need
    more improving hops. Two mitigations: upper layers get
    ``upper_hops`` (default 3 — 1+m+m^2+m^3 candidates on layers that
    only hold ~N/m^layer nodes), and layer 1 gets a ``layer1_hops``
    ring (default 2) plus ``probe_rounds`` greedy probes: each probe
    expands ONLY each query's current best node by one hop and
    re-argmins against the incumbent — a query whose best is interior
    to the ring is at a true greedy local minimum (all its neighbors
    were already scored and lost), so probes only ever help boundary
    queries, at m rows/query instead of the m^3 tail of a wider ring.
    Downstream layer-0 beam search re-expands from the seed;
    end-to-end recall is gated at >= 0.95
    (tests/test_graph.py::test_hnsw_knn_catalog_recall; measured 1.000
    at the fixture scale).
    """
    spark = points.sparkSession
    qdf = knn._query_side(queries, id_col, vec_col)
    # the caller-bounded query batch (serving contract); accepting a
    # pre-collected batch lets the HNSW entries share ONE collect with
    # the walk scorer
    qids, Q = query_batch or collect_query_batch(queries, id_col, vec_col)
    walk = graph.max_level >= 1 and _DriverWalk.collect(
        graph, points, id_col, vec_col, Q.shape[1])
    if walk:
        return spark.createDataFrame(pd.concat([
            walk.descend(q, qv, graph, layer1_hops, probe_rounds, upper_hops)
            for q, qv in zip(qids, Q)]), "query_id long, vec_id long")
    # NOTE (r18, measured): do NOT coalesce(1) this literal. A single-
    # partition seed's SinglePartition output satisfies every downstream
    # clustering requirement, so Catalyst DROPS the argmin exchanges —
    # and those exchanges are the ReusedExchange points that dedupe the
    # anchor subtree across the ring legs. Removing them fused the whole
    # multi-layer walk into one task that re-evaluated each layer's
    # subtree once per leg (measured 6.5 s -> 19 s at sf0.1).
    seed_df = spark.createDataFrame(
        [(int(q), int(graph.entry_point)) for q in qids],
        "query_id long, vec_id long",
    )
    if graph.max_level < 1:
        return seed_df

    # Candidate sets everywhere in the descent scale with the QUERY
    # BATCH (nq x ring size), never with N — so every scoring pass is
    # the Catalyst l2 fold on a broadcast join: stays JVM-side (no
    # python worker round trip per pass), and the fold's index-order
    # sum((a-b)^2) matches the Arrow scorer bit-for-bit.
    full_base = points.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("bv")
    )

    # Query vectors as a MAP LITERAL (query_id -> vector), not a second
    # broadcast join: the descent runs ~2·layers scoring passes as
    # separate scheduled actions, and a broadcast relation cannot be
    # reused across actions — each pass paid one BroadcastExchange
    # build job just to re-ship the same caller-bounded query batch
    # (r17 optimization; the batch is already collected for qids, so
    # this adds no new driver state). element_at on the literal map is
    # a plain expression gather inside the same stage.
    qv_map = (
        F.create_map(
            *[
                x
                for q, v in zip(qids, Q)
                for x in (
                    F.lit(int(q)),
                    F.array(*[F.lit(float(c)) for c in v]),
                )
            ]
        )
        if len(qids) <= 256  # keep the task-binary literal bounded
        else None
    )

    def score_against(cand: DataFrame, basedf: DataFrame) -> DataFrame:
        # The CAND side broadcasts (nq x ring — query-batch-sized);
        # basedf is never hinted: broadcasting upper_base would collect
        # an ~N/m^2-row relation to the driver via BroadcastExchange —
        # the very N-scaling driver state the round-6 rewrite retired
        # (and one the toPandas spy test cannot see). Advice r6.
        joined = F.broadcast(cand).join(basedf, "vec_id")
        if qv_map is not None:
            return joined.select(
                "query_id",
                "vec_id",
                l2_sqr(
                    F.element_at(qv_map, F.col("query_id")), "bv"
                ).alias("dist"),
            )
        return joined.join(F.broadcast(qdf), "query_id").select(
            "query_id", "vec_id", l2_sqr("_qv", "bv").alias("dist")
        )

    def argmin(scored: DataFrame) -> DataFrame:
        # struct-min aggregate == the old row_number()==1 window over
        # orderBy(dist, vec_id): Spark compares structs field-by-field,
        # so min(struct(dist, vec_id)) IS the (dist, vec_id)-first row
        # — same values, same tie-break. An aggregate does PARTIAL,
        # map-side combining (guide §2.3 "aggregate before you
        # shuffle"): only nq pre-reduced rows cross the exchange where
        # the window shuffled (and fully sorted) the whole nq x ring
        # candidate relation. This also makes the ring's missing
        # distinct free — duplicates collapse map-side.
        return (
            scored.groupBy("query_id")
            .agg(F.min(F.struct("dist", "vec_id")).alias("_m"))
            .select(
                "query_id",
                F.col("_m.vec_id").alias("vec_id"),
                F.col("_m.dist").alias("dist"),
            )
        )

    # Deliberate join build side for every walk join (guide §3.1): the
    # checkpointed edge artifact has no optimizer stats, so the planner
    # would plan sort-merge and rely on AQE demotion — one materialized
    # exchange pair per hop join. When the build-time size hint says
    # the WHOLE artifact fits a broadcast, ship the edges once per
    # layer (every hop reuses the same BroadcastExchange); otherwise
    # broadcast the caller-bounded candidate chain per hop (never the
    # corpus side).
    edges_bcast = _edges_fit_broadcast(graph)

    def hop(cur: DataFrame, edges: DataFrame) -> DataFrame:
        src = cur.select("query_id", F.col("vec_id").alias("src"))
        j = (
            src.join(F.broadcast(edges), "src")
            if edges_bcast
            else F.broadcast(src).join(edges, "src")
        )
        return j.select("query_id", F.col("dst").alias("vec_id"))

    def ring_candidates(anchor_ids: DataFrame, edges: DataFrame, hops: int):
        rings = [anchor_ids]
        cur = anchor_ids
        for _ in range(max(0, hops)):
            cur = hop(cur, edges)
            rings.append(cur)
        cand = rings[0]
        for r in rings[1:]:
            cand = cand.unionByName(r)
        # NO distinct (r18, guide §2.4 "remove shuffles outright"): the
        # only consumer is argmin, and min over a multiset == min over
        # its set — duplicate candidate rows carry identical
        # (dist, vec_id), and the partial aggregate collapses them
        # map-side anyway. The dedup was one full Exchange (+ its
        # scheduled AQE stage) per scoring pass for zero effect; the
        # duplicated volume is query-batch-bounded (nq x Σ m^h), never
        # corpus-sized.
        return cand

    anchor = seed_df  # (query_id, vec_id), refined layer by layer

    if graph.max_level >= 2:
        # The routing skeleton's vectors (~N/m^2 rows): materialize once,
        # probe from every upper-layer scoring pass. Edge relation is
        # broadcast into the semi-join that prunes the vector scan. The
        # entry point is included explicitly (a single-node top layer
        # has no layer>=2 edges), so every anchor the descent can hold
        # is ALWAYS scoreable from this relation — anchors are argmins
        # of candidate sets drawn from it, inductively.
        # Skeleton membership comes from the LEVELS relation (level>=2
        # == exactly the nodes the layers>=2 walk can touch; the build
        # invariant "edge at layer l => endpoints have level >= l" is
        # pytest-gated) — one filter of an N/m-row table instead of the
        # old union+distinct over both endpoint columns of the edge
        # relation; isolated top-layer nodes (incl. the entry point)
        # are members by definition, no explicit union needed.
        endpoint_ids = graph.levels.filter(F.col("level") >= 2).select(
            "vec_id"
        )
        upper_base = (
            points.select(
                F.col(id_col).alias("vec_id"),
                as_double_array(vec_col).alias("bv"),
            )
            .join(F.broadcast(endpoint_ids), "vec_id", "left_semi")
            .localCheckpoint()
        )
        for i, layer in enumerate(range(graph.max_level, 1, -1)):
            e_l = graph.edges.filter(F.col("layer") == layer).select(
                "src", "dst"
            )
            cand = ring_candidates(anchor, e_l, upper_hops)
            anchor = argmin(
                score_against(cand, upper_base)
            ).select("query_id", "vec_id")
            # Pin the nq-row anchor where lazy depth would compound —
            # each layer's rings duplicate the anchor subtree into
            # (hops+2) branches, exponential if never cut (measured
            # 2.4x at depth 3) — but NOT after every layer: the top
            # layers' subtrees are a handful of joins over near-empty
            # edge relations, and each localCheckpoint is a scheduled
            # job (~0.5s of fixed overhead at bench scale). Always pin
            # before layer 1 (its rings run over the BIG edge
            # relation); otherwise every other layer bounds Catalyst
            # plan growth on deep graphs to (hops+2)^2 tiny-join
            # copies per segment.
            if layer == 2 or i % 2 == 1:
                anchor = anchor.localCheckpoint()

    # ---- layer 1: ring pass + greedy boundary probes (scored against
    # the full vector table — layer-1 nodes are ~N/m, never
    # materialized; the cand side broadcasts, so each pass is one
    # pruned relational probe of the base).
    e1 = graph.edges.filter(F.col("layer") == 1).select("src", "dst")
    rounds = max(0, probe_rounds)
    best = argmin(
        score_against(ring_candidates(anchor, e1, layer1_hops), full_base)
    )
    # No checkpoint before the probe rounds (r18): the probe references
    # ``best`` twice (expansion source + incumbent in the argmin union),
    # but best's subtree TAIL is the argmin aggregate's exchange —
    # both references share it via ReusedExchange, so the only
    # re-executed work is the final nq-row aggregate, not the ring
    # walk. The eager pin here was one whole scheduled job to avoid a
    # two-row-group re-aggregation. (The FINAL best stays lazy too —
    # consumed exactly once by the caller's seed materialization, the
    # r17 dead-last-hop rule.)
    for r in range(rounds):
        nxt = hop(best, e1)
        # no distinct — same argmin duplicate-insensitivity as
        # ring_candidates (nxt is nq x m rows, each scored once or twice
        # at worst; the dedup Exchange cost more than the dup scores)
        best = argmin(
            score_against(nxt, full_base).unionByName(best)
        )
        if r < rounds - 1:
            best = best.localCheckpoint()
    return best.select("query_id", "vec_id")


def greedy_search(
    graph: HNSWGraph,
    points: DataFrame,
    queries: DataFrame,
    k: int = 10,
    ef: int = 32,
    max_hops: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seeds: DataFrame | None = None,
    expand: int = 1,
    early_stop: bool = True,
    scorer=None,
    query_batch: tuple | None = None,
) -> DataFrame:
    """Layer-0 batch greedy search over the edge artifact: every query
    expands its frontier one hop per iteration until no frontier node
    improves its current top-ef (or max_hops). Returns
    (query_id, vec_id, dist, rank<=k).

    ``scorer`` (optional): a pre-built (qids, score_fn) pair replacing
    the default exact raw-vector scorer — the distance kernel is the
    ONLY thing that changes between the raw and compressed walks, so
    the loop is shared verbatim (see :func:`greedy_search_adc`, the
    reference's compressed SearchLayer). With a scorer given,
    ``points`` is unused and may be None.

    DRIVER WALK: with the raw scorer (``scorer is None``) and a graph
    whose size bound fits ``VSS_EDGE_BCAST_BYTES``, the edges and
    vectors are collected once, capped at that bound, and
    ``_DriverWalk.beam`` replays the loop below per query with the
    raw scorer's numpy kernel; the result is a driver-built frame with
    the same schema and rows. Otherwise the loop runs distributed, one
    Spark job per hop, as described here.

    Set-oriented form of py/hnsw.py:240-277 — the early-termination
    heap loop becomes an iteration-level stop test. Entry is the global
    entry point for every query, optionally widened by ``seeds``
    (query_id, vec_id) — e.g. per-query anchors from
    :func:`descend_entry_points` (the real upper-layer descent) or
    coarse-cell routing.

    ``expand`` chains that many edge-joins per iteration (frontier →
    neighbors → neighbors-of-neighbors → ...) before scoring, trading a
    wider candidate batch (cheap: one gemm) for fewer sequential Spark
    jobs — the scheduling latency of the iteration loop, not the scoring
    work, is what dominates wall-clock. Recall can only improve: the
    1-hop candidate set is a subset of the expanded one.

    ``early_stop=True`` (reference semantics, SURVEY §2 #10) probes the
    frontier after each hop and breaks when no query improved — one
    extra tiny job per hop. ``early_stop=False`` runs the fixed hop
    budget with no probe jobs — the deterministic shape the SQL oracle
    replays (an exhausted frontier contributes no candidates either
    way, so results are identical for the same hop budget). A hop that
    feeds another hop is checkpointed: the merged beam is referenced by
    three downstream subtrees (results, frontier, visited), and
    re-deriving it per subtree would square the work per hop. The LAST
    fixed-budget hop (early_stop=False) skips the checkpoint — its
    frontier/visited subtrees are dead, so the final top-k window fuses
    into the same job; with max_hops=1 the whole search runs as one
    job after the seed scoring.
    """
    spark = queries.sparkSession
    if scorer is None:
        qids, Q = query_batch or collect_query_batch(queries, id_col, vec_col)
        walk = _DriverWalk.collect(graph, points, id_col, vec_col, Q.shape[1])
        if walk:
            mine = {q: [graph.entry_point] for q in qids}
            for q, v in [] if seeds is None else seeds.select(
                    "query_id", "vec_id").collect():
                mine[q] += [] if v is None else [v]
            return spark.createDataFrame(pd.concat([
                walk.beam(q, qv, mine[q], k, ef, max_hops, expand)
                for q, qv in zip(qids, Q)
            ]), "query_id long, vec_id long, dist double, rank int")
        qids, score = _broadcast_query_scorer(points, id_col, vec_col, qids, Q)
    else:
        qids, score = scorer
    edges0 = graph.edges.filter(F.col("layer") == 0).select("src", "dst")
    # Deliberate build side for the hop joins (guide §3.1, same gate as
    # descend_entry_points): edges-side broadcast when the artifact's
    # build-time estimate fits (every hop reuses ONE BroadcastExchange);
    # frontier-side broadcast otherwise (caller-bounded, never corpus).
    edges_bcast = _edges_fit_broadcast(graph)

    # seed: entry point for every query (+ any caller-provided anchors)
    # (not coalesce(1)d — see the SinglePartition note in
    # descend_entry_points: erasing exchanges erases subtree reuse)
    seed_df = spark.createDataFrame(
        [(int(q), graph.entry_point) for q in qids], "query_id long, vec_id long"
    )
    if seeds is not None:
        seed_df = seed_df.unionByName(
            seeds.select("query_id", "vec_id")
        ).distinct()
    # The seed checkpoint is about LINEAGE, not scoring cost: caller
    # seeds can carry arbitrary upstream plans (cell assignment, the
    # upper-layer descent), and hop 0 references the seed relation from
    # three subtrees — materializing the scored seeds once keeps that
    # upstream from recomputing per subtree (measured: lazy seeds
    # doubled the fixture's wall-clock).
    results = score(seed_df).localCheckpoint()
    # visited tracks EXPANDED nodes (seeds + every past frontier), not
    # every scored node: a scored-but-evicted candidate may be rescored
    # on a later hop, but the result set improves monotonically so it
    # can never survive the window — identical output, and the whole
    # hop (score + merge + truncate) collapses into ONE eager job.
    visited = results.select("query_id", "vec_id")
    frontier = results

    wef = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    for hop in range(max_hops):
        # expand frontier `expand` hops; dedup ONCE at the end (each
        # intermediate distinct would cost a full shuffle stage, and the
        # fanout between dedups is bounded by m^expand per frontier row)
        cur = frontier.select("query_id", "vec_id")
        hops = []
        for _h in range(max(1, expand)):
            src = cur.select("query_id", F.col("vec_id").alias("src"))
            cur = (
                src.join(F.broadcast(edges0), "src")
                if edges_bcast
                else F.broadcast(src).join(edges0, "src")
            ).select("query_id", F.col("dst").alias("vec_id"))
            hops.append(cur)
        reached = hops[0]
        for h in hops[1:]:
            reached = reached.unionByName(h)
        # visited is caller-batch-bounded (seeds + past frontiers,
        # <= nq x (ef x hops)) — broadcast the anti-join build side
        # explicitly; post-checkpoint relations have no stats (§3.1)
        cand = reached.distinct().join(
            F.broadcast(visited), ["query_id", "vec_id"], "left_anti"
        )
        # one window pass both truncates to ef and identifies the next
        # frontier: a newly-scored row that survived into the top-ef
        # necessarily improved the query's result set.
        merged = (
            results.withColumn("_new", F.lit(False))
            .unionByName(score(cand).withColumn("_new", F.lit(True)))
            .withColumn("r", F.row_number().over(wef))
            .filter(F.col("r") <= ef)
            .drop("r")
        )
        feeds_next_hop = early_stop or hop < max_hops - 1
        if feeds_next_hop:
            merged = merged.localCheckpoint()
        results = merged.drop("_new")
        if not feeds_next_hop:
            break  # frontier/visited are dead on the last budgeted hop
        frontier = merged.filter(F.col("_new")).drop("_new")
        if early_stop and not frontier.take(1):
            break
        visited = visited.unionByName(
            frontier.select("query_id", "vec_id")
        )

    return (
        results.withColumn("rank", F.row_number().over(wef))
        .filter(F.col("rank") <= k)
    )


def greedy_search_adc(
    graph: HNSWGraph,
    codes: DataFrame,
    queries: DataFrame,
    model,
    k: int = 10,
    ef: int = 32,
    max_hops: int = 12,
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_col: str = "code",
    seeds: DataFrame | None = None,
    expand: int = 1,
    early_stop: bool = True,
    strict: bool = False,
    query_batch: tuple | None = None,
) -> DataFrame:
    """COMPRESSED batch greedy search — the reference's PQ-scored
    SearchLayer (py/hnsw.py:217-226: when the index holds a trained
    codec, walk distances come from ADC against the stored codes, not
    raw vectors), distributed. Same frontier loop as
    :func:`greedy_search` — literally the same function, with the
    distance kernel swapped for :func:`_broadcast_adc_scorer` — so the
    two walks can never diverge on visited-set / admission /
    early-termination semantics (SURVEY §2 #8-#10), only on the metric.

    ``codes`` carries (id_col, code_col) for every graph node; the
    walk reads ONLY codes and edges. Distances (and the ranking) are
    in ADC space, exactly as the reference's compressed search — at
    zero quantization error (every subvector in the codebook) it
    equals the raw walk exactly, and with a connected layer 0 at
    ``ef >= N`` it equals ``pq.adc_topk`` exactly (both tested).
    Compose with ``pq.refine_topk``'s re-score stage for true-metric
    output. Returns (query_id, vec_id, dist, rank<=k), ADC distances.

    CONTRACT — codes ⊇ graph nodes (r16 advisor): every reachable node
    must have a row in ``codes``; by default an uncoded node is
    silently dropped from the frontier (the walk shrinks, recall
    quietly degrades — likelier here than on the refined family since
    the code table and the edge list are separately-refreshed
    artifacts). ``strict=True`` raises in-plan on the first uncoded
    frontier node instead, mirroring ``ivf._exact_rescore``.
    """
    scorer = _broadcast_adc_scorer(
        codes, queries, model, query_id_col, query_vec_col,
        id_col, code_col, strict=strict, query_batch=query_batch,
    )
    return greedy_search(
        graph, None, queries, k=k, ef=ef, max_hops=max_hops,
        seeds=seeds, expand=expand, early_stop=early_stop, scorer=scorer,
    )
