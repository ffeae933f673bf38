"""Micro-batch incremental index refresh.

The reference maintains its index with a per-row ``Insert``
(py/hnsw.py:337-392) — mutate a shared in-memory graph per vector. At
cluster scale the idiomatic equivalent is append-oriented micro-batch
maintenance: each arriving batch of vectors is coarse-routed (IVF cell),
PQ-encoded, and appended to the cell-partitioned parquet index that
operators/ivf.py queries. No shared mutable state, no index-wide lock;
the partition layout (cluster_id=...) stays query-prunable throughout.

Model staleness is the accepted trade (classic IVF practice): centroids
and codebooks are retrained offline when drift warrants; the stream only
encodes against the broadcast current model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import numpy as np

from vector_search_spark.operators import ivf, pq

__all__ = [
    "incremental_pq_refresh",
    "encode_batch",
    "streaming_upsert",
    "cell_arrival_counts",
]


def encode_batch(
    batch: DataFrame, centroids: np.ndarray, model: "pq.PQModel"
) -> DataFrame:
    """Route + encode one micro-batch: (vec_id, cluster_id, code).

    The assignment is PINNED (localCheckpoint, micro-batch-sized)
    before fanning into the encode pass and the cluster_id join —
    left lazy, the BLAS routing mapInPandas runs twice per trigger
    (Spark does not reuse lineage across the two subtrees); pinned,
    the join is two batch-sized relations AQE will broadcast."""
    assigned = ivf.assign_clusters(batch, centroids).localCheckpoint()
    codes = pq.encode(assigned, model)
    return codes.join(
        assigned.select("vec_id", "cluster_id"), "vec_id"
    ).select("vec_id", "cluster_id", "code")


def incremental_pq_refresh(
    stream: DataFrame,
    centroids: np.ndarray,
    model: "pq.PQModel",
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Start the refresh stream: every micro-batch is encoded and
    written to the cell-partitioned index at ``out_dir``.

    EXACTLY-ONCE comes from the checkpoint plus an IDEMPOTENT write —
    foreachBatch alone is at-least-once (a crash between the parquet
    write and the checkpoint commit replays the batch), so a plain
    append would duplicate the replayed rows in the index. The write
    is therefore partitioned by (cluster_id, batch_id) under dynamic
    partition overwrite: a replay of batch N rewrites exactly its own
    (cell, N) partitions instead of appending beside them. cluster_id
    stays the leading partition key, so cell-level directory pruning
    on the read side is unchanged."""

    # FAIL FAST on a pre-(cluster_id, batch_id) layout (batch_id used
    # to be a data column under append mode): writing the new layout
    # beside old part-files would leave a directory mixing batch_id as
    # data and partition column, which misreads on the next scan. New
    # layout => every cluster_id=* dir holds only batch_id=* subdirs.
    from vector_search_spark.sources import fsutil

    for cell_dir in fsutil.list_subdirs(stream.sparkSession, out_dir):
        if not cell_dir.startswith("cluster_id="):
            continue
        if fsutil.count_files(
            stream.sparkSession, f"{out_dir}/{cell_dir}", prefix="part-"
        ):
            raise ValueError(
                f"incremental_pq_refresh: {out_dir}/{cell_dir} contains "
                f"part-files directly under the cell directory — that is "
                f"the old append-mode layout (batch_id as a DATA column). "
                f"This writer partitions by (cluster_id, batch_id); mixing "
                f"layouts corrupts reads. Migrate the index (rewrite with "
                f"partitionBy('cluster_id','batch_id')) or point the "
                f"stream at a fresh out_dir."
            )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        with ivf._dynamic_overwrite(batch_df.sparkSession):
            (
                encode_batch(batch_df, centroids, model)
                .withColumn("batch_id", F.lit(batch_id))
                .write.partitionBy("cluster_id", "batch_id")
                .mode("overwrite")
                .parquet(out_dir)
            )

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_upsert(
    stream: DataFrame,
    centroids: np.ndarray,
    index_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Live UPSERT maintenance of a raw-vector IVF index: every
    micro-batch folds into the on-disk index via ivf.upsert_index —
    replaced ids are rewritten in place (including cell moves), new ids
    appended, and only the batch's touched cells are rewritten.

    This is the streaming twin of the reference's per-row Insert for
    the mutable-id case (append-only ingest should prefer
    :func:`incremental_pq_refresh`: appends never rewrite). Upsert
    rewrites whole cells, so micro-batch cadence — not per-row — is
    what makes it affordable; exactly-once comes from the checkpoint
    plus the idempotence of upserting the same batch again.

    Each micro-batch runs upsert_index's fixed job shape (batch check,
    one assignment scan, one per-cell count of the index, one write)
    and is held on the driver, ids and vectors, like any
    caller-bounded batch: size micro-batches accordingly
    (``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger``); a bulk
    reload belongs in ``ivf.write_index``. A bad row (NULL or
    duplicate id, NULL/NaN vector, wrong dimension) fails the batch
    with a ValueError before the index is touched.
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ivf.upsert_index(
            batch_df.sparkSession, index_path, batch_df, centroids
        )

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def cell_arrival_counts(
    stream: DataFrame,
    centroids: np.ndarray,
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
    ts_col: str = "ts",
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming cell-occupancy monitor — the missing first stage of
    the maintenance loop (round 7): per event-time window, how many
    arriving vectors route to each IVF cell?

    monitor (this, streaming) -> ivf.cell_stats (batch, decides)
    -> ivf.rebalance_index (batch, fixes) is the full operational
    cycle of a long-lived index under drift: a crawl source going hot
    shows up here windows before the cell is oversized on disk.

    Shape: one STATELESS Arrow-batched argmin against the broadcast
    centroid matrix — kmeans.assign itself, with the event-time column
    carried through (carry_cols; a streaming window rank is
    unsupported anyway) — then the
    standard watermarked tumbling-window count. State is bounded by
    (live windows x cells); late vectors beyond ``watermark_delay``
    are dropped exactly as in the other event-time aggregations here.

    Returns (window_start, window_end, cell, n_arrivals) in append
    mode once windows close. Works identically on a batch DataFrame
    (same code path minus the watermark semantics), which is what the
    stream==batch equality test exploits.
    """
    from vector_search_spark.operators import kmeans

    # The ONE routing kernel (kmeans.assign) with the event-time column
    # carried through — a second inline copy of the gemm+argmin would
    # have to be kept tie-consistent by hand, and a drift would break
    # the monitor/cell_stats/rebalance "same routing" premise. The
    # monitor needs no id, so a constant feeds the kernel's id slot
    # and is dropped immediately (monotonically_increasing_id is
    # disallowed on streams; the id is never used, so uniqueness is
    # irrelevant).
    src = stream.select(
        F.lit(0).cast("long").alias("_mid"),
        F.col(ts_col).alias("_ts"),
        F.col(vec_col).alias("_vec"),
    )
    routed = kmeans.assign(
        src,
        centroids,
        id_col="_mid",
        vec_col="_vec",
        carry_cols=("_ts",),
    ).select("_ts", F.col("cluster_id").alias("cell"))
    if routed.isStreaming:
        routed = routed.withWatermark("_ts", watermark_delay)
    return (
        routed.groupBy(
            F.window("_ts", window_duration).alias("win"), "cell"
        )
        .agg(F.count(F.lit(1)).alias("n_arrivals"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "cell",
            "n_arrivals",
        )
    )


def streaming_delete(
    stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    available_now: bool = True,
):
    """Live DELETION maintenance of the on-disk IVF index — the
    streaming twin of :func:`streaming_upsert` for the opt-out /
    right-to-be-forgotten path: every micro-batch of deletion requests
    folds into the index via ivf.delete_ids, rewriting only the cells
    that hold a deleted id and removing drained cells.

    Deletion logs are exactly the workload this shape fits: a trickle
    of ids against a huge index, where per-request rewrites would be
    ruinous and a daily full rebuild leaks data for up to a day —
    micro-batch cadence bounds BOTH the write amplification and the
    retention latency. Exactly-once comes from the checkpoint plus
    idempotence: replaying a deletion batch re-counts the ids as
    missing and rewrites nothing (``n_deleted == 0`` => no touched
    cells).
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ivf.delete_ids(
            batch_df.sparkSession, index_path, batch_df, id_col=id_col
        )

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
