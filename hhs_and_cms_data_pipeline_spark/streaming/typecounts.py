"""transformWithState MapState: per-user per-event-type counters (ST20) —
completing the state-v2 typed-handle trio (ValueState = profile.py ST10,
ListState = recent.py ST19, MapState = here).

The serving-side shape is a per-user feature map ("how many clicks /
purchases / errors has this user generated?") maintained incrementally:
MapState keys are event types, values are counts — updates touch ONLY the
types present in the micro-batch (state I/O per batch is O(types seen),
not O(types ever)), which is the reason a map handle exists instead of
one wide ValueState row. Emissions flatten the map to (user_id,
event_type, cnt, n_seen) rows; n_seen is the monotone selector the final
state comparison keys on, exactly like ST19."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from ..compat import protobuf_shim

_PROTOBUF_OK = protobuf_shim.install()

from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor,
    StatefulProcessorHandle,
)

TYPECOUNT_OUTPUT_DDL = (
    "user_id BIGINT, event_type STRING, cnt BIGINT, n_seen BIGINT"
)


class TypeCountsProcessor(StatefulProcessor):
    """MapState event_type -> count, plus a ValueState total counter."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._counts = handle.getMapState(
            "counts", "event_type STRING", "cnt BIGINT"
        )
        self._seen = handle.getValueState("seen", "n BIGINT")

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timer_values
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        (n_seen,) = self._seen.get() if self._seen.exists() else (0,)
        for pdf in rows:
            n_seen += len(pdf)
            for et, c in pdf["event_type"].value_counts().items():
                prev = self._counts.getValue((str(et),))
                self._counts.updateValue(
                    (str(et),), ((prev[0] if prev else 0) + int(c),)
                )
        self._seen.update((n_seen,))
        flat = sorted(
            (str(k[0]), int(v[0])) for k, v in self._counts.iterator()
        )
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(flat),
                "event_type": [k for k, _ in flat],
                "cnt": [v for _, v in flat],
                "n_seen": [n_seen] * len(flat),
            }
        )

    def handleInitialState(self, key, initialState, timerValues) -> None:
        """Bootstrap from a batch snapshot (the backfill-then-stream
        migration: historical counts computed as a batch query seed the
        stream's state, and the stream continues from there). Rows carry
        (event_type, cnt, n_seen); n_seen repeats per row."""
        if len(initialState) == 0:
            return
        for et, c in zip(initialState["event_type"], initialState["cnt"]):
            self._counts.updateValue((str(et),), (int(c),))
        self._seen.update((int(initialState["n_seen"].iloc[0]),))

    def close(self) -> None:
        pass


def run_type_counts(
    spark,
    stage_dir: str,
    checkpoint_dir: str,
    query_name: str,
    initial_state=None,
):
    """Drain staged files through the MapState counter; returns (final
    per-user-type counts DataFrame, micro-batch count). Pass a
    (user_id, event_type, cnt, n_seen) DataFrame as ``initial_state`` to
    bootstrap each user's map from a batch backfill before the first
    micro-batch."""
    from pyspark.sql import functions as F

    from ..sources.tables import normalize_events_ts
    from .events import events_raw_schema
    from .stateful import ROCKSDB_STATE_STORE, stream_drain_confs

    raw = (
        spark.readStream.schema(events_raw_schema(spark, stage_dir))
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(stage_dir)
    )
    # match the batch twin's NULL policy: n_seen counts TYPED events only
    stream = (
        normalize_events_ts(raw)
        .filter(F.col("event_type").isNotNull())
        .select("user_id", "event_type")
    )
    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TypeCountsProcessor(),
        outputStructType=TYPECOUNT_OUTPUT_DDL,
        outputMode="Update",
        timeMode="None",
        initialState=(
            initial_state.groupBy("user_id") if initial_state is not None else None
        ),
    )
    with stream_drain_confs(spark, ROCKSDB_STATE_STORE):
        q = (
            out.writeStream.format("memory")
            .queryName(query_name)
            .outputMode("update")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    emissions = spark.table(query_name)
    last = (
        spark.table(query_name)
        .groupBy(F.col("user_id").alias("l_user_id"))
        .agg(F.max("n_seen").alias("l_n_seen"))
    )
    final = emissions.join(
        last,
        (emissions.user_id == last.l_user_id)
        & (emissions.n_seen == last.l_n_seen),
    ).select("user_id", "event_type", "cnt", "n_seen")
    return final, n_batches
