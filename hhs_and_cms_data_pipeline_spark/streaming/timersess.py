"""transformWithState EVENT-TIME TIMERS: watermark-closed sessions (ST21).

The one state-v2 capability the ValueState/ListState/MapState trio does
not touch: a timer lets a key emit WITHOUT receiving new data — the only
way a streaming sessionizer can close a user's last session (the user
never comes back; no row ever triggers the close). The processor keeps
one open session per user and registers an event-time timer at
last_ts + GAP; when the watermark passes it, handleExpiredTimer emits the
closed session and clears state. Sessions superseded by a later event
inside handleInputRows close inline (their timer is deleted and
re-registered for the new session).

Deterministic contract (what the batch twin states): with chronological
micro-batches and watermark delay D over event time, the drain emits
exactly the gaps-and-islands sessions that are CLOSABLE — superseded by a
later session of the same user, or with last_ts + GAP <= final watermark
(max event time - D). Sessions still open against the final watermark are
unemitted in-flight state, exactly as a real 24/7 job would hold them."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from ..compat import protobuf_shim

_PROTOBUF_OK = protobuf_shim.install()

from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    ExpiredTimerInfo,
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

SESSION_GAP_MS = 30 * 60 * 1000  # same 30-min gap as ST3/ST4
WATERMARK_DELAY = "2 hours"
SESSION_OUTPUT_DDL = (
    "user_id BIGINT, session_start_ms BIGINT, session_end_ms BIGINT, "
    "n_events BIGINT"
)


class TimerSessionProcessor(StatefulProcessor):
    """One open session per user + an event-time close timer."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._sess = handle.getValueState(
            "sess", "start_ms BIGINT, last_ms BIGINT, n BIGINT"
        )

    def _row(self, user_id, start_ms, last_ms, n) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [int(user_id)],
                "session_start_ms": [int(start_ms)],
                "session_end_ms": [int(last_ms)],
                "n_events": [int(n)],
            }
        )

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timer_values: TimerValues
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        ts = sorted(int(t) for pdf in rows for t in pdf["ts_ms"])
        if self._sess.exists():
            start, last, n = self._sess.get()
            self._handle.deleteTimer(last + SESSION_GAP_MS)
        else:
            start = last = None
            n = 0
        for t in ts:
            if last is not None and t - last > SESSION_GAP_MS:
                yield self._row(user_id, start, last, n)  # superseded: close
                start, n = t, 0
            if start is None:
                start = t
            last, n = t, n + 1
        self._sess.update((start, last, n))
        self._handle.registerTimer(last + SESSION_GAP_MS)

    def handleExpiredTimer(  # camelCase kwargs: invoked by keyword upstream
        self, key: tuple, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        expired_timer_info = expiredTimerInfo
        if not self._sess.exists():
            return
        start, last, n = self._sess.get()
        if expired_timer_info.getExpiryTimeInMs() >= last + SESSION_GAP_MS:
            yield self._row(user_id, start, last, n)
            self._sess.clear()

    def close(self) -> None:
        pass


def run_timer_sessions(spark, stage_dir: str, checkpoint_dir: str, query_name: str):
    """Drain staged files through the timer sessionizer; returns (closed
    sessions DataFrame, micro-batch count)."""
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
    stream = (
        normalize_events_ts(raw)
        .withWatermark("ts", WATERMARK_DELAY)
        .select(
            "user_id",
            (F.unix_micros("ts") / 1000).cast("long").alias("ts_ms"),
            "ts",
        )
    )
    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TimerSessionProcessor(),
        outputStructType=SESSION_OUTPUT_DDL,
        outputMode="Append",
        timeMode="EventTime",
    )
    with stream_drain_confs(spark, ROCKSDB_STATE_STORE):
        q = (
            out.writeStream.format("memory")
            .queryName(query_name)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    return spark.table(query_name), n_batches
