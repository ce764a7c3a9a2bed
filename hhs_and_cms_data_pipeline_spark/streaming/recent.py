"""transformWithState ListState: per-user N-most-recent-events maintainer
(ST19) — the typed-list sibling of profile.py's ValueState ST10.

A serving feature store keeps "the user's last N interactions" hot; the
state-v2 way is a ListState per user holding at most N (ts_us, event_type,
event_id) tuples, truncated on every update — state size is O(N) per user
by construction, never the user's full history. Each micro-batch merges
the incoming rows with the stored list, keeps the N most recent (ties
broken by event_id, so the result is a pure function of the event SET —
micro-batch boundaries cannot change it), writes the list back, and emits
the ranked rows together with the monotone n_seen counter the final-state
selection keys on.

The registered batch twin (operators/streaming_batch.py ST19) states the
same contract as one window query; the e2e test drains chronological
micro-batches through THIS processor and asserts row equality against it,
bit-exactly (timestamps as integer microseconds)."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from ..compat import protobuf_shim

_PROTOBUF_OK = protobuf_shim.install()  # same worker-side arming as profile.py

from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor,
    StatefulProcessorHandle,
)

RECENT_N = 3
RECENT_OUTPUT_DDL = (
    "user_id BIGINT, rnk BIGINT, ts_us BIGINT, event_type STRING, "
    "event_id BIGINT, n_seen BIGINT"
)


class RecentEventsProcessor(StatefulProcessor):
    """ListState of the N most recent events + a ValueState seen-counter."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._recent = handle.getListState(
            "recent", "ts_us BIGINT, event_type STRING, event_id BIGINT"
        )
        self._seen = handle.getValueState("seen", "n BIGINT")

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timer_values
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        cur = list(self._recent.get()) if self._recent.exists() else []
        (n_seen,) = self._seen.get() if self._seen.exists() else (0,)
        for pdf in rows:
            n_seen += len(pdf)
            cur.extend(
                (int(t), str(e), int(i))
                for t, e, i in zip(pdf["ts_us"], pdf["event_type"], pdf["event_id"])
            )
        # most recent first; (ts, event_id) is unique so the order — and
        # therefore the kept set — is partition- and batch-invariant
        cur.sort(key=lambda r: (-r[0], -r[2]))
        cur = cur[:RECENT_N]
        self._recent.put(cur)
        self._seen.update((n_seen,))
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(cur),
                "rnk": [r + 1 for r in range(len(cur))],
                "ts_us": [r[0] for r in cur],
                "event_type": [r[1] for r in cur],
                "event_id": [r[2] for r in cur],
                "n_seen": [n_seen] * len(cur),
            }
        )

    def close(self) -> None:
        pass


def run_recent_events(spark, stage_dir: str, checkpoint_dir: str, query_name: str):
    """Drain staged files through the ListState maintainer; returns (final
    per-user recent-events DataFrame, micro-batch count). n_seen is
    monotone per user, so the final state is the max-n_seen emission."""
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
    # NULL ts/event_id would arrive as NaN in the pandas batch and crash
    # the processor's int() coercion; the contract (shared with the batch
    # twin and its oracle) excludes them up front.
    stream = (
        normalize_events_ts(raw)
        .filter(F.col("ts").isNotNull() & F.col("event_id").isNotNull())
        .select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_type",
            "event_id",
        )
    )
    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RecentEventsProcessor(),
        outputStructType=RECENT_OUTPUT_DDL,
        outputMode="Update",
        timeMode="None",
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
    # self-join of the memory view needs distinct attribute ids
    last = (
        spark.table(query_name)
        .groupBy(F.col("user_id").alias("l_user_id"))
        .agg(F.max("n_seen").alias("l_n_seen"))
    )
    final = emissions.join(
        last,
        (emissions.user_id == last.l_user_id)
        & (emissions.n_seen == last.l_n_seen),
    ).select("user_id", "rnk", "ts_us", "event_type", "event_id", "n_seen")
    return final, n_batches
