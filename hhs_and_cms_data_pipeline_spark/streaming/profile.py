"""Second-generation stateful streaming (Spark 4 ``transformWithState``):
incremental per-user profile maintenance with typed ValueState.

Where ``applyInPandasWithState`` (streaming/stateful.py) is the Spark 3.x
arbitrary-state API, ``transformWithStateInPandas`` is its successor —
typed state handles (value/list/map), timers, and state TTL — and is the
API a long-running 100 TB profile-maintenance job would use today. The
processor below keeps one (event_count, value_sum) tuple per user and
re-emits the running totals each micro-batch; the final emission per user
must equal the batch aggregation exactly (asserted in tests, and the sum
is carried in integer MICRO-UNITS of the DECIMAL(38,6)-quantized values so
the comparison is bit-exact, mirroring functions/exact.py).
"""

from __future__ import annotations

from collections.abc import Iterator
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd

from ..compat import protobuf_shim

# Module-level so the bridge is active wherever this module is imported —
# critically, in the PYTHON WORKER that unpickles UserProfileProcessor:
# the state-server client's lazy pb2 import
# (stateful_processor_api_client.py:90) happens there, mid-task. No-op
# when a real protobuf is installed; harmless False when neither exists
# (the e2e test skips on that return instead of importorskip).
_PROTOBUF_OK = protobuf_shim.install()

from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor,
    StatefulProcessorHandle,
)

_U6 = Decimal("0.000001")

PROFILE_OUTPUT_DDL = "user_id BIGINT, cnt BIGINT, sum_u6 BIGINT"


def _quantize_u6(v: float) -> int:
    """Micro-units of the DECIMAL(38,6) quantization of a double, rounding
    the SHORTEST DECIMAL REPR (``repr(v)``), not the exact binary value:
    Spark's double->decimal cast goes through BigDecimal.valueOf (=
    Double.toString, shortest repr) and DuckDB's VARCHAR route parses the
    same string — Decimal(v) (exact binary) differs at half-micro
    boundaries (5e-7 exact-binary is 4.999...e-7 -> 0, but both engines
    see '5.0E-7' -> 1)."""
    return int(Decimal(repr(v)).quantize(_U6, rounding=ROUND_HALF_UP) / _U6)


class UserProfileProcessor(StatefulProcessor):
    """One ValueState per user: (event_count, value_sum in micro-units)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("profile", "cnt BIGINT, sum_u6 BIGINT")

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timer_values
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        cnt, sum_u6 = self._state.get() if self._state.exists() else (0, 0)
        for pdf in rows:
            vals = pdf["value"]
            cnt += len(vals)
            sum_u6 += sum(_quantize_u6(v) for v in vals[vals.notna()])
        self._state.update((cnt, sum_u6))
        yield pd.DataFrame(
            {"user_id": [user_id], "cnt": [cnt], "sum_u6": [sum_u6]}
        )

    def close(self) -> None:
        pass


def run_profile_maintenance(spark, stage_dir: str, checkpoint_dir: str, query_name: str):
    """Drain the staged files through transformWithStateInPandas; returns
    (final per-user profile DataFrame, micro-batch count). Update-mode
    emissions only grow, so the final profile is the max-cnt row per user."""
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
    stream = normalize_events_ts(raw).select("user_id", "value")
    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserProfileProcessor(),
        outputStructType=PROFILE_OUTPUT_DDL,
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
    final = (
        spark.table(query_name)
        .groupBy("user_id")
        .agg(F.max("cnt").alias("cnt"), F.max_by("sum_u6", "cnt").alias("sum_u6"))
    )
    return final, n_batches
