"""SparkSession construction tuned for the target workload.

Scale notes (100 TB design; tested on local[32]):
- AQE on: runtime coalescing of post-shuffle partitions, skew-join splitting,
  and dynamic broadcast-join demotion/promotion.
- ``spark.sql.shuffle.partitions`` sized from the available cores locally; on a
  real cluster this would be ~2-3x total executor cores (AQE coalesces down).
- Session timezone pinned to UTC so timestamp semantics are reproducible and
  match the DuckDB oracle.
- Arrow enabled for the pandas interchange boundary (presentation edge and
  pandas UDFs) — never used in the relational hot path.

A session the driver hands us gets the same runtime confs from
``ensure_session_conf``, which ``registry.register`` applies before every
builder call; builders do not call it themselves.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_SESSION_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # dims (nation/region/customer at test SFs) are broadcast candidates;
    # 64MB leaves headroom at larger SFs while AQE re-plans at runtime.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # events.parquet has shipped as TIMESTAMP(NANOS) in some rounds (the
    # vectorized reader rejects it outright without this conf) and as
    # timestamp[us]/NTZ in others; sources.tables.normalize_events_ts
    # canonicalizes whichever form is on disk to session-tz TIMESTAMP.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "hhs-cms-spark-engine") -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in _SESSION_CONF.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-provided session.

    The driver hands us its own SparkSession; correctness of the
    timestamp-bearing queries requires UTC, and the perf posture requires AQE.
    Only session-level (runtime-settable) confs are touched. ``registry.register``
    calls this before every registered builder, so a conf changed mid-session
    is reset by the next builder; builders do not call it themselves.
    """
    for k, v in _SESSION_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:
            # Only a static conf (fixed at session build) is ignorable — its
            # runtime value can't change and retrying is pointless. Anything
            # else (bad value, broken session) must surface, not no-op.
            msg = str(e)
            if "CANNOT_MODIFY_CONFIG" in msg or "Cannot modify the value" in msg:
                continue
            raise
    return spark
