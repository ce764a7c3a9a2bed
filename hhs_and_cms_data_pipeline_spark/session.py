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
- Codegen cache sized to the dashboard page's working set (static, so set
  only at session build): a cold page (date picker + 8 report queries)
  generates 136 classes, but Spark's cache of compiled classes holds 100 by
  default (``spark.sql.codegen.cache.maxEntries``). The page visits its
  queries in a cycle, so the LRU evicted each class before its next use and
  every warm page recompiled about 120 of them with Janino. 1000 entries
  hold the page several times over; a warm page now compiles none. The
  cache is keyed on the generated source, and AQE numbers codegen stages in
  the order its query stages finish, which varies run to run (r7's two
  stages swap ids now and then); with the stage id left out of the class
  name (``spark.sql.codegen.useIdInClassName``) such a plan hits too.
- No Python call-site capture (``spark.python.sql.dataFrameDebugging.enabled``
  false): by default PySpark records the Python call site of every
  ``functions.*`` and ``Column`` call and ships it to the JVM, so ``F.col``
  costs 13 py4j round trips instead of 3 (0.92 -> 0.46 ms; ``cast`` 1.54 ->
  0.52 ms). The cost: an analysis error no longer carries the Python
  ``file:line`` in its DataFrame query context. The Python traceback still
  shows the call that failed.

A session the driver hands us gets the same runtime confs from
``ensure_session_conf``, which ``registry.register`` applies before every
builder call; builders do not call it themselves. Static confs cannot be
changed on a live session, so that session keeps its own codegen cache
and its call-site capture.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Fixed when the session's shared state is built: set by get_spark only.
_STATIC_CONF = {
    "spark.sql.codegen.cache.maxEntries": "1000",
    # The JVM accepts this one at runtime too, but PySpark reads it once per
    # process, at its first Column call under an active session, and caches
    # it (pyspark.errors.utils._enable_debugging_cache): it only takes
    # effect when the session is built with it.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

# Runtime-settable: set at build and re-applied by ensure_session_conf.
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
    # Keeps AQE's run-to-run stage numbering out of the generated source,
    # the codegen cache's key (see the module docstring).
    "spark.sql.codegen.useIdInClassName": "false",
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
    for k, v in {**_STATIC_CONF, **_SESSION_CONF}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-provided session.

    The driver hands us its own SparkSession; correctness of the
    timestamp-bearing queries requires UTC, and the perf posture requires AQE.
    Only the runtime-settable confs (``_SESSION_CONF``) are touched, never
    ``_STATIC_CONF``, so no call pays for a rejected set. ``registry.register``
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
