"""Parquet table sources over the driver testdata layout (TESTDATA.md).

SURVEY §2.1 S3: the reference's table scans go through PostgreSQL
(`weekly-report.py:31-51`); here a scan is a vectorized Parquet read with
column pruning + predicate pushdown supplied by Catalyst. Always `select`
only needed columns in operators so `ReadSchema` stays narrow.
"""

from __future__ import annotations

import os
import threading
import weakref
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to session-tz TIMESTAMP regardless
    of how the driver generated the parquet that round:

    * TIMESTAMP(NANOS)  -> surfaced as int64 under the nanosAsLong conf;
      truncate to micros (identical to DuckDB's TIMESTAMP_NS -> TIMESTAMP).
    * timestamp[us] (tz-less) -> surfaced as TIMESTAMP_NTZ by Spark 4; the
      session tz is pinned to UTC (session.py) so the cast is micro-exact.
    * TIMESTAMP -> already the canonical type.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(dt, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _path(sf_dir: str, name: str) -> str:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return f"{sf_dir}/{name}.parquet"


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(_path(sf_dir, name))
    if name == "events":
        df = normalize_events_ts(df)
    return df


A = TypeVar("A")

# session -> {(artifact name, sf_dir): (input version, artifact)}
_DERIVED: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()
_DERIVED_LOCK = threading.Lock()


def _version(sf_dir: str, name: str) -> tuple[int, int, int]:
    st = os.stat(os.path.realpath(_path(sf_dir, name)))
    return st.st_ino, st.st_mtime_ns, st.st_size


def derived(
    spark: SparkSession, sf_dir: str, name: str, inputs: tuple[str, ...], build: Callable[[], A]
) -> A:
    """The one memo for artifacts derived from the tables of ``sf_dir``
    (indexes, edge lists, a week set, a parsed fixture): ``build()``'s
    result, reused while the ``inputs`` tables are unchanged.

    * Key: weakly the live session, then ``(name, sf_dir)``. An entry
      stores the version it was built from: per input table, ``(st_ino,
      st_mtime_ns, st_size)`` of its parquet's realpath, which an
      ``os.replace`` or a new lake version changes. A lookup at another
      version misses and its rebuild replaces the entry, so a session holds
      one entry per ``(name, sf_dir)``. (A DataFrame refers to its session,
      so a stopped session's entries stay until the process exits.)
    * Hit: the stored object itself, so callers may rely on identity.
    * Locking: one lock guards the dict, never ``build``: builds nest (an
      artifact built on another) and run Spark jobs. Two racing misses of
      one entry both build, and the last to finish wins.
    * DataFrame artifacts are ``localCheckpoint``ed by their builders: a
      checkpoint no longer reads the input files, so a hit never re-runs
      the build DAG, and unlike ``.cache()``, which Spark matches by plan
      (by input path), it is never served to a rebuild over a new version.

    Tests start from an empty memo with ``reset_derived()``."""
    key, version = (name, sf_dir), tuple(_version(sf_dir, t) for t in inputs)
    with _DERIVED_LOCK:
        hit = _DERIVED.get(spark, {}).get(key)
    if hit is not None and hit[0] == version:
        return hit[1]
    artifact = build()
    with _DERIVED_LOCK:
        _DERIVED.setdefault(spark, {})[key] = (version, artifact)
    return artifact


def reset_derived() -> None:
    """Drop every memoized artifact (see ``derived``)."""
    with _DERIVED_LOCK:
        _DERIVED.clear()


def spread(df: DataFrame) -> DataFrame:
    """Repartition a single-file table to the session's full parallelism.

    The testdata tables are one Parquet file (= one row group = ONE input
    partition), which serializes every downstream map stage onto one core —
    measured 3x on shingling at sf0.1. Use on tables feeding CPU-heavy
    per-row work (hashing, Python workers). At 100 TB inputs arrive as many
    files and this round-robin shuffle of a small table is negligible."""
    spark = df.sparkSession
    return df.repartition(spark.sparkContext.defaultParallelism)
