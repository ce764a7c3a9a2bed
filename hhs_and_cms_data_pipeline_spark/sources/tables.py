"""Parquet table sources over the driver testdata layout (TESTDATA.md).

SURVEY §2.1 S3: the reference's table scans go through PostgreSQL
(`weekly-report.py:31-51`); here a scan is a vectorized Parquet read with
column pruning + predicate pushdown supplied by Catalyst. Always `select`
only needed columns in operators so `ReadSchema` stays narrow.

Every table, testdata or lake, resolves through one session catalog
(``scan``): its schema is inferred once per session and table version, the
version being the realpath plus ``(st_ino, st_mtime_ns, st_size)`` that the
artifact memo (``derived``) keys on too. The reference's dashboard reruns its
queries on every interaction (`report:518-544`), so a warm page re-resolved
21 schemas, each a Spark job; it now resolves none.
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
    """Scan table ``name`` of ``sf_dir`` through the session catalog
    (``scan``), with the events ``ts`` normalized."""
    df = scan(spark, _path(sf_dir, name))
    if name == "events":
        df = normalize_events_ts(df)
    return df


A = TypeVar("A")

# session -> {key: (input version, value)}. Keys: (artifact name, sf_dir) for
# derived artifacts, (_SCHEMA, absolute path) for the catalog's schemas.
_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()
_MEMO_LOCK = threading.Lock()
_SCHEMA = "parquet schema"


def _version(path: str) -> tuple[str, int, int, int]:
    real = os.path.realpath(path)
    st = os.stat(real)
    return real, st.st_ino, st.st_mtime_ns, st.st_size


def _memo(spark: SparkSession, key: tuple, version: tuple, build: Callable[[], A]) -> A:
    with _MEMO_LOCK:
        hit = _MEMO.get(spark, {}).get(key)
    if hit is not None and hit[0] == version:
        return hit[1]
    value = build()
    with _MEMO_LOCK:
        _MEMO.setdefault(spark, {})[key] = (version, value)
    return value


def scan(spark: SparkSession, path: str) -> DataFrame:
    """The session catalog: a scan of the Parquet table at ``path`` (a file,
    a dir, or a lake table's symlink) with its schema resolved once per
    session and table version.

    The version is ``derived``'s: the realpath and its ``(st_ino,
    st_mtime_ns, st_size)``, taken once, so the schema is inferred from, and
    the scan pinned to, the same realpath. An ``os.replace`` of a file or a
    lake publish (a new version dir behind the symlink) misses at the cost
    of one ``stat``; a hit builds the scan with ``spark.read.schema(s)`` and
    runs no schema-inference job. A dashboard page resolves 21 schemas, each
    a one-task Spark job without this. Inference reads the session's
    Parquet confs, which ``session.ensure_session_conf`` fixes for every
    registered builder."""
    version = _version(path)
    real = version[0]
    schema = _memo(
        spark, (_SCHEMA, os.path.abspath(path)), version, lambda: spark.read.parquet(real).schema
    )
    return spark.read.schema(schema).parquet(real)


def derived(
    spark: SparkSession, sf_dir: str, name: str, inputs: tuple[str, ...], build: Callable[[], A]
) -> A:
    """The one memo for artifacts derived from the tables of ``sf_dir``
    (indexes, edge lists, a week set, a parsed fixture): ``build()``'s
    result, reused while the ``inputs`` tables are unchanged.

    * Key: weakly the live session, then ``(name, sf_dir)``. An entry
      stores the version it was built from: per input table, the realpath
      of its parquet and that path's ``(st_ino, st_mtime_ns, st_size)``,
      which an ``os.replace`` or a new lake version changes. A lookup at
      another version misses and its rebuild replaces the entry, so a
      session holds one entry per ``(name, sf_dir)``. (A DataFrame refers
      to its session, so a stopped session's entries stay until the
      process exits.) The catalog (``scan``) keeps its schemas in the same
      memo, keyed on the table's path.
    * Hit: the stored object itself, so callers may rely on identity.
    * Locking: one lock guards the dict, never ``build``: builds nest (an
      artifact built on another) and run Spark jobs. Two racing misses of
      one entry both build, and the last to finish wins.
    * DataFrame artifacts are ``localCheckpoint``ed by their builders: a
      checkpoint no longer reads the input files, so a hit never re-runs
      the build DAG, and unlike ``.cache()``, which Spark matches by plan
      (by input path), it is never served to a rebuild over a new version.

    Tests start from an empty memo with ``reset_derived()``."""
    version = tuple(_version(_path(sf_dir, t)) for t in inputs)
    return _memo(spark, (name, sf_dir), version, build)


def reset_derived() -> None:
    """Drop every memoized artifact and catalog schema (see ``derived``)."""
    with _MEMO_LOCK:
        _MEMO.clear()


def spread(df: DataFrame) -> DataFrame:
    """Repartition a single-file table to the session's full parallelism.

    The testdata tables are one Parquet file (= one row group = ONE input
    partition), which serializes every downstream map stage onto one core —
    measured 3x on shingling at sf0.1. Use on tables feeding CPU-heavy
    per-row work (hashing, Python workers). At 100 TB inputs arrive as many
    files and this round-robin shuffle of a small table is negligible."""
    spark = df.sparkSession
    return df.repartition(spark.sparkContext.defaultParallelism)
