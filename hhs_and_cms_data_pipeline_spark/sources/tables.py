"""Parquet table sources over the driver testdata layout (TESTDATA.md).

SURVEY §2.1 S3: the reference's table scans go through PostgreSQL
(`weekly-report.py:31-51`); here a scan is a vectorized Parquet read with
column pruning + predicate pushdown supplied by Catalyst. Always `select`
only needed columns in operators so `ReadSchema` stays narrow.
"""

from __future__ import annotations

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


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(df)
    return df


def spread(df: DataFrame) -> DataFrame:
    """Repartition a single-file table to the session's full parallelism.

    The testdata tables are one Parquet file (= one row group = ONE input
    partition), which serializes every downstream map stage onto one core —
    measured 3x on shingling at sf0.1. Use on tables feeding CPU-heavy
    per-row work (hashing, Python workers). At 100 TB inputs arrive as many
    files and this round-robin shuffle of a small table is negligible."""
    spark = df.sparkSession
    return df.repartition(spark.sparkContext.defaultParallelism)
