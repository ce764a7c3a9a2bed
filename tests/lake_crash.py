"""Batches and child process for the lake crash tests in tests/test_sinks.py.

As a script, ``python tests/lake_crash.py OP PATH KILL_AT`` starts a small
Spark session and runs the commit OP (``append`` or ``merge``) onto the
seeded table at PATH. With KILL_AT ``before_swap`` or ``after_swap`` it
SIGKILLs its own process group (itself and its JVM) around the rename that
publishes PATH; with ``mid_write`` it runs unpatched and the test kills it
from outside once write tasks have committed. Reaching the end of the
script means the kill point was never hit.
"""

from __future__ import annotations

import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hhs_and_cms_data_pipeline_spark import sinks  # noqa: E402


def seed(spark, op: str, path: str) -> None:
    """The table before the commit: 100 keys (append) or 1000 keys over
    ten partitions of ``p`` (merge)."""
    if op == "append":
        sinks.append_new_keys(spark, spark.range(100), path, ["id"])
    else:
        base = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") % 10).alias("p"), F.lit(0).alias("v")
        )
        sinks.write_parquet_atomic(base, path, partition_by=["p"])


def commit(spark, op: str, path: str):
    """The commit under test, with many write tasks so a kill can land
    mid-write. A replay calls it again with the same batch."""
    if op == "append":
        batch = spark.range(100, 2100, numPartitions=800)
        return sinks.append_new_keys(spark, batch, path, ["id"])
    # updates keys < 500 and inserts keys 1000..1199, in partitions p < 5 only
    updates = (
        spark.range(0, 1200, numPartitions=200)
        .where((F.col("id") % 10 < 5) & ((F.col("id") < 500) | (F.col("id") >= 1000)))
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 10).alias("p"),
            F.when(F.col("id") < 1000, 1).otherwise(2).alias("v"),
        )
    )
    return sinks.merge_rewrite_partitions(spark, updates, path, ["k"], "p")


def rows(spark, op: str, path: str) -> list[tuple]:
    """Every row of the published table, duplicates kept."""
    df = sinks.read_published(spark, path)
    cols = ["id"] if op == "append" else ["k", "v"]
    return sorted(tuple(r) for r in df.select(*cols).collect())


def expected(op: str, committed: bool) -> list[tuple]:
    if op == "append":
        return [(i,) for i in range(2100 if committed else 100)]
    want = {k: 0 for k in range(1000)}
    if committed:
        want.update({k: 1 for k in range(500) if k % 10 < 5})
        want.update({k: 2 for k in range(1000, 1200) if k % 10 < 5})
    return sorted(want.items())


def _kill_around_publish(path: str, kill_at: str) -> None:
    rename = os.rename

    def killing_rename(src, dst):
        if dst == path and kill_at == "before_swap":
            os.killpg(0, signal.SIGKILL)
        rename(src, dst)
        if dst == path:
            os.killpg(0, signal.SIGKILL)

    os.rename = killing_rename


if __name__ == "__main__":
    from pyspark.sql import SparkSession

    op, path, kill_at = sys.argv[1:]
    if kill_at != "mid_write":
        _kill_around_publish(path, kill_at)
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("lake-crash-child")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "1g")
        .getOrCreate()
    )
    commit(spark, op, path)
    spark.stop()
