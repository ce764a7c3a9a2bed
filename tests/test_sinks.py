"""Lake commit protocol under faults (sinks.py): a writer killed mid-write or
around the symlink swap leaves the published table whole, a replay restores
exactly the expected rows, and the writers refuse a table they did not
publish."""

from __future__ import annotations

import glob
import os
import signal
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from hhs_and_cms_data_pipeline_spark import sinks
from hhs_and_cms_data_pipeline_spark.operators.ingest import upsert_new_keys
from tests import lake_crash
from tests.plan_audit import count_exchanges, formatted_plan
from tests.spark_jobs import job_ids, schema_read

CHILD_TIMEOUT_S = 300


def _kill_child(op: str, path: str, kill_at: str, log: str) -> set[str]:
    """Run ``lake_crash.py`` on `path` in its own session and SIGKILL its
    process group (the child and its JVM) at `kill_at`. Returns every table
    version a reader resolved from `path` while the child ran."""
    with open(log, "wb") as out:
        child = subprocess.Popen(
            [sys.executable, lake_crash.__file__, op, path, kill_at],
            stdout=out,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
    seen, killed = set(), False
    deadline = time.monotonic() + CHILD_TIMEOUT_S
    try:
        while child.poll() is None and time.monotonic() < deadline:
            seen.add(os.path.realpath(path))
            if kill_at == "mid_write" and glob.glob(
                f"{path}*/**/_temporary/0/task_*", recursive=True
            ):
                os.killpg(child.pid, signal.SIGKILL)
                killed = True
                break
            time.sleep(0.02)
    finally:
        if child.poll() is None and not killed:
            os.killpg(child.pid, signal.SIGKILL)
        child.wait(timeout=60)
    seen.add(os.path.realpath(path))
    if not killed and child.returncode != -signal.SIGKILL:
        with open(log, errors="replace") as f:
            tail = f.read()[-3000:]
        pytest.fail(
            f"the kill missed the write window ({op} {kill_at}): the child "
            f"exited with {child.returncode}\n{tail}"
        )
    if time.monotonic() >= deadline:
        pytest.fail(f"the child did not reach {kill_at} within {CHILD_TIMEOUT_S} s")
    return seen


def test_killed_append_replays_without_duplicates(spark, tmp_path):
    """An append killed after some of its write tasks committed publishes
    nothing, and replaying the batch appends each key exactly once. An
    in-place append left the dead job's committed task files in the table's
    shared _temporary dir, where the replay's job commit merged them in."""
    path = str(tmp_path / "tbl")
    lake_crash.seed(spark, "append", path)
    _kill_child("append", path, "mid_write", str(tmp_path / "child.log"))
    assert lake_crash.rows(spark, "append", path) == lake_crash.expected("append", False), (
        "the killed append became visible: the kill missed the write window"
    )
    assert lake_crash.commit(spark, "append", path) == 2000
    df = sinks.read_published(spark, path)
    assert df.count() == df.distinct().count() == 2100


@pytest.mark.slow
@pytest.mark.parametrize(
    "op,kill_at",
    [
        ("merge", "mid_write"),
        ("append", "before_swap"),
        ("append", "after_swap"),
        ("merge", "before_swap"),
        ("merge", "after_swap"),
    ],
)
def test_killed_commit_recovers_on_replay(spark, tmp_path, op, kill_at):
    """Kill matrix: readers only ever resolve published versions, the table
    holds the pre-commit rows (or, once swapped, the committed rows), a
    replay converges on the committed rows, and the next publish garbage-
    collects the dead writer's orphans once they are past the grace."""
    path = str(tmp_path / "tbl")
    lake_crash.seed(spark, op, path)
    before = os.path.realpath(path)
    seen = _kill_child(op, path, kill_at, str(tmp_path / "child.log"))
    swapped = kill_at == "after_swap"
    assert lake_crash.rows(spark, op, path) == lake_crash.expected(op, swapped)
    published = {before, os.path.realpath(path)}
    orphans = [
        p for p in glob.glob(f"{path}.__*") if os.path.realpath(p) not in published
    ]
    assert bool(orphans) != swapped, orphans
    assert not seen & {os.path.realpath(p) for p in orphans}, "a reader saw an orphan"

    past_grace = time.time() - 3600
    for p in orphans:
        os.utime(p, (past_grace, past_grace), follow_symlinks=False)
    lake_crash.commit(spark, op, path)  # the replay, in a restarted process
    assert lake_crash.rows(spark, op, path) == lake_crash.expected(op, True)
    assert not [p for p in orphans if os.path.lexists(p)], "orphans survived GC"


def test_writers_refuse_a_plain_directory(spark, tmp_path):
    """A plain directory at `path` (an in-place table) is refused by every
    writer and left as it is; clear_published_versions resets it."""
    path = str(tmp_path / "tbl")
    df = spark.range(6).select(F.col("id").alias("k"), (F.col("id") % 2).alias("p"))
    df.write.partitionBy("p").parquet(path)

    def listing() -> list[str]:
        return sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)

    files = listing()
    writers = {
        "write_parquet_atomic": lambda: sinks.write_parquet_atomic(df, path),
        "append_new_keys": lambda: sinks.append_new_keys(spark, df, path, ["k"]),
        "merge_rewrite_partitions": lambda: sinks.merge_rewrite_partitions(
            spark, df, path, ["k"], "p"
        ),
    }
    for name, write in writers.items():
        with pytest.raises(ValueError, match="published table"):
            write()
        assert not os.path.islink(path), name
        assert listing() == files, name
    sinks.clear_published_versions(path)
    assert not os.path.lexists(path)


def test_lake_writes_infer_no_schema(spark, tmp_path):
    """A commit reads the current version with the batch's own schema: an
    append onto an existing table and a merge into a touched partition
    launch no Parquet schema-inference job, and the anti-join's build side
    is broadcast as it is, with no distinct shuffled under it."""
    rows = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("k"), (F.col("id") % 3).alias("p"), (F.col("id") * 0.5).alias("v")
    )
    appended, merged = str(tmp_path / "appended"), str(tmp_path / "merged")
    writes = {
        "append_new_keys": lambda df: sinks.append_new_keys(spark, df, appended, ["k"]),
        "merge_rewrite_partitions": lambda df: sinks.merge_rewrite_partitions(
            spark, df, merged, ["k"], "p"
        ),
    }
    sinks.write_parquet_atomic(rows(0, 30), merged, partition_by=["p"])
    writes["append_new_keys"](rows(0, 30))
    # both calls anti-join a broadcast, so their write stages are not named
    # like a schema read (see schema_read)
    for name, write in writes.items():
        before = job_ids(spark)
        write(rows(20, 40))
        launched = job_ids(spark) - before
        assert launched, name
        assert [j for j in launched if schema_read(spark, j)] == [], name
    existing = sinks.read_published(spark, appended)
    assert existing.count() == sinks.read_published(spark, merged).count() == 40
    # `existing` is a file scan, so Spark cannot prove its keys distinct
    # (a spark.range key would let the optimizer drop any dedup on its own)
    assert count_exchanges(formatted_plan(upsert_new_keys(rows(30, 50), existing, ["k"]))) == 0


def test_read_published_misses_after_a_republish(spark, tmp_path):
    """``read_published`` resolves a version's schema once: a re-read of
    the same version launches no job, and a republish through
    ``write_parquet_atomic`` misses the catalog entry, so the read returns
    the new version's schema and rows."""
    path = str(tmp_path / "tbl")
    sinks.write_parquet_atomic(spark.range(3).select(F.col("id").cast("int").alias("k")), path)
    assert sinks.read_published(spark, path).dtypes == [("k", "int")]
    before = job_ids(spark)
    sinks.read_published(spark, path)
    assert job_ids(spark) - before == set()

    sinks.write_parquet_atomic(
        spark.range(5).select(F.col("id").cast("string").alias("k"), F.lit(0.5).alias("v")), path
    )
    before = job_ids(spark)
    new = sinks.read_published(spark, path)
    assert [j for j in job_ids(spark) - before if schema_read(spark, j)], "the republish hit"
    assert new.dtypes == [("k", "string"), ("v", "double")]
    assert sorted(tuple(r) for r in new.collect()) == [(str(i), 0.5) for i in range(5)]
