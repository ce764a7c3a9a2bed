"""Spark job probes shared by the tests: which jobs a call launched,
whether a job was a Parquet schema read, and how many classes codegen has
compiled."""

from __future__ import annotations

from pyspark.sql import SparkSession


def job_ids(spark: SparkSession) -> set[int]:
    """Ids of the session's jobs so far (outside any job group), once the
    listener bus has delivered every event."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def schema_read(spark: SparkSession, job: int) -> bool:
    """A Parquet schema-inference job: one that ``spark.read.parquet``
    launches to read a footer, so every stage is named ``parquet at …``.

    A Parquet write whose plan has no exchange runs its one stage under the
    same name; a write that shuffles or broadcasts runs its stages from
    adaptive execution's threads, named after those. So a "no schema read"
    check holds only over calls whose writes shuffle or broadcast."""
    tracker = spark.sparkContext.statusTracker()
    stages = [tracker.getStageInfo(s) for s in tracker.getJobInfo(job).stageIds]
    return all(s is not None and s.name.startswith("parquet at ") for s in stages)


def compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far: the count of Spark's
    codegen compile-time histogram (``CodegenMetrics``), which records one
    sample per compile, that is per codegen cache miss."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
