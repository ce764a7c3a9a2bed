"""Structured Streaming tests: availableNow drain == batch result; foreachBatch
upsert sink is idempotent across restarts (SURVEY §2.10)."""

from __future__ import annotations

import pytest

from hhs_and_cms_data_pipeline_spark.streaming.events import (
    read_events_stream,
    run_available_now,
    stream_upsert_sink,
    tumbling_counts,
)
from tests.conftest import SF_SMOKE


def _canon(rows):
    return sorted(
        (str(r["window_start"]), r["event_type"], r["n_events"], repr(r["sum_value"]))
        for r in rows
    )


def test_available_now_matches_batch(spark, tmp_path):
    stream = read_events_stream(spark, SF_SMOKE)
    result = tumbling_counts(stream)
    out, n_batches = run_available_now(result, "t_stream_hourly", str(tmp_path / "ckpt"))
    assert n_batches == 1  # one staged file, no per-trigger file cap

    from hhs_and_cms_data_pipeline_spark.registry import all_specs

    batch = all_specs()["stream_tumbling_hourly"].builder(spark, SF_SMOKE)
    assert _canon(out.collect()) == _canon(batch.collect())


def test_foreach_batch_upsert_idempotent(spark, tmp_path):
    target = str(tmp_path / "events_sink")

    def run_once(ckpt: str):
        stream = read_events_stream(spark, SF_SMOKE).select(
            "event_id", "user_id", "event_type", "value"
        )
        q = stream_upsert_sink(stream, target, ["event_id"], ckpt)
        q.awaitTermination()

    run_once(str(tmp_path / "c1"))
    n1 = spark.read.parquet(target).count()
    # fresh checkpoint => the same files are re-delivered; the anti-join sink
    # must swallow them (exactly-once effect without a transactional store)
    run_once(str(tmp_path / "c2"))
    n2 = spark.read.parquet(target).count()
    assert n1 == n2 > 0
    assert spark.read.parquet(target).select("event_id").distinct().count() == n1


def test_stateful_sessionize_crosses_batches(spark, tmp_path):
    """The stateful sessionizer must see multiple micro-batches (state is
    really carried across them) and agree with the batch gaps-and-islands."""
    from hhs_and_cms_data_pipeline_spark.registry import all_specs
    from hhs_and_cms_data_pipeline_spark.streaming.stateful import (
        run_stateful_sessionize,
        stage_chronological_files,
    )

    stage = stage_chronological_files(spark, SF_SMOKE, str(tmp_path / "stage"))
    final, n_batches = run_stateful_sessionize(
        spark, stage, str(tmp_path / "ckpt"), "t_stateful_sessions"
    )
    assert n_batches >= 2, "expected several chronological micro-batches"

    batch = all_specs()["stream_sessionize"].builder(spark, SF_SMOKE)
    canon = lambda rows: sorted(tuple(r) for r in rows)  # noqa: E731
    assert canon(final.collect()) == canon(batch.collect())


def test_stream_static_enrichment_matches_batch(spark, tmp_path):
    """ST5 parity: the stream⋈static enrichment + tumbling agg drained with
    availableNow must equal the registered batch form. The static dim is
    re-read per micro-batch (no state store) — exactly the slowly-changing-
    dimension enrichment pattern a landing-zone pipeline runs."""
    from pyspark.sql import functions as F

    from hhs_and_cms_data_pipeline_spark.registry import all_specs
    from hhs_and_cms_data_pipeline_spark.sources import table

    stream = read_events_stream(spark, SF_SMOKE).select("ts", "user_id", "value")
    dim = (
        table(spark, SF_SMOKE, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(table(spark, SF_SMOKE, "nation").select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "n_name")
    )
    enriched = (
        stream.withWatermark("ts", "2 hours")
        .join(F.broadcast(dim), stream.user_id == dim.c_custkey)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "nation", "n_events", "sum_value")
    )
    out, _ = run_available_now(enriched, "t_stream_enrich", str(tmp_path / "ckpt"))
    batch = all_specs()["stream_enrich_tumbling"].builder(spark, SF_SMOKE)
    canon = lambda rows: sorted(
        (str(r["window_start"]), r["nation"], r["n_events"], repr(r["sum_value"]))
        for r in rows
    )
    assert canon(out.collect()) == canon(batch.collect())


def test_stream_dedup_matches_batch(spark, tmp_path):
    """ST6 parity: dropDuplicates over a stream with 10% of events
    redelivered (self-union of the source — the at-least-once replay model)
    drained with availableNow must equal the registered batch dedup. Runs
    append-mode with key state, not an aggregation, so it uses its own
    memory sink rather than run_available_now's complete-mode drain."""
    from pyspark.sql import functions as F

    from hhs_and_cms_data_pipeline_spark.registry import all_specs

    stream = read_events_stream(spark, SF_SMOKE).select(
        "event_id", "ts", "event_type", "value"
    )
    redelivered = stream.filter(F.col("event_id") % 10 == 0)
    deduped = stream.unionAll(redelivered).dropDuplicates(["event_id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_stream_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("t_stream_dedup")
    batch = all_specs()["stream_dedup_events"].builder(spark, SF_SMOKE)
    canon = lambda rows: sorted(
        (r["event_id"], str(r["ts"]), r["event_type"], repr(r["value"]))
        for r in rows
    )
    assert canon(out.collect()) == canon(batch.collect())


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """ST8 streaming twin: two watermarked streams joined on user_id with the
    30-min event-time range must yield exactly the batch attribution rows.
    The range condition on both watermarked columns is what lets Spark drop
    old click state as the purchase watermark advances."""
    from pyspark.sql import functions as F

    from hhs_and_cms_data_pipeline_spark.operators.streaming_batch import (
        click_purchase_attribution,
    )
    from hhs_and_cms_data_pipeline_spark.registry import all_specs

    def side(event_type, uid, eid, tsc):
        return (
            read_events_stream(spark, SF_SMOKE)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(uid),
                F.col("event_id").alias(eid),
                F.col("ts").alias(tsc),
            )
            .withWatermark(tsc, "1 hour")
        )

    clicks = side("click", "cuid", "click_id", "cts")
    purchases = side("purchase", "puid", "purchase_id", "pts")
    joined = click_purchase_attribution(clicks, purchases)
    q = (
        joined.writeStream.format("memory")
        .queryName("t_stream_interval")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("t_stream_interval")
    batch = all_specs()["stream_interval_join"].builder(spark, SF_SMOKE)

    def canon(rows):
        return sorted(
            (r["user_id"], r["click_id"], r["purchase_id"], r["gap_us"])
            for r in rows
        )

    got, want = canon(out.collect()), canon(batch.collect())
    assert len(want) > 0 and got == want


def test_watermark_drops_late_rows_and_gates_emission(spark, tmp_path):
    """Watermark semantics, not just batch parity. Three chronological
    micro-batches: the first two cover the real data and advance the
    watermark far past the early windows (closing and EVICTING them in
    append mode); the third re-delivers a duplicate of the very first
    event, by then ~4 weeks late against a 2h watermark. Spark's contract:
    a late row whose window state was already evicted is dropped — so the
    final table must equal the batch aggregation over the ORIGINAL events
    restricted to windows the final watermark closed, with the duplicate
    contributing nothing."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from hhs_and_cms_data_pipeline_spark.sources.tables import normalize_events_ts

    src = pq.read_table(f"{SF_SMOKE}/events.parquet").sort_by(
        [("ts", "ascending"), ("event_id", "ascending")]
    )
    n = src.num_rows
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    parts = [src.slice(0, n // 2), src.slice(n // 2, n - n // 2), src.slice(0, 1)]
    base = 1_600_000_000
    for i, part in enumerate(parts):
        path = os.path.join(stage, f"part-{i}.parquet")
        pq.write_table(part, path)
        os.utime(path, (base + i * 60, base + i * 60))

    schema = spark.read.parquet(stage).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(stage)
    )
    ev = normalize_events_ts(raw).select("ts", "event_type")
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_watermark_late")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 3
    watermark = q.lastProgress["eventTime"]["watermark"]  # ISO-8601, UTC

    got = {
        (str(r["ws"]), r["event_type"]): r["n"]
        for r in spark.table("t_watermark_late").collect()
    }
    wm_lit = F.to_timestamp(F.lit(watermark.replace("T", " ").rstrip("Z")))
    expect = {
        (str(r["ws"]), r["event_type"]): r["n"]
        for r in (
            spark.createDataFrame(src.to_pandas())
            .select(F.col("ts").cast("timestamp").alias("ts"), "event_type")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("w.end") <= wm_lit)
            .select(F.col("w.start").alias("ws"), "event_type", "n")
            .collect()
        )
    }
    assert len(got) > 0 and got == expect
    # the duplicated FIRST event must have contributed nothing: its
    # (window, type) count equals the count over the ORIGINAL rows alone.
    # Derive both the window and the expected count from the data — the
    # first hour holds exactly 1 matching event at sf0.001 but 6 at
    # sf0.01, so a hard-coded `== 1` is an SF-dependent fixture
    # assumption, not a semantics check.
    first_pdf = src.slice(0, 1).to_pandas()
    first_type = first_pdf["event_type"].iloc[0]
    first_row = (
        spark.createDataFrame(first_pdf)
        .select(F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("h"))
        .head()
    )
    first_ws = str(first_row["h"])
    n_orig = (
        spark.createDataFrame(src.to_pandas())
        .select(F.col("ts").cast("timestamp").alias("ts"), "event_type")
        .filter(
            (F.date_trunc("hour", F.col("ts")) == F.lit(first_row["h"]))
            & (F.col("event_type") == first_type)
        )
        .count()
    )
    assert got[(first_ws, first_type)] == n_orig


def test_stream_snapshot_sink_publishes_aggregates(spark, tmp_path):
    """The complete-mode snapshot sink (the one stream_upsert_sink's
    aggregate guard points at): draining the tumbling aggregation over
    multiple chronological micro-batches must leave the published table
    equal to the batch aggregation, with per-batch snapshots swapped in
    atomically."""
    from hhs_and_cms_data_pipeline_spark.registry import all_specs
    from hhs_and_cms_data_pipeline_spark.sinks import read_published
    from hhs_and_cms_data_pipeline_spark.sources.tables import normalize_events_ts
    from hhs_and_cms_data_pipeline_spark.streaming.events import (
        events_raw_schema,
        stream_snapshot_sink,
        tumbling_counts,
    )
    from hhs_and_cms_data_pipeline_spark.streaming.stateful import (
        stage_chronological_files,
    )

    stage = stage_chronological_files(
        spark, SF_SMOKE, str(tmp_path / "stage"), n_files=3
    )
    raw = (
        spark.readStream.schema(events_raw_schema(spark, stage))
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(stage)
    )
    target = str(tmp_path / "hourly_counts")
    q = stream_snapshot_sink(
        tumbling_counts(normalize_events_ts(raw)),
        target,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 3
    got = _canon(read_published(spark, target).collect())
    want = _canon(all_specs()["stream_tumbling_hourly"].builder(spark, SF_SMOKE).collect())
    assert len(want) > 0 and got == want


def test_stream_upsert_sink_rejects_aggregates(spark, tmp_path):
    """The row-stream-only guard: wiring an aggregated stream into the
    anti-join upsert sink must fail loudly (it would freeze the first
    partial emission) instead of silently storing stale counts."""
    import pytest

    from hhs_and_cms_data_pipeline_spark.streaming.events import (
        stream_upsert_sink,
        tumbling_counts,
    )

    agg = tumbling_counts(read_events_stream(spark, SF_SMOKE))
    with pytest.raises(ValueError, match="aggregated stream"):
        stream_upsert_sink(
            agg, str(tmp_path / "t"), ["window_start"], str(tmp_path / "c")
        )


def test_stream_outer_interval_join_matches_batch(spark, tmp_path):
    """ST12 streaming twin: left-outer stream-stream interval join. The
    NULL rows for unattributed clicks only emit once the watermark passes
    each click's attribution window, so a finite stream needs the
    production flush pattern — a far-future sentinel event on each side
    (excluded from results) that drags the final watermark forward; a
    follow-up no-data micro-batch then evicts and emits the remaining
    outer state. Result must equal the batch LEFT JOIN exactly."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    from hhs_and_cms_data_pipeline_spark.operators.streaming_batch import (
        click_purchase_attribution,
    )
    from hhs_and_cms_data_pipeline_spark.registry import all_specs
    from hhs_and_cms_data_pipeline_spark.sources import table

    stage = str(tmp_path / "staged")
    ev = table(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    ev.coalesce(1).write.parquet(stage)
    flush_ts = ev.agg(F.max("ts")).head()[0]
    sentinels = spark.createDataFrame(
        [(-1, "click"), (-2, "purchase")], "user_id long, event_type string"
    ).select(
        "user_id",
        (F.lit(flush_ts) + F.expr("INTERVAL 100 DAYS")).alias("ts"),
        F.lit(-1).cast("long").alias("event_id"),
        "event_type",
    )
    before = {p for p in os.listdir(stage) if p.endswith(".parquet")}
    sentinels.coalesce(1).write.mode("append").parquet(stage)
    # the sentinel part-file must land in a LATER micro-batch than the data
    # (watermarks advance at batch boundaries): identify it by SET DIFF
    # (an mtime sort can tie on coarse-granularity filesystems and pick the
    # data file), push its mtime forward, cap each batch at one file
    (sentinel_part,) = {
        p for p in os.listdir(stage) if p.endswith(".parquet")
    } - before
    os.utime(os.path.join(stage, sentinel_part), (_time.time() + 60,) * 2)

    src = (
        spark.readStream.schema("user_id long, ts timestamp, event_id long, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )

    def side(event_type, sentinel_uid, uid, eid, tsc):
        return (
            src.withWatermark("ts", "1 hour")
            .filter(
                (F.col("event_type") == event_type)
                | (F.col("user_id") == sentinel_uid)
            )
            .select(
                F.col("user_id").alias(uid),
                F.col("event_id").alias(eid),
                F.col("ts").alias(tsc),
            )
        )

    clicks = side("click", -1, "cuid", "click_id", "cts")
    purchases = side("purchase", -2, "puid", "purchase_id", "pts")
    joined = click_purchase_attribution(clicks, purchases, how="left")
    q = (
        joined.writeStream.format("memory")
        .queryName("t_stream_outer")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("t_stream_outer").filter(F.col("user_id") >= 0)
    batch = all_specs()["stream_outer_attribution"].builder(spark, SF_SMOKE)

    def canon(rows):
        return sorted(
            (r["user_id"], r["click_id"], r["purchase_id"], r["gap_us"])
            for r in rows
        )

    got, want = canon(out.collect()), canon(batch.collect())
    assert len(want) > 0 and got == want
    # the outer semantics actually exercised: some NULL purchase rows
    assert any(r[2] is None for r in want)


def test_native_session_window_stream_matches_batch(spark, tmp_path):
    """ST13 twin: the identical F.session_window aggregation as a real
    Structured Streaming query (complete mode — every merged session in
    the final state) must equal the batch result."""
    from pyspark.sql import functions as F

    from hhs_and_cms_data_pipeline_spark.functions.exact import dsum
    from hhs_and_cms_data_pipeline_spark.registry import all_specs
    from hhs_and_cms_data_pipeline_spark.streaming.events import (
        read_events_stream,
    )

    stream = (
        read_events_stream(spark, SF_SMOKE)
        .filter(F.col("ts").isNotNull())
        .select("user_id", "ts", "value")
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_stream_session_native")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("t_stream_session_native")
    batch = all_specs()["stream_session_window_native"].builder(spark, SF_SMOKE)

    def canon(rows):
        return sorted(
            (
                r["user_id"],
                str(r["session_start"]),
                str(r["session_end"]),
                r["n_events"],
                repr(r["sum_value"]),
            )
            for r in rows
        )

    got, want = canon(out.collect()), canon(batch.collect())
    assert len(want) > 0 and got == want


def test_cogroup_sides_survive_projection_plans(spark):
    """Regression (GX2): both cogroup sides derived from the SAME base plan
    with a shared column name ('ts') made Catalyst bind the purchases
    side's timestamp to the clicks side's attribute id — under projected
    plans the right child silently lost its column (KeyError under
    count(); silently-zero values under a sum projection). With disjoint
    per-side names, every plan shape must agree and values be real."""
    from pyspark.sql import functions as F

    from hhs_and_cms_data_pipeline_spark.registry import all_specs

    df = all_specs()["cogroup_click_context"].builder(spark, SF_SMOKE)
    n_full = len(df.collect())
    assert df.count() == n_full and df.limit(1).count() == 1
    total = df.agg(F.sum("n_clicks_before")).head()[0]
    total_full = sum(r["n_clicks_before"] for r in df.collect())
    assert total == total_full and total > 0


def test_incremental_rollup_resumes_from_checkpoint(spark, tmp_path):
    """Same-checkpoint RESUME recovery (the restart semantics a production
    maintenance job actually relies on, distinct from the fresh-checkpoint
    redelivery test above): drain two files with availableNow, stop, add a
    third file, restart with the SAME checkpoint — the second run must
    process ONLY the new file (source offsets live in the checkpoint) with
    a continuing batch_id, and the published rollup store must equal the
    from-scratch aggregate over all files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hhs_and_cms_data_pipeline_spark.operators.streaming_batch import (
        make_rollup_merger,
    )
    from hhs_and_cms_data_pipeline_spark.sinks import read_published

    stage = tmp_path / "stage"
    stage.mkdir()
    ckpt = str(tmp_path / "ckpt")
    target = str(tmp_path / "rollup")

    def write_file(name, rows):
        pq.write_table(
            pa.table(
                {
                    "user_id": pa.array([r[0] for r in rows], pa.int64()),
                    "event_type": pa.array([r[1] for r in rows], pa.string()),
                    "value": pa.array([r[2] for r in rows], pa.float64()),
                }
            ),
            str(stage / name),
        )
        # distinct ascending mtimes: the file source orders batches by
        # modification time, and two writes landing on one mtime tick
        # (seen under parallel-suite load) would flip the expected [3, 2]
        # batch sizes — pin the arrival order like stage_chronological_files
        import os as _os

        _os.utime(
            str(stage / name),
            (1_600_000_000 + 60 * int(name[1]),) * 2,
        )

    seen: list[tuple[int, int]] = []
    base = make_rollup_merger(target)

    def merge(batch_df, batch_id):
        seen.append((int(batch_id), batch_df.count()))
        base(batch_df, batch_id)

    def run():
        raw = (
            spark.readStream.schema("user_id long, event_type string, value double")
            .option("maxFilesPerTrigger", 1)
            .format("parquet")
            .load(str(stage))
        )
        q = (
            raw.writeStream.foreachBatch(merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    f1 = [(1, "click", 1.5), (1, "click", 2.0), (2, "purchase", 10.0)]
    f2 = [(1, "purchase", 4.0), (2, "click", 0.5)]
    write_file("f1.parquet", f1)
    write_file("f2.parquet", f2)
    run()
    assert [n for _, n in seen] == [3, 2]  # one batch per file, all rows once

    f3 = [(1, "click", 3.0), (3, "click", 7.0), (3, "click", 1.0), (2, "purchase", 2.5)]
    write_file("f3.parquet", f3)
    run()
    # resume: exactly ONE new batch, only the new file's rows, id continues
    assert [n for _, n in seen] == [3, 2, 4]
    assert seen[2][0] == seen[1][0] + 1

    # the maintained store equals the from-scratch aggregate over all files
    want = {}
    for u, t, v in f1 + f2 + f3:
        n, s = want.get((u, t), (0, 0.0))
        want[(u, t)] = (n + 1, s + v)
    got = {
        (r["user_id"], r["event_type"]): (r["n"], float(r["s"]))
        for r in read_published(spark, target).collect()
    }
    assert got == want


def test_additive_merge_rejects_foreign_run_store(spark, tmp_path):
    """foreachBatch batch ids are monotone only per checkpoint: a fresh
    checkpoint (ids restart at 0) pointed at a surviving additive store
    must fail LOUDLY, not silently skip its first batches as 'replays'
    (ADVICE r11). Same-run replays stay no-ops; run_id=None (ad-hoc use)
    keeps the legacy per-run guard."""
    import pytest

    from hhs_and_cms_data_pipeline_spark.operators.streaming_batch import (
        make_rollup_merger,
    )
    from hhs_and_cms_data_pipeline_spark.sinks import read_published

    target = str(tmp_path / "rollup")
    batch = spark.createDataFrame(
        [(1, "click", 1.0)], "user_id long, event_type string, value double"
    )
    merge_a = make_rollup_merger(target, run_id="ckpt-A")
    merge_a(batch, 0)
    merge_a(batch, 0)  # same-run redelivery: no-op
    rows = read_published(spark, target).collect()
    assert [(r["user_id"], r["n"]) for r in rows] == [(1, 1)], (
        "replay must not double-count"
    )
    with pytest.raises(ValueError, match="checkpoint"):
        make_rollup_merger(target, run_id="ckpt-B")(batch, 0)
    # still exactly one fold — the foreign batch never merged
    assert read_published(spark, target).collect()[0]["n"] == 1
    # run_id=None skips the identity check it cannot make, keeps batch guard
    make_rollup_merger(target)(batch, 1)
    assert read_published(spark, target).collect()[0]["n"] == 2


def test_hll_merge_is_replay_idempotent(spark, tmp_path):
    """ST16's algebraic replay safety, demonstrated directly: foreachBatch
    is at-least-once, and unlike ST14's additive merge (which needs the
    stored last_batch_id guard), MAX-merging the SAME batch twice must
    leave the register store byte-identical — a join-semilattice needs no
    replay guard. Also checks the store equals the batch's own registers
    plus an earlier disjoint batch merged in."""
    from hhs_and_cms_data_pipeline_spark.operators.sketch import (
        hll_batch_registers,
    )
    from hhs_and_cms_data_pipeline_spark.operators.streaming_batch import (
        make_hll_merger,
    )
    from hhs_and_cms_data_pipeline_spark.sinks import read_published

    target = str(tmp_path / "hll_store")
    merge = make_hll_merger(target)

    b1 = spark.createDataFrame([(i,) for i in range(40)], "user_id bigint")
    b2 = spark.createDataFrame(
        [(i,) for i in range(30, 90)], "user_id bigint"
    )

    def registers():
        return {
            r["idx"]: r["rho"]
            for r in read_published(spark, target).collect()
        }

    merge(b1, 0)
    after_b1 = registers()
    merge(b1, 0)  # redelivered batch: no-op by algebra, no guard involved
    assert registers() == after_b1

    merge(b2, 1)
    after_b2 = registers()
    merge(b2, 1)  # replay again after a second distinct batch
    assert registers() == after_b2

    whole = {
        r["idx"]: r["rho"]
        for r in hll_batch_registers(b1.union(b2)).collect()
    }
    assert after_b2 == whole


def test_drift_merge_replay_guard_and_count_identity(spark, tmp_path):
    """ST17's exactly-once contract: the additive (event_type, window)
    count merge is NOT idempotent, so the stored last_batch_id guard must
    turn a redelivered batch into a no-op; and after any slicing the
    store must equal the from-scratch per-window counts."""
    import datetime as dt

    from hhs_and_cms_data_pipeline_spark.operators.ingest_queries import (
        _DRIFT_SPLIT,
    )
    from hhs_and_cms_data_pipeline_spark.operators.streaming_batch import (
        make_drift_merger,
    )
    from hhs_and_cms_data_pipeline_spark.sinks import read_published

    split = dt.datetime.fromisoformat(_DRIFT_SPLIT)
    before = split - dt.timedelta(days=1)
    after = split + dt.timedelta(days=1)
    target = str(tmp_path / "drift_store")
    merge = make_drift_merger(target)

    def mk(rows):
        return spark.createDataFrame(rows, "ts timestamp, event_type string")

    def store():
        return {
            r["event_type"]: (r["n_ref"], r["n_cur"])
            for r in read_published(spark, target).collect()
        }

    b1 = mk([(before, "click"), (before, "click"), (after, "view")])
    b2 = mk([(after, "click"), (before, "view"), (after, "view"), (None, "x"),
             (before, None)])
    merge(b1, 0)
    assert store() == {"click": (2, 0), "view": (0, 1)}
    merge(b1, 0)  # redelivered: the guard must make this a no-op
    assert store() == {"click": (2, 0), "view": (0, 1)}
    merge(b2, 1)  # null ts / null type rows are dropped, not counted
    whole = {"click": (2, 1), "view": (1, 2)}
    assert store() == whole
    merge(b2, 1)  # replay after a second batch: still a no-op
    assert store() == whole


def test_cms_merge_replay_guard_and_additive_identity(spark, tmp_path):
    """ST18's exactly-once contract: the additive (r, bucket) cell merge
    is NOT idempotent (unlike ST16's MAX semilattice), so the stored
    last_batch_id guard must turn a redelivered batch into a no-op; and
    after any slicing the store must equal SK2's from-scratch cell build
    — the additivity that makes the streaming report bit-identical."""
    from hhs_and_cms_data_pipeline_spark.operators.sketch import (
        cms_batch_cells,
    )
    from hhs_and_cms_data_pipeline_spark.operators.streaming_batch import (
        make_cms_merger,
    )
    from hhs_and_cms_data_pipeline_spark.sinks import read_published

    target = str(tmp_path / "cms_store")
    merge = make_cms_merger(target)

    b1 = spark.createDataFrame(
        [(i % 7,) for i in range(40)] + [(None,)], "user_id bigint"
    )
    b2 = spark.createDataFrame([(i % 13,) for i in range(60)], "user_id bigint")

    def store():
        return {
            (r["r"], r["bucket"]): r["c"]
            for r in read_published(spark, target).collect()
        }

    merge(b1, 0)
    after_b1 = store()
    assert sum(after_b1.values()) == 4 * 40  # d rows per non-null item
    merge(b1, 0)  # redelivered: the guard must make this a no-op
    assert store() == after_b1
    merge(b2, 1)
    whole = {
        (r["r"], r["bucket"]): r["c"]
        for r in cms_batch_cells(b1.union(b2)).collect()
    }
    assert store() == whole
    merge(b2, 1)  # replay after a second batch: still a no-op
    assert store() == whole


def test_event_ledger_stream_source_matches_batch(spark, tmp_path):
    """S11 streaming half: the partitioned DataSourceStreamReader plans
    one EXECUTOR-SIDE input partition per ledger file with {"idx": N}
    offsets; a drain must deliver every ledger row exactly once (equal
    to the batch reader over the same ledger), and re-planning a
    committed [start, end) range must re-serve it bit-identically (the
    checkpoint recovery path)."""
    from pyspark.sql import functions as F

    from hhs_and_cms_data_pipeline_spark.sources.ledger_stream import (
        EventLedgerStreamReader,
        register_event_ledger,
    )
    from hhs_and_cms_data_pipeline_spark.streaming.stateful import (
        stage_chronological_files,
    )

    ledger = stage_chronological_files(
        spark, SF_SMOKE, str(tmp_path / "ledger"), n_files=3
    )
    register_event_ledger(spark)
    q = (
        spark.readStream.format("event_ledger")
        .option("path", ledger)
        .load()
        .writeStream.format("memory")
        .queryName("t_ledger_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    streamed = spark.table("t_ledger_stream")
    batch = spark.read.format("event_ledger").option("path", ledger).load()
    canon = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    got, want = canon(streamed), canon(batch)
    assert len(want) > 0 and got == want
    # every ledger file was served: all three file_seq values present
    assert {r["file_seq"] for r in streamed.select("file_seq").distinct().collect()} == {0, 1, 2}
    # the micro-batch is PARTITIONED (one input partition per file, read
    # executor-side) — the multi-file ledger must not collapse onto the
    # driver as a single partition
    rdr = EventLedgerStreamReader(ledger)
    assert rdr.latestOffset() == {"idx": 3}
    parts = rdr.partitions({"idx": 0}, {"idx": 3})
    assert len(parts) == 3
    # recovery path: re-planning a committed range re-serves it
    # bit-identically — and the read path is ARROW-BATCHED (r8 VERDICT ask:
    # read() yields pyarrow.RecordBatch, never per-row Python tuples)
    import pyarrow as pa

    batches = [
        b for p in rdr.partitions({"idx": 0}, {"idx": 2}) for b in rdr.read(p)
    ]
    assert batches and all(isinstance(b, pa.RecordBatch) for b in batches)
    replay = sorted(
        tuple(row.values()) for b in batches for row in b.to_pylist()
    )
    direct = sorted(t for t in want if t[0] in (0, 1))
    assert replay == direct


def test_stream_ohlc_daily_matches_batch(spark, tmp_path):
    """XT5 streaming twin: the daily OHLC bars — including open/close as
    min/max over the (ts_us, event_id, value) struct — computed as a
    complete-mode streaming aggregation over the events stream must equal
    the registered batch query. Pins that the struct-ordered min/max
    trick is a legal, incrementally-maintainable streaming agg state (the
    property that makes XT5's one-pass plan deployable as a live bar
    builder)."""
    from pyspark.sql import functions as F

    from hhs_and_cms_data_pipeline_spark.functions.exact import dsum
    from hhs_and_cms_data_pipeline_spark.registry import all_specs
    from hhs_and_cms_data_pipeline_spark.streaming.events import (
        read_events_stream,
        run_available_now,
    )

    ev = (
        read_events_stream(spark, SF_SMOKE)
        .filter(
            F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("event_id").isNotNull()
            & F.col("value").isNotNull()
        )
        .select(
            "event_type",
            F.col("ts").cast("date").alias("d"),
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            "value",
        )
    )
    pos = F.struct("ts_us", "event_id", "value")
    bars = ev.groupBy("event_type", "d").agg(
        F.min(pos).getField("value").alias("open_value"),
        F.max("value").alias("high_value"),
        F.min("value").alias("low_value"),
        F.max(pos).getField("value").alias("close_value"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        dsum("value", "sum_value"),
    )
    out, _ = run_available_now(bars, "t_stream_ohlc", str(tmp_path / "ckpt"))
    batch = all_specs()["xt5_ohlc_daily"].builder(spark, SF_SMOKE)
    canon = lambda rows: sorted(  # noqa: E731
        (
            r["event_type"], str(r["d"]), repr(r["open_value"]),
            repr(r["high_value"]), repr(r["low_value"]),
            repr(r["close_value"]), r["n_events"], repr(r["sum_value"]),
        )
        for r in rows
    )
    assert canon(out.collect()) == canon(batch.collect())


def test_stream_cusum_matches_batch_bit_exact(spark, tmp_path):
    """ST23 == XT8 by construction (shared all-integer readout over a
    daily-count relation that the additive merge reconstructs exactly) —
    assert it empirically: every column of every row identical."""
    from hhs_and_cms_data_pipeline_spark.operators.relational_ext import (
        xt8_cusum_changepoint,
    )
    from hhs_and_cms_data_pipeline_spark.operators.streaming_batch import (
        stream_cusum_changepoint,
    )

    batch = xt8_cusum_changepoint(spark, SF_SMOKE).collect()
    stream = stream_cusum_changepoint(spark, SF_SMOKE).collect()
    assert len(batch) > 0
    assert [tuple(r) for r in batch] == [tuple(r) for r in stream]


def test_daily_count_merge_replay_guard_and_additive_identity(spark, tmp_path):
    """ST23's merge is additive, hence NOT idempotent — the stored
    last_batch_id guard is what makes foreachBatch's at-least-once
    redelivery exactly-once. Replaying a batch must be a byte-level no-op
    on the store; a later batch must still fold in; and any slicing of the
    rows yields the from-scratch daily counts (COUNT is a monoid)."""
    import datetime

    from hhs_and_cms_data_pipeline_spark.operators.streaming_batch import (
        make_daily_count_merger,
    )
    from hhs_and_cms_data_pipeline_spark.sinks import read_published

    target = str(tmp_path / "daily")
    merge = make_daily_count_merger(target)

    def mk(rows):
        return spark.createDataFrame(rows, "ts timestamp, event_type string")

    d0 = datetime.datetime(2024, 1, 1, 5, 0, 0)
    d1 = datetime.datetime(2024, 1, 2, 7, 0, 0)
    b0 = [(d0, "click"), (d0, "click"), (d1, "click"), (None, "click"), (d0, None)]
    b1 = [(d0, "click"), (d1, "purchase")]

    merge(mk(b0), 0)
    merge(mk(b0), 0)  # redelivered after a crash: must be a no-op
    got0 = {
        (r["event_type"], str(r["d"])): r["n"]
        for r in read_published(spark, target).collect()
    }
    assert got0 == {("click", "2024-01-01"): 2, ("click", "2024-01-02"): 1}

    merge(mk(b1), 1)
    merge(mk(b1), 1)  # and replay of the second batch likewise
    got1 = {
        (r["event_type"], str(r["d"])): r["n"]
        for r in read_published(spark, target).collect()
    }
    assert got1 == {
        ("click", "2024-01-01"): 3,
        ("click", "2024-01-02"): 1,
        ("purchase", "2024-01-02"): 1,
    }



# the stateful streaming drains, by module: the name of each one's runner
_STATE_DRAINS = {
    "stateful": "run_stateful_sessionize",
}


@pytest.mark.parametrize("module", list(_STATE_DRAINS))
def test_failed_stream_construction_leaves_session_confs(
    spark, tmp_path, monkeypatch, module
):
    """A drain that fails while BUILDING its stream must leave the shared
    session's shuffle width and state-store provider as they were: the
    drain confs are scoped to start()..awaitTermination() only."""
    import importlib

    from hhs_and_cms_data_pipeline_spark.streaming import events, stateful

    run = getattr(
        importlib.import_module(f"hhs_and_cms_data_pipeline_spark.streaming.{module}"),
        _STATE_DRAINS[module],
    )

    def broken_schema(spark, src):
        raise RuntimeError("injected: schema probe failed")

    monkeypatch.setattr(events, "events_raw_schema", broken_schema)
    monkeypatch.setattr(stateful, "events_raw_schema", broken_schema)
    parts_key = "spark.sql.shuffle.partitions"
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prior_parts = spark.conf.get(parts_key)
    prior_provider = spark.conf.get(provider_key, None)
    spark.conf.set(parts_key, "13")
    try:
        with pytest.raises(RuntimeError, match="injected"):
            run(spark, str(tmp_path / "stage"), str(tmp_path / "ckpt"), "t_conf_leak")
        assert spark.conf.get(parts_key) == "13"
        assert spark.conf.get(provider_key, None) == prior_provider
    finally:
        spark.conf.set(parts_key, prior_parts)


def test_malformed_state_partitions_env_names_the_variable(monkeypatch):
    from hhs_and_cms_data_pipeline_spark.streaming.stateful import (
        stream_state_partitions,
    )

    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8g")
    with pytest.raises(ValueError, match="SPARK_GRAFT_STREAM_STATE_PARTITIONS"):
        stream_state_partitions(None)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "6")
    assert stream_state_partitions(None) == 6


@pytest.mark.parametrize("case", ["hll", "cusum"])
def test_failed_drain_removes_its_checkpoint(spark, tmp_path, monkeypatch, case):
    """A drain builder that fails must still remove its single-use
    checkpoint: ``hll`` fails inside the first micro-batch (the
    foreachBatch merge raises), ``cusum`` while building its stream (the
    schema probe raises)."""
    import tempfile

    from hhs_and_cms_data_pipeline_spark.operators import streaming_batch
    from hhs_and_cms_data_pipeline_spark.streaming import events, stateful

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    if case == "hll":

        def broken_merger(target):
            def _merge(batch_df, batch_id):
                raise RuntimeError("injected: merge failed")

            return _merge

        monkeypatch.setattr(streaming_batch, "make_hll_merger", broken_merger)
        build = streaming_batch.stream_hll_registers
    else:

        def broken_schema(spark, src):
            raise RuntimeError("injected: schema probe failed")

        monkeypatch.setattr(events, "events_raw_schema", broken_schema)
        monkeypatch.setattr(stateful, "events_raw_schema", broken_schema)
        build = streaming_batch.stream_cusum_changepoint
    with pytest.raises(Exception, match="injected"):
        build(spark, SF_SMOKE)
    assert not list(tmp_path.rglob("*ckpt*"))
