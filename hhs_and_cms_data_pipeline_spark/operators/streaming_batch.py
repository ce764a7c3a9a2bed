"""Batch-semantics equivalents of the streaming surface, oracle-checked.

Structured Streaming with trigger(availableNow) over a static table produces
exactly these results (asserted in tests/test_streaming.py); registering the
batch form gives the driver a DuckDB oracle for the windowing semantics.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dsum, floordiv, sql_dsum, sql_floordiv
from .ingest_queries import _DRIFT_SCALE, _DRIFT_SPLIT
from ..registry import register
from ..sources import table


@contextmanager
def _staged_drain(spark: SparkSession, sf_dir: str, name: str):
    """Scaffold of this module's bounded drains (ST4, ST11, ST14, ST16,
    ST17, ST18, ST22, ST23). Stages events.parquet as chronological files,
    makes a single-use checkpoint and yields ``(stage, ckpt, out)``; the
    body drains the builder's own sink through streaming.stateful
    (drain_stream, or a run_* runner). ``out`` is the builder's scratch
    target ``<tempdir>/<name>_<sf tag>``, cleared first so a rerun is
    deterministic. The checkpoint is removed on exit, also when the drain
    fails: the result is read from the sink, never from the checkpoint."""
    from ..sinks import clear_published_versions
    from ..streaming.stateful import stage_chronological_files

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = os.path.join(tempfile.gettempdir(), f"{name}_{tag}")
    clear_published_versions(out)
    stage = stage_chronological_files(spark, sf_dir, f"{out}_stage")
    ckpt = tempfile.mkdtemp(prefix=f"{name}_ckpt_")
    try:
        yield stage, ckpt, out
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


# --------------------------------------------------------------------------
# Tumbling 1-hour window (SURVEY §2.10: F.window on event time).
# --------------------------------------------------------------------------


@register(
    "stream_tumbling_hourly",
    oracle=f"""
    SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
             AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_dsum("value")} AS sum_value
    FROM events
    WHERE ts IS NOT NULL  -- F.window silently drops null-ts rows
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    bench=True,
    tags=("ST1",),
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h event-time windows; identical to the streaming plan in
    streaming/events.py:tumbling_counts (epoch-aligned windows == date_trunc)."""
    ev = table(spark, sf_dir, "events").select("ts", "event_type", "value")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
        .orderBy("window_start", "event_type")
    )


# --------------------------------------------------------------------------
# Sliding window: 1-hour window sliding every 30 minutes.
# --------------------------------------------------------------------------


@register(
    "stream_sliding_window",
    oracle=f"""
    WITH expanded AS (
      SELECT CAST(to_timestamp(
               (CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 1800) AS BIGINT) - k.k)
               * 1800) AS TIMESTAMP) AS window_start,
             value
      FROM events, (SELECT UNNEST([0, 1]) AS k) k
      WHERE ts IS NOT NULL)  -- F.window drops null-ts rows; the cross
                             -- join would otherwise count them TWICE
    SELECT window_start, COUNT(*) AS n_events, {sql_dsum("value")} AS sum_value
    FROM expanded
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("ST2",),
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h windows every 30min — each event lands in 2 windows. The oracle
    expands event->windows explicitly; Spark's F.window does it natively."""
    ev = table(spark, sf_dir, "events").select("ts", "value")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
        .orderBy("window_start")
    )


# --------------------------------------------------------------------------
# Sessionization: 30-minute inactivity gap, gaps-and-islands form.
# --------------------------------------------------------------------------

# Shared oracle CTE text for the 30-minute-gap sessionization (the SQL twin
# of with_session_seq): `sessions` = (user_id, ts, event_id, event_type,
# session_seq). ONE definition referenced by the ST3/ST4/ST7/ST9 oracles —
# four hand-inlined copies of this text previously had to be edited in
# lockstep, the same drift hazard the Spark side already eliminated.
_SQL_SESSIONIZED_CTES = """ordered AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
             CASE WHEN CAST(ts AS TIMESTAMP)
                       - LAG(CAST(ts AS TIMESTAMP)) OVER (
                           PARTITION BY user_id
                           ORDER BY CAST(ts AS TIMESTAMP), event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(CAST(ts AS TIMESTAMP)) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    sessions AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM ordered)"""


_SESSION_GAP_US = 30 * 60 * 1_000_000


def with_session_seq(ev):
    """Append ``session_seq`` (1-based per user) to an events frame with
    (user_id, ts, event_id) using the 30-minute inactivity gap rule, ties
    broken by (ts, event_id). THE single definition of sessionization —
    stream_sessionize (ST3), session_event_paths (ST7), and session_funnel
    (ST9) all build on it (three hand-inlined copies once drifted apart
    during the TIMESTAMP_NTZ migration). The gap compares unix_micros of
    the TIMESTAMP-cast ts: micro-exact (session tz is UTC) and NTZ-proof.

    Null-ts rows are DROPPED up front (mirrored by ``WHERE ts IS NOT NULL``
    in _SQL_SESSIONIZED_CTES): Spark's asc default is NULLS FIRST where
    DuckDB's is NULLS LAST, so a null timestamp would silently land at
    opposite ends of the session ordering on the two engines. A sessionizer
    has no meaningful position for an untimed event anyway — and a NULL
    user_id is excluded with it (one contract for the whole session
    family, ST3/ST4/ST7/ST9): a session keyed on "unknown user" lumps
    unrelated traffic, and the stateful twin's non-null output schema
    cannot carry it (adversarial-gate finding).
    """
    ev = ev.filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(order)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    lag_us = F.unix_micros(lag_ts.cast("timestamp"))
    is_new = (lag_ts.isNull() | (ts_us - lag_us > _SESSION_GAP_US)).cast("int")
    running = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        ev.withColumn("is_new", is_new)
        .withColumn("session_seq", F.sum("is_new").over(running))
        .drop("is_new")
    )



@register(
    "stream_sessionize",
    oracle=f"""
    WITH {_SQL_SESSIONIZED_CTES}
    SELECT user_id, session_seq,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("ST3",),
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows via gaps-and-islands (30-min inactivity gap).

    The streaming form is F.session_window / applyInPandasWithState; this
    batch form has identical results on a static table and is SQL-oracle-able.
    Scale: both windows partition by user_id — high cardinality, no skew.
    """
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    return (
        with_session_seq(ev)
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id", "session_seq")
    )


# --------------------------------------------------------------------------
# Custom stateful streaming operator (applyInPandasWithState), checked
# against the same oracle as the batch sessionizer: the stateful run over
# chronological micro-batches must reproduce the batch result exactly.
# --------------------------------------------------------------------------


@register(
    "stream_stateful_sessionize",
    oracle=f"""
    WITH {_SQL_SESSIONIZED_CTES}
    SELECT user_id, session_seq,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("ST4",),
)
def stream_stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState sessionizer run for real: events staged as
    time-range files, consumed one file per micro-batch, per-user open-session
    state carried across batches, update-mode emission deduped to finals.
    The oracle is the plain batch SQL — the stateful pipeline must agree."""
    from ..streaming.stateful import run_stateful_sessionize

    with _staged_drain(spark, sf_dir, "stateful_sessions") as (stage, ckpt, out):
        final, _ = run_stateful_sessionize(
            spark, stage, ckpt, os.path.basename(out)
        )
    return final


# --------------------------------------------------------------------------
# Stream-static enrichment join: the streaming side joins a slowly-changing
# dimension before windowed aggregation (ST5).
# --------------------------------------------------------------------------


@register(
    "stream_enrich_tumbling",
    oracle=f"""
    SELECT CAST(date_trunc('hour', CAST(e.ts AS TIMESTAMP)) AS TIMESTAMP)
             AS window_start,
           n.n_name AS nation,
           COUNT(*) AS n_events,
           {sql_dsum("e.value")} AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE e.ts IS NOT NULL  -- F.window drops null-ts rows
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("ST5",),
)
def stream_enrich_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join + tumbling window: events are enriched against a
    dimension (user -> nation) and aggregated per (hour, nation). In
    Structured Streaming the identical plan is stream⋈static — the static
    side is re-broadcast per micro-batch, no state store involved — then a
    watermarked window agg (parity asserted in tests/test_streaming.py).
    At 100 TB the dim side stays broadcast-sized (users, not events), and
    the stream side never shuffles before the windowed aggregation."""
    ev = table(spark, sf_dir, "events").select("ts", "user_id", "value")
    dim = (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(table(spark, sf_dir, "nation").select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "n_name")
    )
    return (
        ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(F.col("w.start").alias("window_start"), "nation", "n_events", "sum_value")
        .orderBy("window_start", "nation")
    )


# --------------------------------------------------------------------------
# At-least-once delivery dedup (ST6): dropDuplicates over a redelivered
# stream — the standard exactly-once-effect repair for replayed sources.
# --------------------------------------------------------------------------


@register(
    "stream_dedup_events",
    oracle=f"""
    WITH delivered AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
      FROM events
      UNION ALL
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
      FROM events WHERE event_id % 10 = 0)
    SELECT DISTINCT event_id, ts, event_type, value
    FROM delivered
    ORDER BY event_id
    """,
    tags=("ST6",),
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-level dedup of an at-least-once stream: 10% of events are
    redelivered (modeling source replay after a failure) and
    dropDuplicates on event_id restores exactly-once semantics. Redelivered
    rows are byte-identical to the originals, so Spark's arbitrary
    pick-per-key equals the oracle's DISTINCT. The streaming form is the
    same transformation with a watermark bounding the key state (asserted
    against this batch result in tests/test_streaming.py); at 100 TB the
    state store holds only keys inside the watermark horizon, not the
    stream's history."""
    ev = table(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    redelivered = ev.filter(F.col("event_id") % 10 == 0)
    return (
        ev.unionAll(redelivered)
        .dropDuplicates(["event_id"])
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# ST7 — per-session ordered event paths: the sequence-assembly step that
# turns raw event logs into ordered interaction histories (conversation /
# clickstream assembly for behavioral-sequence training data).
# --------------------------------------------------------------------------


@register(
    "session_event_paths",
    oracle=f"""
    WITH {_SQL_SESSIONIZED_CTES}
    SELECT user_id, session_seq,
           COUNT(*) AS n_events,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS path
    FROM sessions
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("ST7",),
)
def session_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event-type path per (user, session): sessionize with the
    30-min gap rule (identical to stream_sessionize), then assemble each
    session's events into an ordered '>'-joined path string — the
    log-to-sequence step of a behavioral / conversational dataset build.

    Spark shape: both windows and the final groupBy partition on user_id
    (one exchange, reused across all three operators via the matching
    partition spec); in-session ordering is reconstructed per-group with
    array_sort over (ts, event_id, event_type) structs — event_id breaks ts
    ties deterministically, so the path string is unique and both engines
    agree byte-for-byte. Sessions are bounded by the gap rule, so
    collect_list stays session-sized, never user-lifetime-sized."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    path = F.concat_ws(
        ">",
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda x: x["event_type"],
        ),
    )
    return (
        with_session_seq(ev)
        .groupBy("user_id", "session_seq")
        .agg(F.count(F.lit(1)).alias("n_events"), path.alias("path"))
        .orderBy("user_id", "session_seq")
    )


# --------------------------------------------------------------------------
# ST8 — interval (event-time range) join: click -> purchase attribution
# within a 30-minute window. The batch form is registered and oracle-checked;
# the streaming twin (two watermarked streams, stream-stream join with state
# cleanup) runs in tests/test_streaming.py and must produce identical rows.
# --------------------------------------------------------------------------

_ATTR_WINDOW_MIN = 30


def click_purchase_attribution(
    clicks: DataFrame, purchases: DataFrame, how: str = "inner"
) -> DataFrame:
    """Shared join logic for the batch queries and the streaming twins:
    same-user purchases landing in [click_ts, click_ts + 30 min].
    `how="left"` is the ST12 outer form — unattributed clicks survive with
    NULL purchase columns (in streaming, emitted once the purchase
    watermark passes the click's window)."""
    gap_us = F.unix_micros(F.col("pts").cast("timestamp")) - F.unix_micros(
        F.col("cts").cast("timestamp")
    )
    out = clicks.join(
        purchases,
        (clicks["cuid"] == purchases["puid"])
        & (F.col("pts") >= F.col("cts"))
        & (
            F.col("pts")
            <= F.col("cts") + F.expr(f"INTERVAL {_ATTR_WINDOW_MIN} MINUTES")
        ),
        how,
    ).select(
        F.col("cuid").alias("user_id"),
        F.col("click_id"),
        F.col("purchase_id"),
        gap_us.alias("gap_us"),
    )
    if how == "inner":
        return out
    return out.withColumn("attributed", F.col("purchase_id").isNotNull())


def _click_purchase_frames(spark: SparkSession, sf_dir: str):
    """Disjointly-named click/purchase frames shared by ST8 and ST12 — one
    definition of the source shape so the two attribution variants cannot
    drift (the aliasing exists for the same self-join binding hazard GX2
    documents)."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cuid"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("puid"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    return clicks, purchases


@register(
    "stream_interval_join",
    oracle=f"""
    WITH c AS (
      SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS cts
      FROM events WHERE event_type = 'click'),
    p AS (
      SELECT user_id, event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS pts
      FROM events WHERE event_type = 'purchase')
    SELECT c.user_id, c.click_id, p.purchase_id,
           CAST(epoch_us(p.pts) - epoch_us(c.cts) AS BIGINT) AS gap_us
    FROM c JOIN p
      ON c.user_id = p.user_id
     AND p.pts >= c.cts
     AND p.pts <= c.cts + INTERVAL {_ATTR_WINDOW_MIN} MINUTE
    ORDER BY click_id, purchase_id
    """,
    tags=("ST8",),
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time interval join (attribution): every purchase a user makes
    within 30 minutes of a click, with the microsecond gap. The streaming
    form is the canonical Structured Streaming stream-stream join — both
    sides watermarked, the range condition bounding join state so old click
    state is dropped as the purchase watermark advances — and is asserted
    row-identical to this batch plan in tests/test_streaming.py.

    Batch scale shape: both sides hash-partition on user_id (high
    cardinality, no skew) and the range predicate is evaluated post-join —
    a standard equi-join with residual, never a cartesian. At 100 TB the
    same plan holds; the streaming deployment bounds state by watermark
    instead of partitioning history."""
    clicks, purchases = _click_purchase_frames(spark, sf_dir)
    return click_purchase_attribution(clicks, purchases).orderBy(
        "click_id", "purchase_id"
    )


@register(
    "stream_outer_attribution",
    oracle=f"""
    WITH c AS (
      SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS cts
      FROM events WHERE event_type = 'click'),
    p AS (
      SELECT user_id, event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS pts
      FROM events WHERE event_type = 'purchase')
    SELECT c.user_id, c.click_id, p.purchase_id,
           CAST(epoch_us(p.pts) - epoch_us(c.cts) AS BIGINT) AS gap_us,
           p.purchase_id IS NOT NULL AS attributed
    FROM c LEFT JOIN p
      ON c.user_id = p.user_id
     AND p.pts >= c.cts
     AND p.pts <= c.cts + INTERVAL {_ATTR_WINDOW_MIN} MINUTE
    ORDER BY click_id, purchase_id
    """,
    tags=("ST12",),
)
def stream_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST12: LEFT OUTER interval attribution — every click, attributed to
    same-user purchases within 30 minutes when they exist, kept with NULL
    purchase columns when they don't (the conversion-rate denominator ST8's
    inner join silently drops).

    The streaming form is Structured Streaming's left-outer stream-stream
    join: both sides watermarked, the event-time range condition bounds
    state, and the NULL rows for unmatched clicks are emitted only once the
    purchase watermark has passed the click's attribution window — proven
    against this batch plan in tests/test_streaming.py, including the
    end-of-stream flush-sentinel pattern production pipelines use to force
    the final watermark advance. Batch scale shape is identical to ST8:
    hash-partition both sides on user_id, residual range predicate, no
    cartesian."""
    clicks, purchases = _click_purchase_frames(spark, sf_dir)
    return click_purchase_attribution(clicks, purchases, how="left").orderBy(
        "click_id", "purchase_id"
    )


# --------------------------------------------------------------------------
# ST9 — sessionized conversion funnel: signup -> click -> purchase, each
# stage strictly after the previous within the same session.
# --------------------------------------------------------------------------


@register(
    "session_funnel",
    oracle=f"""
    WITH {_SQL_SESSIONIZED_CTES},
    sess AS (SELECT user_id, ts, event_type, session_seq FROM sessions),
    m1 AS (
      SELECT user_id, session_seq,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
      FROM sess GROUP BY 1, 2),
    m2 AS (
      SELECT s.user_id, s.session_seq, MIN(m1.t_signup) AS t_signup,
             MIN(CASE WHEN s.event_type = 'click' AND s.ts > m1.t_signup
                      THEN s.ts END) AS t_click
      FROM sess s JOIN m1 USING (user_id, session_seq)
      GROUP BY 1, 2),
    m3 AS (
      SELECT s.user_id, s.session_seq, MIN(m2.t_signup) AS t_signup,
             MIN(m2.t_click) AS t_click,
             MIN(CASE WHEN s.event_type = 'purchase' AND s.ts > m2.t_click
                      THEN s.ts END) AS t_purchase
      FROM sess s JOIN m2 USING (user_id, session_seq)
      GROUP BY 1, 2)
    SELECT COUNT(*) AS n_sessions,
           COUNT(t_signup) AS n_reached_signup,
           COUNT(t_click) AS n_reached_click,
           COUNT(t_purchase) AS n_reached_purchase
    FROM m3
    """,
    tags=("ST9",),
)
def session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel over 30-min sessions: a session reaches stage k
    only via a strict event-time chain (first signup, then the first click
    strictly after it, then the first purchase strictly after that). The
    output is the stage-count row an analytics dashboard plots as the
    funnel. Strictly-after compares timestamps only — a deliberate,
    engine-agnostic tie rule.

    Spark shape: sessionization plus three chained aggregations, ALL keyed
    on (user_id, session_seq) — the sort/window exchange is reused by
    every later groupBy and join (co-partitioned), so the funnel costs one
    fact shuffle plus per-stage session-sized joins; the final count is a
    4-column scalar aggregate. At 100 TB stage chains longer than ~5 would
    switch to a single sorted pass with applyInPandasWithState rather than
    k joins."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    sess = with_session_seq(ev).select(
        "user_id", "session_seq", "ts", "event_type"
    )
    key = ["user_id", "session_seq"]
    m1 = sess.groupBy(*key).agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup")
    )
    m2 = (
        sess.join(m1, key)
        .groupBy(*key)
        .agg(
            F.min("t_signup").alias("t_signup"),
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t_signup")),
                    F.col("ts"),
                )
            ).alias("t_click"),
        )
    )
    m3 = (
        sess.join(m2, key)
        .groupBy(*key)
        .agg(
            F.min("t_signup").alias("t_signup"),
            F.min("t_click").alias("t_click"),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).alias("t_purchase"),
        )
    )
    return m3.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count("t_signup").alias("n_reached_signup"),
        F.count("t_click").alias("n_reached_click"),
        F.count("t_purchase").alias("n_reached_purchase"),
    )


# --------------------------------------------------------------------------
# ST10 — per-user profile totals: event count and value sum in integer
# micro-units, the state an incremental per-user profile would keep.
# --------------------------------------------------------------------------


@register(
    "stream_user_profile",
    oracle="""
    SELECT user_id,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,6))) * 1000000
                AS BIGINT) AS sum_u6
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("ST10",),
)
def stream_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running profile (event count + value sum in integer
    micro-units of the DECIMAL(38,6)-quantized doubles — bit-exact across
    engines AND across any split of the events into batches). The
    quantization happens per event before summing, so accumulating the
    rows batch by batch is the same integer arithmetic as this one-shot
    aggregation.

    Batch shape: one hash-shuffle on user_id with map-side partials."""
    return (
        table(spark, sf_dir, "events")
        .select("user_id", "value")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            (F.sum(F.col("value").cast("decimal(38,6)")) * 1_000_000)
            .cast("long")
            .alias("sum_u6"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# GX1 — grouped-map applyInPandas: per-user robust anomaly profile. This
# completes the Python-surface matrix (scalar pandas_udf = SIM3,
# mapInPandas = MM2/MM5, applyInPandasWithState = ST4, grouped-map = here).
# --------------------------------------------------------------------------

USER_ANOMALY_SCHEMA = (
    "user_id BIGINT, n_events BIGINT, med_lo DOUBLE, mad_lo DOUBLE, "
    "n_outliers BIGINT"
)


def _user_anomaly_profile(pdf):
    """Per-group worker: LOWER-median order statistics (never interpolated —
    an exact element of the data, so Spark and the SQL oracle pick the
    identical double) and the count of values straying more than 3 lower-MADs
    from the lower-median."""
    import pandas as pd

    # NaN policy: the Spark-side filter drops NULL and NaN before the
    # worker (matching the oracle's WHERE), so dropna() here is belt-and-
    # braces for the NULL->NaN conversion only — it can no longer diverge
    # the engines on genuine NaN doubles.
    vals = pdf["value"].dropna().sort_values().reset_index(drop=True)
    n = len(vals)
    if n == 0:
        med = mad = None
        outliers = 0
    else:
        med = float(vals.iloc[(n - 1) // 2])
        dev = (vals - med).abs().sort_values().reset_index(drop=True)
        mad = float(dev.iloc[(n - 1) // 2])
        outliers = int(((vals - med).abs() > 3.0 * mad).sum())
    return pd.DataFrame(
        {
            "user_id": [int(pdf["user_id"].iloc[0])],
            "n_events": [n],
            "med_lo": [med],
            "mad_lo": [mad],
            "n_outliers": [outliers],
        }
    )


@register(
    "grouped_map_user_anomaly",
    oracle="""
    WITH v AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY value) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM events
      WHERE value IS NOT NULL AND NOT isnan(value)
        AND user_id IS NOT NULL),
    med AS (
      SELECT user_id, n, value AS med_lo
      FROM v WHERE rn = (n - 1) // 2 + 1),
    d AS (
      SELECT v.user_id, v.value, m.med_lo, m.n,
             row_number() OVER (PARTITION BY v.user_id
                                ORDER BY abs(v.value - m.med_lo)) AS rn
      FROM v JOIN med m USING (user_id)),
    madv AS (
      SELECT user_id, abs(value - med_lo) AS mad_lo
      FROM d WHERE rn = (n - 1) // 2 + 1),
    outl AS (
      SELECT d.user_id,
             SUM(CASE WHEN abs(d.value - d.med_lo) > 3.0 * m.mad_lo
                      THEN 1 ELSE 0 END) AS n_outliers
      FROM d JOIN madv m USING (user_id)
      GROUP BY 1)
    SELECT med.user_id, med.n AS n_events, med.med_lo, m.mad_lo,
           CAST(o.n_outliers AS BIGINT) AS n_outliers
    FROM med
    JOIN madv m USING (user_id)
    JOIN outl o USING (user_id)
    ORDER BY med.user_id
    """,
    tags=("GX1",),
)
def grouped_map_user_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user robust anomaly profile via grouped-map applyInPandas: the
    lower median, the lower median absolute deviation, and how many of the
    user's event values stray beyond 3 MADs — the per-entity robust-stats
    pass behind fraud/quality monitoring, where the per-group logic (two
    dependent order statistics) is genuinely easier in pandas than in
    joins.

    Scale shape: ONE exchange on user_id, then each group ships as one
    Arrow batch to a Python worker — per-user data (hundreds of rows) is
    worker-memory-sized by construction, parallel across the 150+ users.
    Lower-median (an exact element, never an interpolated midpoint) keeps
    every emitted double bit-identical to the SQL oracle's order-statistic
    formulation."""
    ev = (
        table(spark, sf_dir, "events")
        .select("user_id", "value")
        # NaN is NOT NULL in Spark/DuckDB but pandas dropna() removes it:
        # filter NaN (and the null grouping key — int(NaN) would crash the
        # worker, the oracle would emit a NULL-user row) on BOTH sides so
        # every surface computes over the identical value set
        .filter(
            F.col("value").isNotNull()
            & ~F.isnan("value")
            & F.col("user_id").isNotNull()
        )
    )
    # Explicit partition count on the Python-boundary exchange (r12,
    # guide §4): AQE's size-based coalescing is calibrated for JVM
    # columnar work and folds this ~MB-scale shuffle into ONE partition —
    # which then runs every per-user group serially through a single
    # Python worker (measured 7.9-13.6s; 32-way it is sub-second). An
    # explicit numPartitions pins the exchange against coalescing;
    # HashPartitioning(user_id) satisfies the grouped-map's clustering so
    # no second exchange appears.
    n_part = spark.sparkContext.defaultParallelism
    return (
        ev.repartition(n_part, "user_id")
        .groupBy("user_id")
        .applyInPandas(_user_anomaly_profile, USER_ANOMALY_SCHEMA)
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# ST11 — the aggregated-stream publish lifecycle, driver-visible: drain the
# tumbling aggregation over chronological micro-batches through the
# complete-mode snapshot sink (atomic versioned publish per batch) and read
# the final published table back. The streaming twin of k2_atomic_publish.
# --------------------------------------------------------------------------


@register(
    "stream_snapshot_publish",
    oracle=f"""
    SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
             AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_dsum("value")} AS sum_value
    FROM events
    WHERE ts IS NOT NULL  -- F.window drops null-ts rows
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("ST11",),
)
def stream_snapshot_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregated-stream publication run for real: events staged as
    time-range files, one file per micro-batch, the windowed aggregation's
    COMPLETE state republished atomically after every batch
    (streaming.events.stream_snapshot_sink over sinks.write_parquet_atomic)
    — readers of the target always see one consistent snapshot, and the
    final snapshot must equal the one-shot batch aggregation, which is
    exactly what the oracle checks. This is the dashboard-table lifecycle
    at 100 TB: bounded aggregate state, atomic swap per refresh, no
    transactional store required."""
    from ..sinks import read_published
    from ..streaming.events import stream_snapshot_sink, tumbling_counts
    from ..streaming.stateful import drain_stream, read_staged_events

    with _staged_drain(spark, sf_dir, "snapshot_counts") as (stage, ckpt, out):
        drain_stream(spark, lambda: stream_snapshot_sink(
            tumbling_counts(read_staged_events(spark, stage)),
            out,
            ckpt,
            query_name=os.path.basename(out),
        ))
    return (
        read_published(spark, out)
        .select("window_start", "event_type", "n_events", "sum_value")
        .orderBy("window_start", "event_type")
    )


# --------------------------------------------------------------------------
# ST13 — NATIVE session windows: F.session_window (Spark's built-in gap
# sessionizer) instead of the lag+running-sum formulation (ST3). Boundary
# semantics differ from the lag rule by one edge: session_window merges an
# event iff it lands STRICTLY INSIDE [start, last_ts + gap) — an event at
# exactly last_ts + gap starts a NEW session — whereas with_session_seq's
# `diff > gap` keeps it. The oracle states the native (>=) rule.
# --------------------------------------------------------------------------


@register(
    "stream_session_window_native",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
             CASE WHEN CAST(ts AS TIMESTAMP)
                       - LAG(CAST(ts AS TIMESTAMP)) OVER (
                           PARTITION BY user_id
                           ORDER BY CAST(ts AS TIMESTAMP), event_id)
                       >= INTERVAL 30 MINUTE
                  OR LAG(CAST(ts AS TIMESTAMP)) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    sessions AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM ordered)
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           {sql_dsum("value")} AS sum_value
    FROM sessions
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_start
    """,
    tags=("ST13",),
)
def stream_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST13: per-user session aggregates via Spark's BUILT-IN
    ``F.session_window(ts, '30 minutes')`` — the operator to reach for
    before hand-rolling a sessionizer: in batch it compiles to a merging
    session aggregation, and the identical expression runs as a streaming
    query with watermark-driven state eviction (``session_window`` is the
    one window type whose windows MERGE as late events bridge gaps).
    Output is (user, session_start, session_end = last event + gap,
    n_events, exact sum) — session_end is the eviction deadline the
    streaming runtime uses, stated here in batch.

    Scale shape: one hash exchange on user_id, sessions merged inside the
    aggregation operator — no per-event window function pass, which makes
    it cheaper than the lag+running-sum formulation (two window sorts) at
    100 TB. The oracle re-states the merge rule declaratively (new session
    iff gap >= 30 min)."""
    ev = (
        table(spark, sf_dir, "events")
        # null user_id excluded like the rest of the session family (the
        # oracle always did; the builder kept a NULL group — latent on
        # null-free testdata, caught by the adversarial gate)
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", "ts", "value")
    )
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


# --------------------------------------------------------------------------
# GX2 — COGROUPED map (groupBy().cogroup().applyInPandas): the two-input
# Arrow escape hatch. Each user's clicks and purchases arrive as two
# aligned pandas frames in one Python call — the shape for per-key merges
# that need both sides at once (as-of context, feature joins against a
# per-key history) when a relational formulation would be awkward.
# Completes the Pandas-API surface next to pandas_udf (SIM3), mapInPandas
# (MM*), applyInPandas (GX1), and applyInPandasWithState (ST4).
# --------------------------------------------------------------------------


@register(
    "cogroup_click_context",
    oracle="""
    WITH c AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS cts
      FROM events
      WHERE event_type = 'click' AND ts IS NOT NULL
        AND user_id IS NOT NULL),
    p AS (
      SELECT user_id, event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS pts
      FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL
        AND user_id IS NOT NULL)
    SELECT p.user_id, p.purchase_id,
           CAST(COUNT(c.cts) AS BIGINT) AS n_clicks_before
    FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.cts <= p.pts
    GROUP BY p.user_id, p.purchase_id
    ORDER BY p.user_id, p.purchase_id
    """,
    tags=("GX2",),
)
def cogroup_click_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GX2: for every purchase, how many of the same user's clicks happened
    at or before it — computed with the cogrouped-map API: one sorted
    numpy searchsorted per user over BOTH event frames at once, instead of
    the relational inequality join the oracle states (which Spark would
    execute as an equi-join on user plus residual — fine, but O(clicks x
    purchases) per user; the cogroup is O((c+p) log c) per user).

    Scale shape: both sides hash-partition on user_id once; each Python
    call receives one user's two frames via Arrow. Per-key state is
    bounded by that user's history — the practical ceiling is the largest
    single key, same as any grouped-map."""
    import numpy as np
    import pandas as pd

    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    # The two sides MUST carry disjoint column names: both derive from the
    # same base plan, and a shared name ("ts") makes Catalyst bind the
    # purchases side's reference to the CLICKS side's attribute id — the
    # right child then silently loses its timestamp column (observed as a
    # pruned-away ts under count()/projection plans). Disjoint names make
    # the binding unambiguous under every plan shape.
    # null-ts rows are dropped on BOTH engines: numpy sorts NaT LAST where
    # SQL comparisons against NULL are false — an untimed event would count
    # every click on one engine and none on the other (mirrors the
    # sessionize null-ts contract in with_session_seq). The null grouping
    # key goes too: np.full(n, None, dtype="int64") would crash the worker
    # while the oracle emitted a NULL-user row.
    ev = ev.filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )

    def merge(key, cdf, pdf):
        n = len(pdf)
        cts = np.sort(cdf["cts"].to_numpy(dtype="datetime64[us]"))
        pts = pdf["pts"].to_numpy(dtype="datetime64[us]")
        return pd.DataFrame(
            {
                "user_id": np.full(n, key[0], dtype="int64"),
                "purchase_id": pdf["purchase_id"].to_numpy(dtype="int64"),
                "n_clicks_before": np.searchsorted(cts, pts, side="right").astype("int64"),
            }
        )

    # Explicit partition count on BOTH cogroup inputs (r12, guide §4):
    # same AQE-coalesce hazard as GX1 — without it the two ~MB shuffles
    # fold to one partition and every user's merge runs serially in one
    # Python worker (measured 13.2s in the r12 sweep; 32-way it is
    # ~1s). Equal explicit counts keep the cogroup zipper exchange-free
    # above the two pinned repartitions.
    n_part = spark.sparkContext.defaultParallelism
    out = (
        clicks.repartition(n_part, "user_id")
        .groupBy("user_id")
        .cogroup(purchases.repartition(n_part, "user_id").groupBy("user_id"))
        .applyInPandas(merge, "user_id long, purchase_id long, n_clicks_before long")
    )
    return out.orderBy("user_id", "purchase_id")


# --------------------------------------------------------------------------
# ST14 — streaming incremental rollup: K8's merge algebra applied per
# micro-batch. Each batch partial-aggregates its rows and MERGES into the
# published rollup store (full outer join + coalesced addition + atomic
# republish) — update-semantics maintenance where ST11's complete-mode
# sink rewrites from in-memory state. The store IS the state: it records
# the last applied batch_id, so foreachBatch's at-least-once redelivery
# after a crash is a no-op instead of a double-count (an additive merge
# alone is NOT idempotent), and any batch slicing yields the identical
# rollup because COUNT and decimal SUM are commutative monoids (the
# property the oracle checks by aggregating the whole table at once).
# --------------------------------------------------------------------------


def _stored_for_merge(batch_df, target: str, batch_id: int, run_id):
    """Open the published store (or None) and decide whether this batch is
    a replay, for the ADDITIVE foreachBatch mergers (ST14/ST17/ST19/ST23).

    foreachBatch batch ids are monotone only PER CHECKPOINT, so the raw
    ``batch_id <= stored max`` compare is meaningful only when the store
    was written by the SAME streaming run. The store therefore records the
    writer's ``run_id`` (the checkpoint location is the natural identity);
    a store stamped by a DIFFERENT run aborts loudly — additively merging
    a fresh stream (ids restart at 0) into a foreign run's state either
    double-counts every event or silently drops the first batches as
    'replays', and both are corruption the merge cannot repair.
    ``run_id=None`` (ad-hoc factory use) skips the identity check it
    cannot make and keeps the per-run batch_id guard.

    Returns ``(stored_df_or_None, is_replay)``.
    """
    from ..sinks import read_published

    if not os.path.islink(target):
        return None, False
    stored = read_published(batch_df.sparkSession, target)
    aggs = [F.max("last_batch_id").alias("last")]
    has_rid = "run_id" in stored.columns
    if has_rid:
        # constant column — max() is just "the" value without a distinct
        aggs.append(F.max("run_id").alias("rid"))
    row = stored.agg(*aggs).collect()[0]
    stored_rid = row["rid"] if has_rid else None
    if (
        run_id is not None
        and stored_rid is not None
        and stored_rid != run_id
    ):
        raise ValueError(
            f"additive merge store {target!r} was written by streaming run "
            f"{stored_rid!r} but this batch belongs to run {run_id!r}; "
            "batch ids are not comparable across checkpoints — clear the "
            "published store or resume from the original checkpoint"
        )
    last = row["last"]
    return stored, last is not None and batch_id <= last


def _stamp_merge(df, batch_id: int, run_id):
    """Stamp the store columns every additive merger publishes: the last
    applied batch id plus the writing run's identity (both constant)."""
    return df.withColumn("last_batch_id", F.lit(int(batch_id))).withColumn(
        "run_id", F.lit(run_id).cast("string")
    )


def make_rollup_merger(target: str, run_id: str | None = None):
    """The ST14 foreachBatch body as a module-level factory so the
    checkpoint-RESUME test can drive the exact production merge (not a
    test copy). EXACTLY-ONCE under replay: foreachBatch is at-least-once,
    and an additive merge is NOT idempotent — a crash between the publish
    and the checkpoint commit re-delivers the same batch_id, and blindly
    re-adding it would double-count permanently. The store therefore
    records the last applied batch_id (a constant column, rows are
    group-count-sized) and a replayed batch becomes a no-op; the stored
    run identity makes the batch_id compare per-checkpoint-safe
    (_stored_for_merge)."""
    from ..sinks import write_parquet_atomic

    def _merge(batch_df, batch_id):
        stored, replay = _stored_for_merge(batch_df, target, batch_id, run_id)
        if replay:
            return  # replayed batch: already folded into the store
        part = (
            batch_df.filter(
                F.col("value").isNotNull()
                & F.col("user_id").isNotNull()
                & F.col("event_type").isNotNull()
            )
            .groupBy("user_id", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(38,6)")).alias("s"),
            )
        )
        if stored is not None:
            zero = F.lit(0).cast("decimal(38,6)")
            merged = (
                stored.select(
                    "user_id",
                    "event_type",
                    F.col("n").alias("n_a"),
                    F.col("s").alias("s_a"),
                )
                .join(
                    part.select(
                        "user_id",
                        "event_type",
                        F.col("n").alias("n_b"),
                        F.col("s").alias("s_b"),
                    ),
                    ["user_id", "event_type"],
                    "full_outer",
                )
                .select(
                    "user_id",
                    "event_type",
                    (
                        F.coalesce(F.col("n_a"), F.lit(0))
                        + F.coalesce(F.col("n_b"), F.lit(0))
                    ).alias("n"),
                    (
                        F.coalesce(F.col("s_a"), zero)
                        + F.coalesce(F.col("s_b"), zero)
                    ).alias("s"),
                )
            )
        else:
            merged = part
        write_parquet_atomic(_stamp_merge(merged, batch_id, run_id), target)

    return _merge


@register(
    "stream_incremental_rollup",
    oracle=f"""
    SELECT user_id, event_type,
           COUNT(*) AS n,
           {sql_dsum("value")} AS sum_value
    FROM events
    WHERE value IS NOT NULL
      AND user_id IS NOT NULL AND event_type IS NOT NULL
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("ST14",),
)
def stream_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST14: drain the staged event files as chronological micro-batches
    (availableNow) and maintain the (user, type) rollup incrementally in a
    published parquet store via foreachBatch (module comment).

    Scale shape: each batch touches batch-sized data plus the rollup
    (group-count-sized, not fact-sized); the merge is one co-partitioned
    full outer join; publishes are atomic symlink swaps so concurrent
    readers always see a complete version. The decimal column rides
    parquet between batches and only converts to double at the read-out
    edge, so the maintained store is bit-identical to the from-scratch
    aggregate no matter how arrival slices the stream."""
    from ..sinks import read_published
    from ..streaming.stateful import drain_stream, read_staged_events

    with _staged_drain(spark, sf_dir, "incr_rollup") as (stage, ckpt, out):
        drain_stream(spark, lambda: (
            read_staged_events(spark, stage)
            .writeStream.foreachBatch(make_rollup_merger(out, run_id=ckpt))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(os.path.basename(out))
            .start()
        ))
    return (
        read_published(spark, out)
        .select(
            "user_id",
            "event_type",
            "n",
            F.col("s").cast("string").cast("double").alias("sum_value"),
        )
        .orderBy("user_id", "event_type")
    )


# --------------------------------------------------------------------------
# GX3 — grouped-map Theil-Sen robust trend: median of all pairwise slopes
# per user. Unlike the closed-form OLS fit (XA9, five mergeable sums),
# Theil-Sen has no aggregate decomposition — the per-group algorithm is
# genuinely quadratic in the group and needs the rows in hand, which is
# exactly the applyInPandas contract: one exchange on the group key, each
# group as one Arrow batch, algorithm in numpy. The oracle enumerates the
# same pair set relationally (a.x < b.x, equal-x pairs excluded) and takes
# DuckDB's interpolated median — numpy's median uses the identical
# (a+b)/2 midpoint rule, and every slope is one IEEE division of
# identical inputs, so the report is bit-stable.
# --------------------------------------------------------------------------

THEIL_SEN_SCHEMA = (
    "user_id BIGINT, n_points BIGINT, n_pairs BIGINT, ts_slope DOUBLE"
)


# Exact Theil-Sen is quadratic in the group. Below the cap the vectorized
# pair enumeration materializes two n x n matrices plus a mask (~100 MB at
# n=2k — a budget the worker can honor; ~2.5 GB at n=10k — one it can't).
# ABOVE the cap the group degrades to deterministic slope sampling instead
# of failing: a hash-seeded RNG (seeded from the group key, so the result
# is partition-invariant and rerun-stable) draws a fixed budget of random
# point pairs and the estimate is the median of the sampled slopes —
# memory O(budget), never O(n^2), and quantile error O(1/sqrt(budget))
# (~0.1% of the slope distribution at 500k draws). n_pairs still reports
# the TRUE defined-slope pair count (n*(n-1)/2 minus equal-x pairs,
# computed from value counts) so the column's meaning never changes; only
# ts_slope becomes an estimate for hot groups.
_THEIL_SEN_MAX_GROUP = 2_000
_THEIL_SEN_SAMPLE_PAIRS = 500_000


def _theil_sen_values(user_id: int, x, y):
    """Per-group Theil-Sen kernel over numpy arrays — returns
    (user_id, n_points, n_pairs, ts_slope). Shared by the grouped-map
    wrapper (_theil_sen_group, the unit-test surface) and the streaming
    partition worker (_theil_sen_partition, the production path)."""
    import numpy as np
    # Sort by the FULL point (x, then y), not just x: a stable argsort on x
    # alone preserves Spark's nondeterministic arrival order among equal-x
    # rows, and the sampled branch below draws POSITIONAL indices — with
    # tied x (near-certain at >2000 rows of second-granularity timestamps)
    # the same seed would select different point pairs across runs and
    # partitionings. lexsort makes positions a pure function of the group's
    # multiset of points, so the seeded draws are rerun- and
    # partition-invariant.
    order = np.lexsort((y, x))
    x, y = x[order], y[order]
    n = len(x)
    if n <= _THEIL_SEN_MAX_GROUP:
        dx = x[None, :] - x[:, None]
        dy = y[None, :] - y[:, None]
        mask = np.triu(dx != 0)  # upper triangle, equal-x pairs excluded
        slopes = dy[mask] / dx[mask]
        n_pairs = int(slopes.size)
    else:
        # hot-group degradation: sampled Theil-Sen (see module constant)
        _, counts = np.unique(x, return_counts=True)
        n_pairs = int(n * (n - 1) // 2 - np.sum(counts * (counts - 1) // 2))
        seed = (int(user_id) * 0x9E3779B97F4A7C15 + 1) % (1 << 63)
        rng = np.random.default_rng(seed)
        i = rng.integers(0, n, _THEIL_SEN_SAMPLE_PAIRS)
        j = rng.integers(0, n, _THEIL_SEN_SAMPLE_PAIRS)
        dx = x[j] - x[i]
        keep = dx != 0  # drops self-pairs and equal-x draws
        slopes = (y[j] - y[i])[keep] / dx[keep]
        if n_pairs > 0 and slopes.size == 0:
            # astronomically unlikely (defined pairs exist but 500k draws
            # all hit equal-x); fall back to the exact count contract
            raise ValueError(
                "gx3_theil_sen_trend: sampled zero defined slopes from a "
                f"group of {n} rows with {n_pairs} defined pairs"
            )
    return (
        int(user_id),
        int(n),
        int(n_pairs),
        float(np.median(slopes)) if slopes.size else None,
    )


def _theil_sen_group(pdf):
    """Grouped-map wrapper over _theil_sen_values (one pandas frame in, one
    result row out) — kept as the direct unit-test surface for the kernel,
    including the hot-group sampled branch."""
    import numpy as np
    import pandas as pd

    uid, n, n_pairs, slope = _theil_sen_values(
        int(pdf["user_id"].iloc[0]),
        pdf["x"].to_numpy(dtype=np.int64),
        pdf["y"].to_numpy(dtype=np.float64),
    )
    return pd.DataFrame(
        {
            "user_id": [uid],
            "n_points": [n],
            "n_pairs": [n_pairs],
            "ts_slope": [slope],
        }
    )


def _theil_sen_partition(batches):
    """mapInPandas worker over a user_id-sorted partition stream: many
    groups per Arrow batch, O(max group) buffering. The per-group-Arrow-
    flush cost of grouped-map applyInPandas dominates GX3 when groups are
    small (measured at sf0.1: a NOOP applyInPandas over the same 1,500
    groups costs 4.6s of the query's 6.7s) — streaming sorted partitions
    instead pays per-BATCH overhead. Rows of one group are contiguous
    within a partition (sortWithinPartitions upstream); only the tail
    group can straddle a batch boundary, so it is carried into the next
    batch and flushed at end-of-stream."""
    import numpy as np
    import pandas as pd

    cols = ["user_id", "n_points", "n_pairs", "ts_slope"]
    tail = None

    def emit(pdf):
        out = [
            _theil_sen_values(
                int(uid),
                g["x"].to_numpy(dtype=np.int64),
                g["y"].to_numpy(dtype=np.float64),
            )
            for uid, g in pdf.groupby("user_id", sort=False)
        ]
        return pd.DataFrame(out, columns=cols)

    for pdf in batches:
        if tail is not None and len(tail):
            pdf = pd.concat([tail, pdf], ignore_index=True)
        if not len(pdf):
            continue
        last_uid = pdf["user_id"].iloc[-1]
        tail_mask = pdf["user_id"] == last_uid
        tail = pdf[tail_mask]
        head = pdf[~tail_mask]
        if len(head):
            yield emit(head)
    if tail is not None and len(tail):
        yield emit(tail)


@register(
    "gx3_theil_sen_trend",
    oracle=f"""
    WITH pts AS (
      SELECT user_id,
             {sql_floordiv("epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(TIMESTAMP '2024-01-01 00:00:00')", 1_000_000)} AS x,
             CAST(value AS DOUBLE) AS y
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL AND user_id IS NOT NULL),
    pairs AS (
      SELECT a.user_id,
             (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS s
      FROM pts a JOIN pts b
        ON a.user_id = b.user_id AND a.x < b.x),
    counts AS (
      SELECT user_id, COUNT(*) AS n_points FROM pts GROUP BY 1)
    SELECT c.user_id, c.n_points,
           COUNT(p.s) AS n_pairs,
           median(p.s) AS ts_slope
    FROM counts c LEFT JOIN pairs p ON c.user_id = p.user_id
    GROUP BY c.user_id, c.n_points
    HAVING COUNT(p.s) > 0
    ORDER BY c.user_id
    """,
    tags=("GX3",),
)
def gx3_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GX3: per-user Theil-Sen slope (median of pairwise slopes) via the
    streaming-group mapInPandas pattern (module comment) — the robust
    counterpart of XA9's OLS fit, kept when outliers would wreck least
    squares.

    Scale shape: one hash exchange on user_id (repartition) + an in-
    partition sort, then mapInPandas streams each SORTED partition through
    the worker with MANY groups per Arrow batch — the quadratic pair
    enumeration happens in numpy against worker-local arrays, bounded by
    the largest single group, and the only carried state is the tail
    group straddling a batch boundary. This replaced per-group grouped-map
    applyInPandas in round 6: with small groups the per-group Arrow flush
    dominated (a NOOP applyInPandas over the same groups cost 4.6s of the
    query's 6.7s at sf0.1; the streaming form runs ~3x faster end to end
    with identical results). Hot groups past _THEIL_SEN_MAX_GROUP degrade
    to deterministic sampled Theil-Sen (hash-seeded fixed pair budget,
    O(budget) memory) instead of erroring — see the constant's comment for
    the accuracy math; the test corpus never crosses the cap, so the
    oracle compares against the exact path. Users whose points all share
    one timestamp-second have no defined slope and are excluded on both
    sides (HAVING n_pairs > 0 / empty-slopes skip)."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("value").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .select(
            "user_id",
            # exact floor division (functions.exact.floordiv): date_diff's
            # crossing count diverges from floor for sub-second timestamps
            # BEFORE the epoch — same adversarial-gate finding as XA9
            floordiv(
                F.unix_micros("ts")
                - F.unix_micros(F.lit("2024-01-01 00:00:00").cast("timestamp")),
                1_000_000,
            ).alias("x"),
            F.col("value").cast("double").alias("y"),
        )
    )
    return (
        ev.repartition("user_id")
        .sortWithinPartitions("user_id")
        .mapInPandas(_theil_sen_partition, THEIL_SEN_SCHEMA)
        .filter(F.col("n_pairs") > 0)
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# ST15 — out-of-orderness audit: the diagnostic that PICKS a watermark.
# Arrival order is event_id (the append-log position); event-time disorder
# at an event is how far the stream's per-user running-max event time has
# already advanced past it. `withWatermark(delay)` silently DROPS every
# event whose disorder exceeds delay — so before committing to a delay,
# a pipeline measures this distribution. Reports the corpus totals plus
# the drop counts at three candidate delays (1m / 10m / 1h).
# --------------------------------------------------------------------------

_WM_DELAYS_US = (60_000_000, 600_000_000, 3_600_000_000)


@register(
    "stream_disorder_audit",
    oracle=f"""
    WITH de AS (
      SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu
      FROM events WHERE ts IS NOT NULL),
    dw AS (
      SELECT MAX(tsu) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tsu
             AS dis
      FROM de)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN dis > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_disordered,
           CAST(MAX(dis) AS BIGINT) AS max_disorder_us,
           CAST(SUM(CASE WHEN dis > {_WM_DELAYS_US[0]} THEN 1 ELSE 0 END)
             AS BIGINT) AS dropped_1m,
           CAST(SUM(CASE WHEN dis > {_WM_DELAYS_US[1]} THEN 1 ELSE 0 END)
             AS BIGINT) AS dropped_10m,
           CAST(SUM(CASE WHEN dis > {_WM_DELAYS_US[2]} THEN 1 ELSE 0 END)
             AS BIGINT) AS dropped_1h,
           CAST(SUM(CASE WHEN dis > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS disordered_frac
    FROM dw
    """,
    tags=("ST15",),
)
def stream_disorder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST15: event-time out-of-orderness profile (module comment) — one
    summary row: total events, how many arrive behind their user's
    running-max event time, the worst lag, and how many a 1-minute /
    10-minute / 1-hour watermark would silently drop.

    Spark shape at 100 TB: one user-keyed window pass (high-cardinality
    partitioning, the same exchange every sessionizer here uses) and one
    ungrouped aggregate with map-side partials. Per-user disorder is the
    honest streaming model: Structured Streaming tracks the watermark per
    stream but drops per key-group state, and a per-user running max never
    needs a global order over unreduced facts. All microsecond arithmetic
    is int64; the one fraction is an exact-int division.

    Measured finding this audit exists to surface: the synthetic events
    log is PERFECTLY time-ordered per user (0 disordered of 100k at
    sf0.1), so any watermark delay is loss-free on this corpus — the
    zero row is the certificate. Real ingestion (multi-source, retries,
    mobile clients) is where the drop counts light up."""
    ev = (
        table(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts")
        .filter(F.col("ts").isNotNull())
    )
    arr = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tsu = F.unix_micros(F.col("ts").cast("timestamp"))
    dis = F.max(tsu).over(arr) - tsu
    dw = ev.select(dis.alias("dis"))
    return dw.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("dis") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_disordered"),
        F.max("dis").cast("long").alias("max_disorder_us"),
        F.sum(F.when(F.col("dis") > _WM_DELAYS_US[0], 1).otherwise(0))
        .cast("long")
        .alias("dropped_1m"),
        F.sum(F.when(F.col("dis") > _WM_DELAYS_US[1], 1).otherwise(0))
        .cast("long")
        .alias("dropped_10m"),
        F.sum(F.when(F.col("dis") > _WM_DELAYS_US[2], 1).otherwise(0))
        .cast("long")
        .alias("dropped_1h"),
        (
            F.sum(F.when(F.col("dis") > 0, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("disordered_frac"),
    )


# --------------------------------------------------------------------------
# ST16 — streaming HLL register maintenance: SK1's sketch maintained
# incrementally across micro-batches via foreachBatch. The instructive
# contrast with ST14: an ADDITIVE merge needs the stored last_batch_id to
# survive foreachBatch's at-least-once redelivery, but MAX-merge is a
# join-semilattice (idempotent, commutative, associative), so replaying a
# batch is a no-op BY ALGEBRA — no replay guard, no batch ordering, and
# any slicing of the stream converges to the identical register table.
# That is exactly why sketches are the 100 TB streaming-cardinality tool:
# per-batch state is 64 rows, merge cost is O(64), and crash recovery is
# free. The oracle computes the same registers + estimate from the whole
# table at once.
# --------------------------------------------------------------------------


def make_hll_merger(target: str):
    """The ST16 foreachBatch body as a module-level factory (same contract
    as make_rollup_merger, so tests drive the exact production merge)."""
    from ..sinks import read_published, write_parquet_atomic
    from .sketch import hll_batch_registers

    def _merge(batch_df, batch_id):
        part = hll_batch_registers(
            batch_df.filter(F.col("user_id").isNotNull())
        )
        if os.path.islink(target):
            stored = read_published(batch_df.sparkSession, target)
            part = (
                stored.select("idx", F.col("rho").alias("rho_a"))
                .join(
                    part.select("idx", F.col("rho").alias("rho_b")),
                    "idx",
                    "full_outer",
                )
                .select(
                    "idx",
                    F.greatest(
                        F.coalesce(F.col("rho_a"), F.lit(0)),
                        F.coalesce(F.col("rho_b"), F.lit(0)),
                    ).alias("rho"),
                )
            )
        write_parquet_atomic(part, target)

    return _merge


from .sketch import _SQL_HLL_EST as _SQL_HLL_EST_CTES  # shared estimate text


@register(
    "stream_hll_registers",
    oracle=f"""
    WITH pt AS (
      SELECT CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2)
                       AS UBIGINT) AS BIGINT) % 64 AS idx,
             CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 12)
                       AS UBIGINT) AS BIGINT) AS w
      FROM events WHERE user_id IS NOT NULL),
    r AS (
      SELECT idx,
             MAX(CASE WHEN w = 0 THEN 49 ELSE 49 - length(bin(w)) END) AS rho
      FROM pt GROUP BY 1),
    reg AS (
      SELECT g.register, COALESCE(r.rho, 0) AS max_rho
      FROM range(0, 64) g(register)
      LEFT JOIN r ON r.idx = g.register),
    {_SQL_HLL_EST_CTES}
    SELECT reg.register,
           CAST(reg.max_rho AS BIGINT) AS max_rho,
           e.hll_estimate
    FROM reg CROSS JOIN est e
    ORDER BY reg.register
    """,
    tags=("ST16",),
)
def stream_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST16: drain the staged event files as chronological micro-batches
    (availableNow) and maintain the 64-register HLL sketch in a published
    parquet store via MAX-merge foreachBatch (module comment). The readout
    joins the register spine and computes SK1's estimate — bit-identical
    to the from-scratch sketch no matter how arrival sliced the stream
    (the mergeability property test proves the identity directly).

    Scale shape: per batch, batch-sized data collapses map-side to <=64
    rows; the merge joins 64 rows against 64 rows; publishes are atomic
    symlink swaps. State never grows with cardinality — THE reason this
    replaces stream COUNT(DISTINCT) at 100 TB."""
    from ..sinks import read_published
    from ..streaming.stateful import drain_stream, read_staged_events
    from .sketch import _HLL_M, hll_estimate_frame

    with _staged_drain(spark, sf_dir, "hll_store") as (stage, ckpt, out):
        drain_stream(spark, lambda: (
            read_staged_events(spark, stage)
            .writeStream.foreachBatch(make_hll_merger(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(os.path.basename(out))
            .start()
        ))
    stored = read_published(spark, out)
    spine = spark.range(_HLL_M).select(F.col("id").alias("register"))
    reg = (
        spine.join(F.broadcast(stored), spine.register == stored.idx, "left")
        .select(
            "register",
            F.coalesce(F.col("rho"), F.lit(0)).alias("max_rho"),
        )
        .localCheckpoint(eager=False)  # 64 rows, read by output + estimate
    )
    return (
        reg.crossJoin(F.broadcast(hll_estimate_frame(reg)))
        .select(
            "register",
            F.col("max_rho").cast("long").alias("max_rho"),
            "hll_estimate",
        )
        .orderBy("register")
    )


# --------------------------------------------------------------------------
# ST17 — streaming drift monitor: DQ6's categorical-drift audit maintained
# incrementally. Each micro-batch counts its rows per (event_type,
# ref/current window) and folds them into a published store via the ST14
# replay-guarded additive merge (counts are a commutative monoid; the
# stored last_batch_id makes at-least-once redelivery a no-op). The
# readout runs DQ6's EXACT drift algebra (drift_from_counts — shared
# code, not a copy) over the store, so the monitor's report is
# bit-identical to the from-scratch batch audit no matter how arrival
# sliced the stream. This is how the drift alarm actually deploys at
# 100 TB: the store is O(|event_type|) rows, each batch touches
# batch-sized data once, and the report is recomputed from the tiny
# store — never from the corpus.
# --------------------------------------------------------------------------


def make_drift_merger(target: str, run_id: str | None = None):
    """The ST17 foreachBatch body as a module-level factory (same contract
    as make_rollup_merger, so tests can drive the exact production merge).
    Additive count merge with the run-identity-aware replay guard
    (_stored_for_merge)."""
    from ..sinks import write_parquet_atomic
    from .ingest_queries import drift_is_ref_col

    def _merge(batch_df, batch_id):
        stored, replay = _stored_for_merge(batch_df, target, batch_id, run_id)
        if replay:
            return  # replayed batch: already folded into the store
        part = (
            batch_df.filter(F.col("event_type").isNotNull() & F.col("ts").isNotNull())
            .select("event_type", drift_is_ref_col().alias("is_ref"))
            .groupBy("event_type")
            .agg(
                F.sum("is_ref").cast("long").alias("n_ref"),
                F.sum(1 - F.col("is_ref")).cast("long").alias("n_cur"),
            )
        )
        if stored is not None:
            merged = (
                stored.select(
                    "event_type",
                    F.col("n_ref").alias("r_a"),
                    F.col("n_cur").alias("c_a"),
                )
                .join(
                    part.select(
                        "event_type",
                        F.col("n_ref").alias("r_b"),
                        F.col("n_cur").alias("c_b"),
                    ),
                    "event_type",
                    "full_outer",
                )
                .select(
                    "event_type",
                    (
                        F.coalesce(F.col("r_a"), F.lit(0))
                        + F.coalesce(F.col("r_b"), F.lit(0))
                    ).alias("n_ref"),
                    (
                        F.coalesce(F.col("c_a"), F.lit(0))
                        + F.coalesce(F.col("c_b"), F.lit(0))
                    ).alias("n_cur"),
                )
            )
        else:
            merged = part
        write_parquet_atomic(_stamp_merge(merged, batch_id, run_id), target)

    return _merge


@register(
    "stream_drift_monitor",
    oracle=f"""
    WITH ev AS (
      SELECT event_type,
             CASE WHEN ts < TIMESTAMP '{_DRIFT_SPLIT}' THEN 1 ELSE 0 END AS is_ref
      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
    c AS (
      SELECT event_type,
             CAST(SUM(is_ref) AS BIGINT) AS n_ref,
             CAST(SUM(1 - is_ref) AS BIGINT) AS n_cur
      FROM ev GROUP BY 1),
    t AS (
      SELECT CAST(SUM(n_ref) AS BIGINT) AS tot_ref,
             CAST(SUM(n_cur) AS BIGINT) AS tot_cur
      FROM c)
    SELECT event_type, n_ref, n_cur,
           CAST(({_DRIFT_SCALE} * n_ref) // NULLIF(tot_ref, 0) AS BIGINT) AS p_ref_fp,
           CAST(({_DRIFT_SCALE} * n_cur) // NULLIF(tot_cur, 0) AS BIGINT) AS p_cur_fp,
           CAST(ABS(({_DRIFT_SCALE} * n_ref) // NULLIF(tot_ref, 0)
                    - ({_DRIFT_SCALE} * n_cur) // NULLIF(tot_cur, 0)) AS BIGINT) AS delta_fp,
           CAST(SUM(ABS(({_DRIFT_SCALE} * n_ref) // NULLIF(tot_ref, 0)
                        - ({_DRIFT_SCALE} * n_cur) // NULLIF(tot_cur, 0)))
                  OVER () AS BIGINT) AS l1_drift_fp
    FROM c CROSS JOIN t
    ORDER BY event_type
    """,
    tags=("ST17",),
)
def stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST17: drain the staged event files as chronological micro-batches
    (availableNow) and maintain the per-type window counts in a published
    parquet store via the replay-guarded additive merge (module comment);
    the readout is DQ6's drift algebra over the store.

    Scale shape: per batch, batch-sized data collapses map-side to
    |event_type| rows; the merge joins that against the equally tiny
    store; publishes are atomic symlink swaps. The drift report itself
    never touches the corpus — it is a pure function of the maintained
    counts."""
    from ..sinks import read_published
    from ..streaming.stateful import drain_stream, read_staged_events
    from .ingest_queries import drift_from_counts

    with _staged_drain(spark, sf_dir, "drift_store") as (stage, ckpt, out):
        drain_stream(spark, lambda: (
            read_staged_events(spark, stage)
            .writeStream.foreachBatch(make_drift_merger(out, run_id=ckpt))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(os.path.basename(out))
            .start()
        ))
    return drift_from_counts(
        read_published(spark, out).select("event_type", "n_ref", "n_cur")
    )


# --------------------------------------------------------------------------
# ST18 — streaming Count-Min maintenance: SK2's frequency sketch maintained
# incrementally across micro-batches. The algebraic contrast with ST16
# completes the mergeable-sketch pair: CMS cells merge by elementwise +
# (a commutative monoid, NOT a semilattice), so unlike the HLL MAX-merge a
# replayed batch WOULD double-count — ST14/ST17's stored-last_batch_id
# replay guard is load-bearing here. Per batch, batch-sized data collapses
# map-side to <= d*w = 2048 cells; the merge is a 2048-vs-2048 full-outer
# join; publishes are atomic symlink swaps. The readout probes the true
# top-10 through the maintained sketch via SK2's shared report code AND
# shared oracle text — additivity makes the incrementally-merged cells
# bit-identical to the from-scratch build however arrival sliced the
# stream, so the two reports cannot differ.
# --------------------------------------------------------------------------


def make_cms_merger(target: str, run_id: str | None = None):
    """The ST18 foreachBatch body as a module-level factory (same contract
    as make_drift_merger, so tests drive the exact production merge).
    Additive cell merge with the run-identity-aware replay guard
    (_stored_for_merge)."""
    from ..sinks import write_parquet_atomic
    from .sketch import cms_batch_cells

    def _merge(batch_df, batch_id):
        stored, replay = _stored_for_merge(batch_df, target, batch_id, run_id)
        if replay:
            return  # replayed batch: already folded into the store
        part = cms_batch_cells(batch_df)
        if stored is not None:
            merged = (
                stored.select("r", "bucket", F.col("c").alias("c_a"))
                .join(
                    part.select("r", "bucket", F.col("c").alias("c_b")),
                    ["r", "bucket"],
                    "full_outer",
                )
                .select(
                    "r",
                    "bucket",
                    (
                        F.coalesce(F.col("c_a"), F.lit(0))
                        + F.coalesce(F.col("c_b"), F.lit(0))
                    ).alias("c"),
                )
            )
        else:
            merged = part
        write_parquet_atomic(_stamp_merge(merged, batch_id, run_id), target)

    return _merge


from .sketch import _SQL_CMS_REPORT as _SQL_CMS_REPORT_SHARED  # shared text


@register(
    "stream_cms_heavy_hitters",
    oracle=_SQL_CMS_REPORT_SHARED,
    tags=("ST18",),
)
def stream_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST18: drain the staged event files as chronological micro-batches
    (availableNow) and maintain SK2's 4x512 Count-Min cell table in a
    published parquet store via the replay-guarded additive merge (module
    comment); the readout probes the true top-10 heavy hitters through
    the maintained sketch with SK2's shared report code.

    Scale shape: per batch, batch-sized data collapses map-side to <=2048
    cells; the merge joins that against the equally tiny store; the report
    touches the corpus only for the truth audit (the part the sketch
    replaces in production). State is O(d*w), never O(keys) — THE reason
    this replaces streaming per-key COUNT(*) at 100 TB."""
    from ..sinks import read_published
    from ..streaming.stateful import drain_stream, read_staged_events
    from .sketch import cms_probe_report, cms_truth_topk

    with _staged_drain(spark, sf_dir, "cms_store") as (stage, ckpt, out):
        drain_stream(spark, lambda: (
            read_staged_events(spark, stage)
            .writeStream.foreachBatch(make_cms_merger(out, run_id=ckpt))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(os.path.basename(out))
            .start()
        ))
    cells = read_published(spark, out).select("r", "bucket", "c")
    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    ).select(F.col("user_id").cast("string").alias("s"))
    return cms_probe_report(cells, cms_truth_topk(ev))


# --------------------------------------------------------------------------
# ST19 — per-user N most recent events. The feature-store contract: at
# most N rows per user, most recent first, ties broken by event_id,
# timestamps as integer microseconds (bit-exact across engines), plus the
# per-user n_seen count of the events considered.
# --------------------------------------------------------------------------

_RECENT_N = 3


@register(
    "stream_recent_events",
    oracle=f"""
    WITH ev AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             event_type, event_id
      FROM events
      WHERE ts IS NOT NULL AND event_id IS NOT NULL),
    seen AS (SELECT user_id, COUNT(*) AS n_seen FROM ev GROUP BY 1),
    rk AS (
      SELECT user_id, ts_us, event_type, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts_us DESC, event_id DESC) AS rnk
      FROM ev)
    SELECT r.user_id, CAST(r.rnk AS BIGINT) AS rnk, r.ts_us, r.event_type,
           r.event_id, s.n_seen
    FROM rk r JOIN seen s USING (user_id)
    WHERE r.rnk <= {_RECENT_N}
    ORDER BY r.user_id, r.rnk
    """,
    tags=("ST19",),
)
def stream_recent_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST19: per-user {n} most recent events (block comment above).

    Batch shape: one user-keyed window (rank within user) — the windowed
    relation is per-user bounded, so the sort inside each partition's
    groups is O(events per user); n_seen shares the same exchange."""
    # NULL ts/event_id are excluded by contract: both are ranking keys,
    # and the oracle drops the same rows.
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("event_id").isNotNull())
        .select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_type",
            "event_id",
        )
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts_us"), F.desc("event_id")
    )
    seen = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_seen"))
    return (
        ev.select(
            "user_id",
            F.row_number().over(w).cast("long").alias("rnk"),
            "ts_us",
            "event_type",
            "event_id",
        )
        .filter(F.col("rnk") <= _RECENT_N)
        .join(seen, "user_id")
        .select("user_id", "rnk", "ts_us", "event_type", "event_id", "n_seen")
        .orderBy("user_id", "rnk")
    )


stream_recent_events.__doc__ = (stream_recent_events.__doc__ or "").format(n=_RECENT_N)


# --------------------------------------------------------------------------
# ST20 — per-user per-event-type counts, with the user's total count of
# typed events riding along; NULL event types are not counted.
# --------------------------------------------------------------------------


@register(
    "stream_type_counts",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type FROM events WHERE event_type IS NOT NULL),
    seen AS (SELECT user_id, COUNT(*) AS n_seen FROM ev GROUP BY 1)
    SELECT e.user_id, e.event_type,
           COUNT(*) AS cnt,
           s.n_seen
    FROM ev e JOIN seen s USING (user_id)
    GROUP BY e.user_id, e.event_type, s.n_seen
    ORDER BY e.user_id, e.event_type
    """,
    tags=("ST20",),
)
def stream_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST20: per-(user, event_type) counts with the per-user total riding
    along — one hash aggregation on the pair key plus a user-keyed count
    joined back (both with map-side partials)."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .select("user_id", "event_type")
    )
    seen = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_seen"))
    return (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(seen, "user_id")
        .select("user_id", "event_type", "cnt", "n_seen")
        .orderBy("user_id", "event_type")
    )


# --------------------------------------------------------------------------
# ST21 — watermark-closed sessions (30-minute inactivity gap). A session
# is emitted iff it is CLOSABLE: either a later session of the same user
# supersedes it, or the final watermark (max event time - the 2h delay)
# passed its close timer (last_ts + 30min). Sessions still open against
# the final watermark are in-flight state and are excluded. Timestamps
# are in MILLISECONDS (floor of micros), the granularity of Spark's
# watermarks, so the comparison with the oracle is integer-exact.
# --------------------------------------------------------------------------

_TIMER_GAP_MS = 30 * 60 * 1000
_TIMER_DELAY_MS = 2 * 60 * 60 * 1000


@register(
    "stream_timer_sessions",
    oracle=f"""
    WITH ev AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS ts_ms,
             event_id
      FROM events WHERE ts IS NOT NULL),
    wm AS (SELECT MAX(ts_ms) - {_TIMER_DELAY_MS} AS wm_ms FROM ev),
    ordered AS (
      SELECT user_id, ts_ms,
             CASE WHEN ts_ms - LAG(ts_ms) OVER (
                    PARTITION BY user_id ORDER BY ts_ms, event_id)
                    > {_TIMER_GAP_MS}
                  OR LAG(ts_ms) OVER (
                    PARTITION BY user_id ORDER BY ts_ms, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM ev),
    sess AS (
      SELECT user_id, ts_ms,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms
                               ROWS UNBOUNDED PRECEDING) AS seq
      FROM ordered),
    agg AS (
      SELECT user_id, seq,
             MIN(ts_ms) AS session_start_ms,
             MAX(ts_ms) AS session_end_ms,
             COUNT(*) AS n_events,
             MAX(seq) OVER (PARTITION BY user_id) AS max_seq
      FROM sess GROUP BY user_id, seq)
    SELECT a.user_id, a.session_start_ms, a.session_end_ms,
           CAST(a.n_events AS BIGINT) AS n_events
    FROM agg a CROSS JOIN wm
    WHERE a.seq < a.max_seq
       OR a.session_end_ms + {_TIMER_GAP_MS} <= wm.wm_ms
    ORDER BY a.user_id, a.session_start_ms
    """,
    tags=("ST21",),
)
def stream_timer_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST21: the closable sessions (block comment above) — gaps-and-islands
    over ms timestamps, minus the per-user last session when the final
    watermark has not passed its close timer."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id",
            F.expr("unix_micros(ts) div 1000").alias("ts_ms"),
            "event_id",
        )
    )
    wm = ev.agg((F.max("ts_ms") - _TIMER_DELAY_MS).alias("wm_ms"))
    worder = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    lag_ms = F.lag("ts_ms").over(worder)
    ordered = ev.select(
        "user_id",
        "ts_ms",
        (lag_ms.isNull() | (F.col("ts_ms") - lag_ms > _TIMER_GAP_MS))
        .cast("int")
        .alias("is_new"),
        "event_id",
    )
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = ordered.select(
        "user_id", "ts_ms", F.sum("is_new").over(wcum).alias("seq")
    )
    agg = sess.groupBy("user_id", "seq").agg(
        F.min("ts_ms").alias("session_start_ms"),
        F.max("ts_ms").alias("session_end_ms"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wmax = Window.partitionBy("user_id")
    agg = agg.withColumn("max_seq", F.max("seq").over(wmax))
    return (
        agg.crossJoin(F.broadcast(wm))
        .filter(
            (F.col("seq") < F.col("max_seq"))
            | (F.col("session_end_ms") + _TIMER_GAP_MS <= F.col("wm_ms"))
        )
        .select(
            "user_id",
            "session_start_ms",
            "session_end_ms",
            F.col("n_events").cast("long").alias("n_events"),
        )
        .orderBy("user_id", "session_start_ms")
    )


# --------------------------------------------------------------------------
# ST22 — streaming write through a CUSTOM Python Data Source sink
# (sources/manifest_sink.py ManifestJsonlStreamWriter): the landing-zone
# files drain micro-batch-wise into uuid part files, each micro-batch
# commits one idempotent manifest entry (batch_id-deduplicated — a
# replayed commit after driver restart is a no-op), and readers see only
# manifest-listed files. Completes the Python-DS matrix: batch read
# (S10/S11), stream read (S11), batch write (K10), stream write (here).
# The check is S11's: every event row must be visible EXACTLY once, so
# per-type counts + exact value sums over the committed files must equal
# the same aggregation off the raw table.
# --------------------------------------------------------------------------


@register(
    "stream_manifest_sink",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {sql_dsum("value")} AS sum_value
    FROM events
    WHERE event_type IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("ST22",),
)
def stream_manifest_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST22: drain the staged event files through the streaming
    manifest-committed JSONL sink and aggregate the committed rows per
    type (block comment above; exactly-once by uuid parts + idempotent
    per-batch manifest commits)."""
    from pyspark.sql import types as T

    from ..functions.exact import dsum
    from ..sources.manifest_sink import manifest_files, manifest_stream_writer
    from ..streaming.stateful import drain_stream, read_staged_events

    with _staged_drain(spark, sf_dir, "manifest_sink") as (stage, ckpt, out):
        drain_stream(spark, lambda: (
            manifest_stream_writer(
                read_staged_events(spark, stage)
                .filter(F.col("event_type").isNotNull())
                .select("event_id", "user_id", "event_type", "value"),
                out,
                audit_column="value",
                checkpointLocation=ckpt,
            )
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        ))
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    rows = spark.read.schema(schema).json(manifest_files(out))
    return (
        rows.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# ST23 — streaming CUSUM changepoint: XT8's detector over daily counts
# maintained INCREMENTALLY per micro-batch. The daily (event_type, d, n)
# pre-agg is a COUNT monoid, so the additive foreachBatch merge (ST14's
# store shape: full outer join + coalesced addition + atomic republish +
# stored last_batch_id for replay idempotence) reconstructs the exact
# from-scratch daily relation no matter how arrival slices the stream —
# and the CUSUM readout is all-integer arithmetic over that relation
# (relational_ext.cusum_from_daily, shared verbatim with XT8), so the
# streaming answer is BIT-IDENTICAL to the batch answer by construction.
# The oracle is likewise shared: WITH daily AS (...) + _SQL_CUSUM_FROM_DAILY.
# Scale: each batch touches batch-sized rows plus the store (types x days
# rows — thousands at any corpus size), and the readout runs on the store,
# never the facts; at 100 TB the stream maintains the tiny daily table and
# the detector's cost is independent of history length.
# --------------------------------------------------------------------------


def make_daily_count_merger(target: str, run_id: str | None = None):
    """ST23 foreachBatch body as a module-level factory (mirrors
    make_rollup_merger; the RESUME test drives the production merge).
    Replay-idempotent: the store records the last applied batch_id and the
    writing run's identity, so a redelivered batch is a no-op — an
    additive count merge alone is not — and a fresh checkpoint pointed at
    a surviving store fails loudly instead of dropping its first batches
    as 'replays' (_stored_for_merge)."""
    from ..sinks import write_parquet_atomic

    def _merge(batch_df, batch_id):
        stored, replay = _stored_for_merge(batch_df, target, batch_id, run_id)
        if replay:
            return  # replayed batch: already folded into the store
        part = (
            batch_df.filter(
                F.col("ts").isNotNull() & F.col("event_type").isNotNull()
            )
            .groupBy("event_type", F.col("ts").cast("date").alias("d"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        if stored is not None:
            merged = (
                stored.select("event_type", "d", F.col("n").alias("n_a"))
                .join(
                    part.select("event_type", "d", F.col("n").alias("n_b")),
                    ["event_type", "d"],
                    "full_outer",
                )
                .select(
                    "event_type",
                    "d",
                    (
                        F.coalesce(F.col("n_a"), F.lit(0))
                        + F.coalesce(F.col("n_b"), F.lit(0))
                    ).cast("long").alias("n"),
                )
            )
        else:
            merged = part
        write_parquet_atomic(_stamp_merge(merged, batch_id, run_id), target)

    return _merge


def _cusum_oracle() -> str:
    from .relational_ext import SQL_DAILY_EVENT_COUNTS, _SQL_CUSUM_FROM_DAILY

    return (
        f"WITH daily AS ({SQL_DAILY_EVENT_COUNTS}),\n    "
        f"{_SQL_CUSUM_FROM_DAILY}"
    )


@register(
    "stream_cusum_changepoint",
    oracle=_cusum_oracle(),
    tags=("ST23",),
)
def stream_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST23: drain the staged event files as chronological micro-batches
    (availableNow) maintaining the daily-count store additively via
    foreachBatch, then run XT8's CUSUM readout on the maintained store
    (module comment: bit-identical to the batch detector)."""
    from ..sinks import read_published
    from ..streaming.stateful import drain_stream, read_staged_events
    from .relational_ext import cusum_from_daily

    with _staged_drain(spark, sf_dir, "cusum_daily") as (stage, ckpt, out):
        drain_stream(spark, lambda: (
            read_staged_events(spark, stage)
            .writeStream.foreachBatch(make_daily_count_merger(out, run_id=ckpt))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(os.path.basename(out))
            .start()
        ))
    daily = read_published(spark, out).select("event_type", "d", "n")
    return cusum_from_daily(daily)
