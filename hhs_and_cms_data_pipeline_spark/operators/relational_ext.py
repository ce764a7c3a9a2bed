"""Operators beyond the reference's inventory that a complete engine needs
(SURVEY §2 lists each as "not present in reference; native in Spark"):
as-of join, range join, ROLLUP, approx distinct, set operations, JSON
scalar functions, and the spark.sql SQL entry surface.

The reference executes none of these (its 8 report queries cover only
equi-joins and plain GROUP BY — weekly-report.py:269-403); they are required
for "a user of the reference could switch and run every query they run
today, plus the queries a 100 TB pipeline actually needs".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dsum, dsum_over, floordiv, sql_dsum, sql_floordiv
from ..registry import register
from ..sources import table

# --------------------------------------------------------------------------
# As-of join: for each 'error' event, the user's most recent 'purchase'
# at or before it.
# --------------------------------------------------------------------------


@register(
    "asof_join_last_purchase",
    oracle="""
    SELECT a.event_id, a.user_id, a.ts,
           (SELECT p.event_id FROM events p
             WHERE p.user_id = a.user_id AND p.event_type = 'purchase'
               AND p.ts <= a.ts
             ORDER BY p.ts DESC, p.event_id DESC LIMIT 1) AS purchase_id,
           (SELECT p.ts FROM events p
             WHERE p.user_id = a.user_id AND p.event_type = 'purchase'
               AND p.ts <= a.ts
             ORDER BY p.ts DESC, p.event_id DESC LIMIT 1) AS purchase_ts
    FROM events a
    WHERE a.event_type = 'error' AND a.ts IS NOT NULL
    ORDER BY a.event_id
    """,
    bench=True,
    tags=("XJ1",),
)
def asof_join_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join via union + sorted carry-forward window: tag
    both streams, sort each user's rows by (ts, side), and carry the last
    seen purchase forward — ONE shuffle on user_id, no row explosion, no
    per-row subquery. This is the scalable plan: a correlated lookup or a
    naive theta-join would be quadratic per user at 100 TB. Ties (purchase
    at exactly the error's ts) count as "before", matching the inclusive
    `<=` of e.g. DuckDB/Pandas ASOF semantics; the oracle is an independent
    correlated-subquery formulation of the same contract.
    """
    ev = table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type")
    # NULL-ts rows are excluded up front: ascending sort puts NULLs FIRST,
    # so a null-ts purchase would be carried forward as "before everything"
    # while the oracle's `p.ts <= a.ts` excludes it — a silent divergence
    # on any fixture that emits null timestamps. No current row is null;
    # the guard pins the contract.
    u = ev.filter(
        F.col("event_type").isin("purchase", "error") & F.col("ts").isNotNull()
    ).select(
        "event_id",
        "ts",
        "user_id",
        F.when(F.col("event_type") == "purchase", F.lit(0)).otherwise(F.lit(1)).alias("m"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "m", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    purchase_id = F.last(F.when(F.col("m") == 0, F.col("event_id")), ignorenulls=True)
    purchase_ts = F.last(F.when(F.col("m") == 0, F.col("ts")), ignorenulls=True)
    return (
        u.withColumn("purchase_id", purchase_id.over(w))
        .withColumn("purchase_ts", purchase_ts.over(w))
        .filter(F.col("m") == 1)
        .select("event_id", "user_id", "ts", "purchase_id", "purchase_ts")
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# Range (interval) join: lineitem priced into bands.
# --------------------------------------------------------------------------

_BANDS = (
    (0.0, 10000.0, "low"),
    (10000.0, 30000.0, "mid"),
    (30000.0, 60000.0, "high"),
    (60000.0, 1e18, "lux"),
)
_SQL_BANDS = ", ".join(f"({lo}, {hi}, '{b}')" for lo, hi, b in _BANDS)


@register(
    "range_join_price_bands",
    oracle=f"""
    SELECT band, COUNT(*) AS n_items, {sql_dsum('l_extendedprice')} AS revenue
    FROM lineitem
    JOIN (VALUES {_SQL_BANDS}) bands(lo, hi, band)
      ON l_extendedprice >= lo AND l_extendedprice < hi
    GROUP BY band
    ORDER BY band
    """,
    tags=("XJ2",),
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join against a tiny interval dim. The dim broadcasts,
    so the physical plan is BroadcastNestedLoop over a 4-row build side —
    effectively a map-side lookup at any fact scale. For large interval
    tables the scale path is binning both sides to an equi-join key first.
    """
    li = table(spark, sf_dir, "lineitem").select("l_extendedprice")
    bands = spark.createDataFrame(
        [(float(lo), float(hi), b) for lo, hi, b in _BANDS], "lo double, hi double, band string"
    )
    return (
        li.join(
            F.broadcast(bands),
            (F.col("l_extendedprice") >= F.col("lo")) & (F.col("l_extendedprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_items"), dsum("l_extendedprice", "revenue"))
        .orderBy("band")
    )


# --------------------------------------------------------------------------
# ROLLUP subtotals.
# --------------------------------------------------------------------------


@register(
    "rollup_flag_status",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    tags=("XA1",),
)
def rollup_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy subtotals (flag -> flag,status -> grand total) in one
    pass — Spark expands grouping sets inside a single hash aggregate, so
    the fact is scanned once regardless of how many subtotal levels exist."""
    return (
        table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_quantity")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity", "sum_qty"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


# --------------------------------------------------------------------------
# Approximate distinct (HLL) with an in-query accuracy self-check.
# --------------------------------------------------------------------------


@register(
    "approx_distinct_check",
    oracle="""
    SELECT COUNT(DISTINCT o_custkey) AS exact_distinct,
           TRUE AS approx_within_5pct
    FROM orders
    """,
    tags=("XA2",),
)
def approx_distinct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approx_count_distinct next to the exact count. Sketch
    values differ across engines by construction, so the differential check
    asserts the *contract* (relative error <= 5%) instead of the raw sketch:
    the query returns the exact count plus a within-tolerance boolean the
    oracle expects to be TRUE. At 100 TB the sketch is the only affordable
    option for high-cardinality dashboards (mergeable, fixed memory)."""
    o = table(spark, sf_dir, "orders").select("o_custkey")
    return o.agg(
        F.countDistinct("o_custkey").alias("exact_distinct"),
        (
            F.abs(
                F.approx_count_distinct("o_custkey", rsd=0.02).cast("double")
                - F.countDistinct("o_custkey").cast("double")
            )
            / F.countDistinct("o_custkey").cast("double")
            <= F.lit(0.05)
        ).alias("approx_within_5pct"),
    )


# --------------------------------------------------------------------------
# Set operations: UNION / INTERSECT / EXCEPT as query operators.
# --------------------------------------------------------------------------


@register(
    "setops_customers_vs_users",
    oracle="""
    SELECT 'union' AS op, COUNT(*) AS n FROM (
      SELECT o_custkey AS k FROM orders UNION SELECT user_id FROM events)
    UNION ALL
    SELECT 'intersect', COUNT(*) FROM (
      SELECT o_custkey AS k FROM orders INTERSECT SELECT user_id FROM events)
    UNION ALL
    SELECT 'except', COUNT(*) FROM (
      SELECT o_custkey AS k FROM orders EXCEPT SELECT user_id FROM events)
    ORDER BY op
    """,
    tags=("XU1",),
)
def setops_customers_vs_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over the ordering-customers and
    event-emitting-users key sets. Each compiles to a hash aggregate or
    left-semi/anti hash join — no sort, safe at any cardinality."""
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    e = table(spark, sf_dir, "events").select(F.col("user_id").alias("k"))

    def _count1(df: DataFrame, op: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(op).alias("op"), "n")

    return (
        _count1(o.union(e).distinct(), "union")
        .unionAll(_count1(o.distinct().intersect(e.distinct()), "intersect"))
        .unionAll(_count1(o.distinct().exceptAll(e.distinct()), "except"))
        .orderBy("op")
    )


# --------------------------------------------------------------------------
# JSON scalar functions over the events.props payload.
# --------------------------------------------------------------------------


@register(
    "json_extract_props",
    oracle="""
    SELECT CAST(props->>'k' AS BIGINT) AS k, COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1
    HAVING COUNT(*) > 1
    ORDER BY k
    """,
    tags=("XF1",),
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from a string payload column (get_json_object),
    grouped. JSON parsing stays JVM-side in codegen; at 100 TB prefer
    from_json with an explicit schema once the payload shape is known —
    parse once, prune to struct fields."""
    return (
        table(spark, sf_dir, "events")
        .select(
            F.get_json_object("props", "$.k").cast("bigint").alias("k"), "user_id"
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("n_users"))
        .filter(F.col("n") > 1)
        .orderBy("k")
    )


# --------------------------------------------------------------------------
# SQL entry surface: the engine accepts SQL text through Catalyst directly.
# --------------------------------------------------------------------------

_SQL_TEXT = """
WITH recent AS (
  SELECT o_custkey, o_totalprice
  FROM {orders}
  WHERE o_orderdate > (SELECT max(o_orderdate) - INTERVAL 90 DAY FROM {orders})
)
SELECT o_custkey AS custkey, COUNT(*) AS n_orders,
       {sum_price} AS total_spend
FROM recent
GROUP BY o_custkey
HAVING COUNT(*) >= 2
ORDER BY custkey
"""


@register(
    "sql_api_scalar_subquery",
    oracle=_SQL_TEXT.format(orders="orders", sum_price=sql_dsum("o_totalprice")),
    tags=("Q2", "SQL"),
)
def sql_api_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql surface: CTE + uncorrelated scalar subquery + HAVING run
    as SQL text through Catalyst (scalar subquery executes as a 1-row
    broadcast, not a collect-to-driver). The exact same text runs on the
    oracle — the engine's SQL dialect is ANSI-compatible for this surface."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    # Identical SQL text modulo the string type spelling (Spark: STRING).
    spark_sum = sql_dsum("o_totalprice").replace("VARCHAR", "STRING")
    return spark.sql(_SQL_TEXT.format(orders="orders_v", sum_price=spark_sum))


# --------------------------------------------------------------------------
# Discrete percentiles (inverted-CDF): element-picking, so cross-engine
# exact — no interpolation arithmetic to diverge.
# --------------------------------------------------------------------------


@register(
    "percentile_disc_by_flag",
    oracle="""
    SELECT l_returnflag,
           quantile_disc(l_extendedprice, 0.25) AS p25,
           quantile_disc(l_extendedprice, 0.50) AS p50,
           quantile_disc(l_extendedprice, 0.90) AS p90,
           MIN(l_extendedprice) AS lo,
           MAX(l_extendedprice) AS hi
    FROM lineitem
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("XA4",),
)
def percentile_disc_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles per group (inverted CDF picks an actual element,
    so Spark's percentile_disc and DuckDB's quantile_disc agree exactly —
    interpolating variants would diverge in float arithmetic). Exact
    percentiles sort within each group; at dashboard scale prefer
    approx_percentile's mergeable t-digest sketch."""
    # ONE shared sort per group instead of three percentile_disc states
    # (r12, guide §1.2 "per-task work"): each percentile_disc aggregate
    # maintains its own value->count map and re-sorts it at finalization —
    # three maps over the same column measured 4.9s at sf0.1. The
    # inverted-CDF element IS the row at rank ceil(p*n) in the sorted
    # group (duplicates share a value, so any rank inside a duplicate run
    # picks the same element), so one rank window + three conditional-min
    # picks compute all of p25/p50/p90 from a single sort (~1s). The
    # per-group sort is the same 3-reducer ceiling the aggregate form had;
    # exact per-group percentiles cannot beat it (the docstring's
    # approx_percentile note is the scale valve either way).
    # NULL discipline (adversarial-gate finding): percentile_disc SKIPS
    # nulls, so the rank universe must too — NULLS LAST puts every null
    # row at rank > n where n counts only NON-null values; a pick can
    # therefore never land on a null, and an all-null group emits NULL
    # percentiles exactly like the aggregate form.
    ranked = (
        table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_extendedprice")
        .select(
            "l_returnflag",
            "l_extendedprice",
            F.row_number()
            .over(
                Window.partitionBy("l_returnflag").orderBy(
                    F.col("l_extendedprice").asc_nulls_last()
                )
            )
            .alias("rn"),
            F.count("l_extendedprice")
            .over(Window.partitionBy("l_returnflag"))
            .alias("n"),
        )
    )

    def pick(num: int, den: int, alias: str):
        # rank of the inverted-CDF element for p = num/den: ceil(p * n),
        # all-integer so no float rounding at any group size
        target = F.expr(f"(n * {num} + {den - 1}) div {den}")
        return F.min(
            F.when(F.col("rn") == target, F.col("l_extendedprice"))
        ).alias(alias)

    return (
        ranked.groupBy("l_returnflag")
        .agg(
            pick(1, 4, "p25"),
            pick(1, 2, "p50"),
            pick(9, 10, "p90"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# XP1/XP2 — pivot (long -> wide) and unpivot (wide -> long): the reshaping
# pair every reporting layer needs (the reference's dashboard pivots weekly
# metrics client-side in pandas; here it's engine-side and oracle-checked).
# --------------------------------------------------------------------------


@register(
    "pivot_status_by_flag",
    oracle=f"""
    SELECT l_returnflag,
           {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_extendedprice END")}
             AS F,
           {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_extendedprice END")}
             AS O
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("XP1",),
)
def pivot_status_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: revenue by return flag, one column per line status. The value
    list is EXPLICIT (pivot("l_linestatus", ["F", "O"])) — at scale an
    unlisted pivot needs an extra distinct-values job and risks a
    thousand-column explosion; listing values keeps it one aggregation
    with conditional partials, exactly what the oracle's CASE columns
    express."""
    out = (
        table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_extendedprice")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(dsum("l_extendedprice"))
        .orderBy("l_returnflag")
    )
    return out


@register(
    "unpivot_bed_metrics",
    oracle=f"""
    SELECT l_orderkey, metric, amount
    FROM (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS DOUBLE) AS qty,
             CAST(l_extendedprice AS DOUBLE) AS price,
             CAST(l_discount AS DOUBLE) AS discount
      FROM lineitem WHERE l_orderkey < 100)
    UNPIVOT (amount FOR metric IN (qty, price, discount))
    ORDER BY l_orderkey, l_linenumber, metric
    """,
    tags=("XP2",),
)
def unpivot_bed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide per-row measures into (key, metric, amount) long
    form — the shape metric stores and chart layers consume (the
    reference's report melts bed metrics client-side; weekly-report.py
    time-series plots). Spark's unpivot is a zero-shuffle Expand node:
    each input row fans to k metric rows map-side."""
    wide = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 100)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("double").alias("qty"),
            F.col("l_extendedprice").cast("double").alias("price"),
            F.col("l_discount").cast("double").alias("discount"),
        )
    )
    return (
        wide.unpivot(
            ["l_orderkey", "l_linenumber"],
            ["qty", "price", "discount"],
            "metric",
            "amount",
        )
        # SQL-standard UNPIVOT excludes NULL cells; Spark's unpivot (pandas
        # melt semantics) keeps them. Pin the SQL contract — a NULL
        # measurement is no measurement (TPC-H adversarial gate).
        .filter(F.col("amount").isNotNull())
        .orderBy("l_orderkey", "l_linenumber", "metric")
        .select("l_orderkey", "metric", "amount")
    )


@register(
    "w6_share_of_total",
    oracle=f"""
    WITH nat AS (
      SELECT n_name AS nation, {sql_dsum("o_totalprice")} AS revenue
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1)
    SELECT nation, revenue,
           revenue / CAST(CAST(SUM(CAST(CAST(revenue AS VARCHAR)
                                        AS DECIMAL(38,6))) OVER ()
                          AS VARCHAR) AS DOUBLE) AS share
    FROM nat
    ORDER BY nation
    """,
    tags=("W6",),
)
def w6_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of total revenue via an
    unpartitioned window over the PRE-AGGREGATED 25-row nation frame (the
    single-partition window is safe by construction — it sees nation-count
    rows, never the fact table; the fact-sized work is the one groupBy).
    The share division runs on the decimal-exact revenue doubles, so both
    engines divide identical bits by identical bits."""
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nat = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum("o_totalprice", "revenue"))
    )
    total = Window.partitionBy()
    total_rev = dsum_over("revenue", total)
    return (
        nat.select(
            "nation",
            "revenue",
            (F.col("revenue") / total_rev).alias("share"),
        )
        .orderBy("nation")
    )


# --------------------------------------------------------------------------
# XF2 — VARIANT (Spark 4 semi-structured type): parse the JSON payload ONCE
# into a variant value, then use typed extraction. Against string payloads
# get_json_object (XF1) re-parses per path; the VARIANT column parses once
# and every variant_get is a binary-encoded field probe — the difference
# between O(paths) and O(1) JSON parses per row at 100 TB.
# --------------------------------------------------------------------------


@register(
    "variant_props_stats",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(CAST(props->>'k' AS BIGINT)) AS n_with_k,
           MIN(CAST(props->>'k' AS BIGINT)) AS min_k,
           MAX(CAST(props->>'k' AS BIGINT)) AS max_k,
           CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("XF2",),
)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XF2: per-event-type stats over a typed field probed out of a VARIANT
    column (`parse_json` once -> `try_variant_get('$.k', 'bigint')`).
    Integer-exact aggregates; identical results to path-extraction on the
    raw string, which is exactly the point — VARIANT changes the cost
    model, not the semantics."""
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        table(spark, sf_dir, "events")
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("k").alias("n_with_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# ER1 — entity-resolution candidate pairs: blocking + edit-distance score.
# The reference dedups hospital/location identities on exact natural keys
# only (helper_load_hhs.py:96,163 ON CONFLICT); real record linkage needs
# fuzzy matching, and the scalable shape is block -> score -> threshold.
# --------------------------------------------------------------------------

_ER_BLOCK_LEN = 16
_ER_MAX_EDIT = 1


@register(
    "er_customer_blocking",
    oracle=f"""
    WITH blocked AS (
      SELECT c_custkey, c_name, c_nationkey,
             substr(c_name, 1, {_ER_BLOCK_LEN}) AS blk
      FROM customer)
    SELECT a.c_custkey AS custkey_a,
           b.c_custkey AS custkey_b,
           a.c_name AS name_a,
           b.c_name AS name_b,
           levenshtein(a.c_name, b.c_name) AS edit_distance,
           a.c_nationkey = b.c_nationkey AS same_nation,
           CAST(greatest(length(a.c_name), length(b.c_name))
                  - levenshtein(a.c_name, b.c_name) AS DOUBLE)
             / CAST(greatest(length(a.c_name), length(b.c_name)) AS DOUBLE)
             AS name_similarity
    FROM blocked a
    JOIN blocked b
      ON a.blk = b.blk
     AND a.c_custkey < b.c_custkey
     AND levenshtein(a.c_name, b.c_name) <= {_ER_MAX_EDIT}
    ORDER BY custkey_a, custkey_b
    """,
    tags=("ER1",),
)
def er_customer_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER1: fuzzy record-linkage candidates over customer names — the
    block/score/threshold pattern (Fellegi-Sunter style blocking) that
    replaces the quadratic all-pairs comparison.

    Blocking key = name prefix (_ER_BLOCK_LEN chars): the self-join is an
    equi-join on the block, so Spark shuffles each block to one partition
    and the pair enumeration is bounded by the largest block, never n² over
    the table — the same candidate-generation discipline as the dedup
    suite's LSH bucket joins (dedup.py). Scoring is F.levenshtein (JVM
    whole-stage codegen, identical semantics to DuckDB's levenshtein), and
    the normalized similarity is an exact-int division in DOUBLE, so the
    differential gate is bit-exact. At 100 TB the block key would be a
    composite (e.g. phonetic code + region) chosen to keep the max block
    size bounded; the structure here is that plan.
    """
    # Pinned block exchange (r12, guide §2.5): the block join's shuffle is
    # KB-sized, so AQE coalesced it to one partition — but the work is
    # QUADRATIC per block (pair enumeration x levenshtein), so the whole
    # scoring stage ran on one core (measured 5.6s; ~1s pinned 32-way).
    # The per-partition byte size is the wrong signal for join stages
    # whose output fans out; an explicit numPartitions opts this exchange
    # out of coalescing. Same-key same-count repartitions on both sides
    # feed the self-join exchange-free.
    n_part = spark.sparkContext.defaultParallelism
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.substring("c_name", 1, _ER_BLOCK_LEN).alias("blk"),
    ).repartition(n_part, "blk")
    a = cust.alias("a")
    b = cust.alias("b")
    lev = F.levenshtein(F.col("a.c_name"), F.col("b.c_name"))
    # join predicate uses the THRESHOLDED levenshtein (r12, guide §1.2):
    # with a threshold the kernel early-exits at O(len x k) instead of
    # O(len^2) per pair and returns -1 above it — the full distance is
    # recomputed only for the few surviving pairs in the projection
    lev_t = F.levenshtein(
        F.col("a.c_name"), F.col("b.c_name"), _ER_MAX_EDIT
    )
    longest = F.greatest(
        F.length(F.col("a.c_name")), F.length(F.col("b.c_name"))
    )
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey"))
            # thresholded levenshtein returns -1 above the cap, so >= 0
            # alone is the whole predicate (ADVICE r12: the former
            # `<= _ER_MAX_EDIT` conjunct was definitionally redundant)
            & (lev_t >= 0),
        )
        .select(
            F.col("a.c_custkey").alias("custkey_a"),
            F.col("b.c_custkey").alias("custkey_b"),
            F.col("a.c_name").alias("name_a"),
            F.col("b.c_name").alias("name_b"),
            lev.cast("long").alias("edit_distance"),
            (F.col("a.c_nationkey") == F.col("b.c_nationkey")).alias(
                "same_nation"
            ),
            ((longest - lev).cast("double") / longest.cast("double")).alias(
                "name_similarity"
            ),
        )
        .orderBy("custkey_a", "custkey_b")
    )


# --------------------------------------------------------------------------
# XA7 — approx_percentile next to the exact discrete percentile, checked by
# contract (same pattern as XA2's HLL check): sketch internals differ
# across engines, so the query asserts the Greenwald-Khanna rank-error
# guarantee instead of the raw sketch value.
# --------------------------------------------------------------------------


@register(
    "xa7_approx_percentile_check",
    oracle="""
    SELECT quantile_disc(o_totalprice, 0.95) AS exact_p95,
           TRUE AS approx_within_5pct
    FROM orders
    """,
    tags=("XA7",),
)
def xa7_approx_percentile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XA7: p95 of order value — exact discrete percentile plus a boolean
    that the Greenwald-Khanna approx_percentile(accuracy=10000) lands
    within 5% of it.

    approx_percentile's merge across partitions is not reproducible across
    engines (or even plan shapes), but its rank-error bound n/accuracy IS —
    so, like XA2, the differential contract pins the guarantee, not the
    sketch. At 100 TB the sketch is the only affordable route: single pass,
    fixed memory, mergeable across executors, no per-group sort."""
    o = table(spark, sf_dir, "orders").select("o_totalprice")
    exact = F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY o_totalprice)")
    approx = F.expr("approx_percentile(o_totalprice, 0.95, 10000)")
    return o.agg(
        exact.alias("exact_p95"),
        (F.abs(approx - exact) / exact <= F.lit(0.05)).alias(
            "approx_within_5pct"
        ),
    )


# --------------------------------------------------------------------------
# XS7 — join-key skew profile: the diagnostic every 100 TB shuffle tuning
# session starts with. Reports the heaviest join keys and their share of
# the table — the numbers that decide between a plain shuffle join, AQE
# skew splitting, and manual salting (XS1).
# --------------------------------------------------------------------------

_SKEW_TOP_K = 5


@register(
    "xs7_skew_profile",
    oracle=f"""
    WITH per_key AS (
      SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
    tot AS (SELECT SUM(cnt) AS n_rows, COUNT(*) AS n_keys FROM per_key)
    SELECT p.user_id, p.cnt,
           CAST(p.cnt AS DOUBLE) / CAST(t.n_rows AS DOUBLE) AS share,
           CAST(p.cnt AS DOUBLE)
             / (CAST(t.n_rows AS DOUBLE) / CAST(t.n_keys AS DOUBLE))
             AS skew_vs_mean,
           t.n_keys
    FROM per_key p CROSS JOIN tot t
    ORDER BY p.cnt DESC, p.user_id
    LIMIT {_SKEW_TOP_K}
    """,
    tags=("XS7",),
)
def xs7_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XS7: top-5 heaviest event join keys with their row share and
    skew-vs-mean multiplier.

    One keyed aggregation (partial-agg combines map-side, so the shuffle
    carries one row per key), then a broadcast of the 1-row total for the
    ratios — the per-key frame never funnels through a single partition
    except for the final top-5. All ratios are exact-int divisions in
    DOUBLE, bit-identical across engines. The skew_vs_mean column is the
    decision number: keys at >> 1x mean are the ones AQE skew-join or XS1
    salting exists for."""
    per_key = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = per_key.agg(
        F.sum("cnt").alias("n_rows"), F.count(F.lit(1)).alias("n_keys")
    )
    return (
        per_key.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "cnt",
            (F.col("cnt").cast("double") / F.col("n_rows").cast("double")).alias(
                "share"
            ),
            (
                F.col("cnt").cast("double")
                / (
                    F.col("n_rows").cast("double")
                    / F.col("n_keys").cast("double")
                )
            ).alias("skew_vs_mean"),
            "n_keys",
        )
        .orderBy(F.desc("cnt"), F.asc("user_id"))
        .limit(_SKEW_TOP_K)
    )


# --------------------------------------------------------------------------
# XT1 — time-series gap fill: dense hourly calendar spine per event type,
# zero-filled counts, and last-observation-carried-forward sums. The
# reference's weekly report silently skips weeks with no rows
# (weekly-report.py:276-287 GROUP BY over present weeks only); a dense
# spine is what dashboards and downstream models actually need.
# --------------------------------------------------------------------------


# Dense-spine safety: one corrupt timestamp (a 1970 default, a year-9999
# sentinel) silently inflates the min->max hourly spine by decades —
# multiplying the output and the window state by 1000x before anyone
# notices. Refuse loudly instead (same pattern as the posting-pack
# overflow guard in retrieval.py); the oracle never sees the guard fire
# because firing IS the failure.
_SPINE_MAX_HOURS = 200_000  # ~22 years of hourly cells

# Oracle-side mirror of the Spark builders' spine-range guard: both engines
# must REFUSE a >_SPINE_MAX_HOURS span, or a legitimately long series would
# fail the differential by design (builder raises, oracle succeeds) instead
# of by divergence. DuckDB's error() is lazy inside CASE, like raise_error.
_SQL_GUARDED_BOUNDS = f"""bounds AS (
      SELECT CASE
               WHEN (epoch_us(hi) - epoch_us(lo)) / 3600000000.0 > {_SPINE_MAX_HOURS}
               THEN CAST(error('gapfill spine would exceed {_SPINE_MAX_HOURS} hours: '
                               'timestamp outliers inflate the dense series — '
                               'clean or clamp ts first') AS TIMESTAMP)
               ELSE lo
             END AS lo, hi
      FROM (SELECT MIN(h) AS lo, MAX(h) AS hi FROM ev))"""


def _guarded_spine_hours(bounds: DataFrame) -> DataFrame:
    """EXPLODEd hourly spine between bounds.lo/hi with the range guard."""
    n_hours = (F.unix_micros("hi") - F.unix_micros("lo")) / F.lit(3_600_000_000)
    checked_lo = F.when(
        n_hours > _SPINE_MAX_HOURS,
        F.raise_error(
            F.format_string(
                "gapfill spine would span %s hours (max %s): timestamp "
                "outliers inflate the dense series — clean or clamp ts first",
                n_hours.cast("long").cast("string"),
                F.lit(str(_SPINE_MAX_HOURS)),
            )
        ).cast("timestamp"),
    ).otherwise(F.col("lo"))
    return bounds.select(
        F.explode(
            F.sequence(checked_lo, F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )


@register(
    "xt1_gapfill_locf",
    oracle=f"""
    WITH ev AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
             event_type, value
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL),
    {_SQL_GUARDED_BOUNDS},
    spine_h AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
      FROM bounds),
    types AS (SELECT DISTINCT event_type FROM ev),
    spine AS (SELECT h, event_type FROM spine_h CROSS JOIN types),
    hourly AS (
      SELECT h, event_type, COUNT(*) AS n,
             {sql_dsum("value")} AS sum_value
      FROM ev GROUP BY 1, 2)
    SELECT s.h, s.event_type,
           COALESCE(d.n, 0) AS n,
           d.sum_value,
           last_value(d.sum_value IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS sum_value_locf
    FROM spine s LEFT JOIN hourly d ON s.h = d.h AND s.event_type = d.event_type
    ORDER BY s.event_type, s.h
    """,
    tags=("XT1",),
)
def xt1_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XT1: dense hourly series per event type — empty hours appear with
    n=0, a NULL raw sum, and the last observed sum carried forward.

    The spine is generated, not scanned: one scalar min/max aggregate, then
    sequence() exploded against the 5-row type dim — O(hours x types) rows
    regardless of fact size, so the LEFT JOIN against the pre-aggregated
    hourly frame is spine-sized. LOCF is last(ignorenulls) over a per-type
    window: partitioned by event_type, never global. At 100 TB the hourly
    pre-aggregation is the only fact-sized stage, and it partial-aggregates
    map-side before its one shuffle."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .select(
            F.date_trunc("hour", F.col("ts")).alias("h"),
            "event_type",
            "value",
        )
    )
    bounds = ev.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    spine_h = _guarded_spine_hours(bounds)
    types = ev.select("event_type").distinct()
    spine = spine_h.crossJoin(F.broadcast(types))
    hourly = ev.groupBy("h", "event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value", "sum_value")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["h", "event_type"], "left")
        .select(
            "h",
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            "sum_value",
            F.last("sum_value", ignorenulls=True).over(w).alias("sum_value_locf"),
        )
        .orderBy("event_type", "h")
    )


# --------------------------------------------------------------------------
# XA8 — weekly cohort retention: users grouped by first-activity week,
# tracked by distinct activity in each subsequent week. The canonical
# product-analytics rollup the reference's weekly trend (report R1) is one
# step short of.
# --------------------------------------------------------------------------


@register(
    "xa8_cohort_retention",
    oracle="""
    WITH ev AS (
      SELECT user_id, CAST(ts AS DATE) AS d
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type = 'purchase'),
    firsts AS (
      SELECT user_id, MIN(d) AS cohort_day FROM ev GROUP BY 1),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             date_diff('day', f.cohort_day, e.d) AS day_offset
      FROM ev e JOIN firsts f ON e.user_id = f.user_id),
    sizes AS (
      SELECT cohort_day, COUNT(*) AS cohort_size
      FROM firsts GROUP BY 1)
    SELECT a.cohort_day, a.day_offset,
           COUNT(*) AS n_active,
           s.cohort_size,
           CAST(COUNT(*) AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
             AS retention
    FROM activity a JOIN sizes s ON a.cohort_day = s.cohort_day
    GROUP BY a.cohort_day, a.day_offset, s.cohort_size
    ORDER BY a.cohort_day, a.day_offset
    """,
    tags=("XA8",),
)
def xa8_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XA8: classic retention triangle over purchase activity — per (first-
    purchase day, day offset): distinct returning purchasers and their
    share of the cohort. Daily purchase grain, not weekly all-events: the
    uniform synthetic activity makes every coarser cut vacuously 100%
    retained, and a retention operator that only ever reports 1.0 proves
    nothing (the D6 lesson).

    Two keyed aggregations (first day per user; distinct activity cells)
    plus a broadcast join against the cohort-size dim (one row per day).
    user_id is the partition key everywhere fact-sized, so no skew and no
    global windows; retention is one exact-int division in DOUBLE. At
    100 TB the distinct-activity reduction happens before anything is
    joined — the cells frame is at most users x days, already tiny
    relative to raw events."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & (F.col("event_type") == "purchase")
        )
        .select("user_id", F.col("ts").cast("date").alias("d"))
    )
    firsts = ev.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff("d", "cohort_day").cast("long").alias("day_offset"),
        )
        .distinct()
    )
    sizes = firsts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        activity.groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(F.broadcast(sizes), "cohort_day")
        .select(
            "cohort_day",
            "day_offset",
            "n_active",
            "cohort_size",
            (
                F.col("n_active").cast("double")
                / F.col("cohort_size").cast("double")
            ).alias("retention"),
        )
        .orderBy("cohort_day", "day_offset")
    )


# --------------------------------------------------------------------------
# XJ3 — banded time-window join, the batch twin of the streaming interval
# join (ST8). A naive time-range theta join is a per-user quadratic
# nested-loop; the scale formulation BANDS time into window-width buckets
# so each click joins purchases via an EQUI key (user, bucket) — the click
# side is replicated into its own and the following bucket, the exact
# range predicate then filters the candidates. Equivalent by construction:
# any purchase within (t, t+W] lies in the click's bucket or the next one.
# --------------------------------------------------------------------------

_BAND_WINDOW_S = 1800  # 30-minute attribution window = bucket width


def banded_window_pairs(
    clicks: DataFrame, purchases: DataFrame, window_s: int
) -> DataFrame:
    """(click_id, purchase_id, user_id, gap_micros) pairs where the purchase
    falls in (c_ts, c_ts + window_s] for the same user — banded-equi-join
    formulation over arbitrary (click_id, user_id, c_ts) / (purchase_id,
    p_user, p_ts) frames. Exposed for the brute-force cross-check test.

    Bucket width == window width, click replicated into (b0, b0+1): any
    in-window purchase's second-truncated epoch lies within [sec(c),
    sec(c)+window_s], which spans at most those two buckets — coverage is
    exact, and the full-precision range predicate re-checks band edges."""
    b0 = F.floor(F.unix_timestamp("c_ts") / window_s)
    banded_clicks = clicks.select(
        "click_id",
        "user_id",
        "c_ts",
        F.explode(F.array(b0, b0 + 1)).alias("bucket"),
    )
    p = purchases.select(
        "purchase_id",
        "p_user",
        "p_ts",
        F.floor(F.unix_timestamp("p_ts") / window_s).alias("p_bucket"),
    )
    joined = banded_clicks.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("bucket") == F.col("p_bucket")),
    )
    in_window = (F.col("p_ts") > F.col("c_ts")) & (
        F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {window_s} SECOND")
    )
    gap_micros = F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("c_ts"))
    return joined.filter(in_window).select(
        "click_id",
        "purchase_id",
        "user_id",
        gap_micros.cast("long").alias("gap_micros"),
    )


@register(
    "xj3_banded_time_join",
    oracle=f"""
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id,
           date_diff('microsecond', CAST(c.ts AS TIMESTAMP),
                     CAST(p.ts AS TIMESTAMP)) AS gap_micros
    FROM (SELECT * FROM events
          WHERE event_type = 'click' AND ts IS NOT NULL) c
    JOIN (SELECT * FROM events
          WHERE event_type = 'purchase' AND ts IS NOT NULL) p
      ON c.user_id = p.user_id
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL {_BAND_WINDOW_S} SECOND
    ORDER BY click_id, purchase_id
    """,
    tags=("XJ3",),
)
def xj3_banded_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XJ3: purchases within 30 minutes after a click by the same user,
    executed as a BANDED equi-join (module comment) — the oracle states
    the plain theta join, the plan never runs one.

    Each click explodes into exactly two (user, bucket) keys, so the join
    is a hash shuffle on a composite equi key: candidate fan-out per key
    is bounded by per-user-per-half-hour activity, not by per-user totals,
    and AQE can split any residual hot bucket. At 100 TB this is the
    difference between a nested-loop nobody can run and two scans plus one
    keyed shuffle. The exact predicate re-checks the range, so band edges
    add no false pairs; epoch arithmetic is integer, so gap_micros and
    the row set are bit-deterministic."""
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("c_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    return banded_window_pairs(clicks, purchases, _BAND_WINDOW_S).orderBy(
        "click_id", "purchase_id"
    )


# --------------------------------------------------------------------------
# XU2 — BAG-semantics set operations (EXCEPT ALL / INTERSECT ALL). XU1
# covers the DISTINCT variants; the ALL variants preserve multiplicity
# (SQL's min/difference-of-counts semantics), which is what reconciliation
# jobs actually need — "how many order rows have no matching event row"
# counts copies, not keys.
# --------------------------------------------------------------------------


@register(
    "xu2_bag_setops",
    oracle="""
    SELECT 'except_all' AS op, COUNT(*) AS n FROM (
      SELECT o_custkey AS k FROM orders
      EXCEPT ALL
      SELECT user_id FROM events)
    UNION ALL
    SELECT 'intersect_all', COUNT(*) FROM (
      SELECT o_custkey AS k FROM orders
      INTERSECT ALL
      SELECT user_id FROM events)
    ORDER BY op
    """,
    tags=("XU2",),
)
def xu2_bag_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XU2: multiset difference and intersection cardinalities between the
    order owners and the event actors.

    Spark's exceptAll/intersectAll compile to the count-difference plan
    (aggregate each side per key, emit min/diff copies via generate) — one
    keyed shuffle per side, no join explosion, the same shape the ALL
    semantics force on every engine. Counts are exact integers."""
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    e = table(spark, sf_dir, "events").select(F.col("user_id").alias("k"))
    ex = o.exceptAll(e).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("except_all").alias("op"), "n"
    )
    ia = o.intersectAll(e).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("intersect_all").alias("op"), "n"
    )
    return ex.unionAll(ia).orderBy("op")


# --------------------------------------------------------------------------
# ER2 — entity consolidation: ER1's fuzzy-match pairs closed into
# connected components, every customer record mapped to a canonical
# entity id (the component's minimum custkey) with the entity's record
# count. Pairs alone don't deduplicate an identity graph — A~B and B~C
# must land A, B, C in ONE entity even when A~C was never scored — which
# is exactly transitive closure, the same star-contraction backbone the
# near-dup doc clustering uses (dedup.alternating_star_components).
# --------------------------------------------------------------------------


@register(
    "er2_entity_consolidation",
    oracle=f"""
    WITH RECURSIVE blocked AS (
      SELECT c_custkey, c_name,
             substr(c_name, 1, {_ER_BLOCK_LEN}) AS blk
      FROM customer),
    er_pairs AS (
      SELECT a.c_custkey AS ka, b.c_custkey AS kb
      FROM blocked a
      JOIN blocked b
        ON a.blk = b.blk
       AND a.c_custkey < b.c_custkey
       AND levenshtein(a.c_name, b.c_name) <= {_ER_MAX_EDIT}),
    er_edges AS (
      SELECT ka AS src, kb AS dst FROM er_pairs
      UNION ALL
      SELECT kb AS src, ka AS dst FROM er_pairs),
    reach_er(k, r) AS (
      SELECT c_custkey, c_custkey FROM customer WHERE c_custkey IS NOT NULL
      UNION
      SELECT reach_er.k, e.dst
      FROM reach_er JOIN er_edges e ON e.src = reach_er.r),
    ents AS (
      SELECT k AS c_custkey, MIN(r) AS entity_id FROM reach_er GROUP BY k),
    sizes_er AS (
      SELECT entity_id, COUNT(*) AS entity_size FROM ents GROUP BY 1)
    SELECT e.c_custkey, e.entity_id, s.entity_size,
           e.c_custkey = e.entity_id AS is_canonical
    FROM ents e JOIN sizes_er s USING (entity_id)
    ORDER BY e.c_custkey
    """,
    tags=("ER2",),
)
def er2_entity_consolidation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER2: every customer labeled with its consolidated entity (module
    comment) — the record-linkage pipeline's second half, where ER1's
    pairwise candidates become entity keys downstream joins can use.

    The pair graph reuses ER1's blocked candidate join; closure is the
    shared alternating large-star/small-star contraction (Kiveris et al.
    2014 — O(log n) rounds regardless of chain diameter, lineage truncated
    per round). The oracle states the same closure as a recursive CTE.
    Output is customer-sized; entity sizes join back from an entity-count
    frame."""
    from .dedup import alternating_star_components

    cust = table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.substring("c_name", 1, _ER_BLOCK_LEN).alias("blk"),
    )
    a = cust.alias("a")
    b = cust.alias("b")
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey"))
        & (F.levenshtein(F.col("a.c_name"), F.col("b.c_name")) <= _ER_MAX_EDIT),
    ).select(
        F.col("a.c_custkey").alias("doc_a"), F.col("b.c_custkey").alias("doc_b")
    )
    # Entities are keyed by custkey, one output row per KEY: a duplicate
    # record sharing a key is the thing being consolidated, not a second
    # node, and a NULL key cannot name an entity (its size-join would drop
    # it in one engine and not the other). distinct + null filter pins the
    # contract the oracle's recursive-CTE UNION seed states.
    nodes = (
        cust.filter(F.col("c_custkey").isNotNull())
        .select(F.col("c_custkey").alias("doc_id"))
        .distinct()
    )
    ents = alternating_star_components(nodes, pairs).select(
        F.col("doc_id").alias("c_custkey"), F.col("cluster_id").alias("entity_id")
    )
    sizes = ents.groupBy("entity_id").agg(F.count(F.lit(1)).alias("entity_size"))
    return (
        ents.join(sizes, "entity_id")
        .select(
            "c_custkey",
            "entity_id",
            "entity_size",
            (F.col("c_custkey") == F.col("entity_id")).alias("is_canonical"),
        )
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# XF3 — nested/array analytics via higher-order functions, as a surface
# row of its own. The engine uses transform/filter/aggregate/zip_with
# internally everywhere (shingling, minhash, embedding dot products); this
# query exposes the capability directly: collect each order's line
# quantities into an ORDERED array, then compute per-order stats entirely
# with array lambdas — no second aggregation, no explode round-trip. All
# quantities are whole numbers (exact in double at any fold order), so
# the cross-engine compare is exact without the decimal route.
# --------------------------------------------------------------------------


@register(
    "xf3_array_higher_order",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             list(l_quantity ORDER BY l_linenumber, l_quantity) AS qtys
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_linenumber IS NOT NULL
      GROUP BY 1)
    SELECT l_orderkey,
           CAST(len(qtys) AS BIGINT) AS n_lines,
           CAST(len(list_filter(qtys, q -> q > 25)) AS BIGINT) AS n_heavy,
           CAST(list_aggregate(qtys, 'sum') AS DOUBLE) AS total_qty,
           CAST(list_aggregate(
             list_transform(range(2, len(qtys) + 1),
                            i -> qtys[i] - qtys[i - 1]),
             'max') AS DOUBLE) AS max_step
    FROM per_order
    ORDER BY l_orderkey
    """,
    tags=("XF3",),
)
def xf3_array_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XF3: per-order line-quantity stats computed on a collected array
    with higher-order lambdas — size, filtered count, sequential-fold sum,
    and the max step between consecutive lines via zip_with of the array
    against its own tail (NULL for single-line orders).

    One groupBy builds the ordered array (sort_array over structs pins the
    line order deterministically — collect_list alone is partition-order
    dependent, and the synthetic data repeats l_linenumber within an
    order, so the sort key must be the full (linenumber, quantity) pair
    on BOTH engines); every derived stat is then a per-row lambda inside
    whole-stage codegen. This is the nested-data idiom that avoids
    explode -> aggregate round-trips at 100 TB: one shuffle total, and
    downstream consumers get the array AND its stats from the same row."""
    # Lines with no quantity or no line number contribute nothing to the
    # quantity stats by contract: a NULL element poisons Spark's
    # F.aggregate fold (NULL result) while DuckDB's list_aggregate skips
    # it, and a NULL sort key orders differently inside the collected
    # array (TPC-H adversarial gate).
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .filter(F.col("l_quantity").isNotNull() & F.col("l_linenumber").isNotNull())
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct("l_linenumber", "l_quantity"))
            ),
            lambda s: s["l_quantity"],
        ).alias("qtys")
    )
    qtys = F.col("qtys")
    n = F.size(qtys)
    steps = F.zip_with(
        F.slice(qtys, 2, n - F.lit(1)),
        F.slice(qtys, 1, n - F.lit(1)),
        lambda later, earlier: later - earlier,
    )
    return per_order.select(
        "l_orderkey",
        n.cast("long").alias("n_lines"),
        F.size(F.filter(qtys, lambda q: q > 25)).cast("long").alias("n_heavy"),
        F.aggregate(
            qtys, F.lit(0.0), lambda acc, x: acc + x
        ).alias("total_qty"),
        F.array_max(steps).alias("max_step"),
    ).orderBy("l_orderkey")


# --------------------------------------------------------------------------
# XT2 — hourly OHLC bars: the canonical time-series downsample (open/high/
# low/close per bucket), the resample step every metrics store and market-
# data pipeline runs before charting or modeling. No reference counterpart
# (weekly-report.py only SUMs per week); this is the order-sensitive
# downsample the engine needs for telemetry at 100 TB. Open/close are
# selected by a TOTAL order (ts, event_id — event_id is unique, so ties
# are impossible) and high/low/first/last are raw stored doubles chosen by
# comparison, never arithmetic — bit-exact with zero float operations.
# --------------------------------------------------------------------------


@register(
    "xt2_ohlc_bars",
    oracle="""
    WITH ev AS (
      SELECT event_type,
             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
             ts, event_id, value
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL
        AND value IS NOT NULL),
    w AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, h
                                ORDER BY ts, event_id) AS ra,
             row_number() OVER (PARTITION BY event_type, h
                                ORDER BY ts DESC, event_id DESC) AS rd
      FROM ev)
    SELECT event_type, h,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(CASE WHEN ra = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rd = 1 THEN value END) AS close
    FROM w
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("XT2",),
)
def xt2_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XT2: per-(event_type, hour) OHLC bars (module comment). open/close
    are the first/last value under the total (ts, event_id) order; high/low
    are plain MIN/MAX.

    Spark shape at 100 TB: ONE exchange on the bar key — the two
    row_number windows and the final aggregate all share the
    (event_type, h) hash partitioning, so Catalyst plans exchange → sort →
    window → sort → window → partial-free aggregate with no second
    shuffle. The open/close selection rides the same aggregate as
    MAX(CASE WHEN rn=1) — no self-join back to the bar. Bars are
    bucket-count-sized; the presentation sort is the only other exchange."""
    return ohlc_bars_table(table(spark, sf_dir, "events"))


def ohlc_bars_table(events: DataFrame) -> DataFrame:
    """XT2's DAG over any (event_type, ts, event_id, value) frame —
    factored so the model property test (tests/test_properties.py) drives
    synthetic tie-heavy streams through the exact production plan."""
    ev = (
        events.filter(
            F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("value").isNotNull()
        )
        .select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("h"),
            "ts",
            "event_id",
            "value",
        )
    )
    wa = Window.partitionBy("event_type", "h").orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", "h").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    w = ev.select(
        "event_type",
        "h",
        "value",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wd).alias("rd"),
    )
    return (
        w.groupBy("event_type", "h")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max(F.when(F.col("ra") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rd") == 1, F.col("value"))).alias("close"),
        )
        .orderBy("event_type", "h")
    )


# --------------------------------------------------------------------------
# XT3 — linear-interpolation gap fill: XT1's dense hourly spine, but empty
# hours get the straight line between the neighboring observations instead
# of a carried-forward step. LOCF is right for state-like series (a rating
# that holds until changed); interpolation is right for flow-like series
# (a metered quantity sampled irregularly). Hours before the first / after
# the last observation stay NULL — extrapolation is a modeling choice, not
# a gap fill.
#
# Bit-exactness: the observed hourly sums ride the decimal route (exact,
# order-free); the interpolation weight is a ratio of integer hour offsets
# (one exact-int division); and both engines evaluate the identical
# three-op expression prev + (next - prev) * frac — same order, same
# roundings. The prev/next lookups are IGNORE NULLS window functions over
# the per-type spine, never a self-join.
# --------------------------------------------------------------------------


@register(
    "xt3_gapfill_interpolate",
    oracle=f"""
    WITH ev AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
             event_type, value
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL),
    {_SQL_GUARDED_BOUNDS},
    spine_h AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
      FROM bounds),
    types AS (SELECT DISTINCT event_type FROM ev),
    spine AS (SELECT h, event_type FROM spine_h CROSS JOIN types),
    hourly AS (
      SELECT h, event_type, COUNT(*) AS n,
             {sql_dsum("value")} AS sum_value
      FROM ev GROUP BY 1, 2),
    j AS (
      SELECT s.h, s.event_type, COALESCE(d.n, 0) AS n, d.sum_value
      FROM spine s
      LEFT JOIN hourly d ON s.h = d.h AND s.event_type = d.event_type),
    nbr AS (
      SELECT h, event_type, n, sum_value,
             last_value(sum_value IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_v,
             last_value(CASE WHEN sum_value IS NOT NULL THEN h END
                        IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_h,
             first_value(sum_value IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY h
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_v,
             first_value(CASE WHEN sum_value IS NOT NULL THEN h END
                         IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY h
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_h
      FROM j)
    SELECT h, event_type, n, sum_value,
           CASE
             WHEN sum_value IS NOT NULL THEN sum_value
             WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
               prev_v + (next_v - prev_v)
                 * (CAST(date_diff('hour', prev_h, h) AS DOUBLE)
                    / CAST(date_diff('hour', prev_h, next_h) AS DOUBLE))
           END AS sum_value_interp
    FROM nbr
    ORDER BY event_type, h
    """,
    tags=("XT3",),
)
def xt3_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XT3: dense hourly series per event type with linearly interpolated
    sums in the gaps (block comment above). Same spine construction as
    XT1 — O(hours x types) rows from one scalar aggregate, the hourly
    pre-aggregation is the only fact-sized stage — plus four IGNORE NULLS
    window lookups sharing ONE per-type sort."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .select(
            F.date_trunc("hour", F.col("ts")).alias("h"),
            "event_type",
            "value",
        )
    )
    bounds = ev.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    spine_h = _guarded_spine_hours(bounds)
    types = ev.select("event_type").distinct()
    spine = spine_h.crossJoin(F.broadcast(types))
    hourly = ev.groupBy("h", "event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value", "sum_value")
    )
    j = spine.join(hourly, ["h", "event_type"], "left").select(
        "h",
        "event_type",
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        "sum_value",
    )
    wprev = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wnext = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("sum_value").isNotNull(), F.col("h"))
    nbr = j.select(
        "h",
        "event_type",
        "n",
        "sum_value",
        F.last("sum_value", ignorenulls=True).over(wprev).alias("prev_v"),
        F.last(obs_h, ignorenulls=True).over(wprev).alias("prev_h"),
        F.first("sum_value", ignorenulls=True).over(wnext).alias("next_v"),
        F.first(obs_h, ignorenulls=True).over(wnext).alias("next_h"),
    )
    hours = lambda a, b: (  # noqa: E731
        (F.unix_timestamp(b) - F.unix_timestamp(a)) / F.lit(3600)
    ).cast("long")
    frac = hours(F.col("prev_h"), F.col("h")).cast("double") / hours(
        F.col("prev_h"), F.col("next_h")
    ).cast("double")
    interp = (
        F.when(F.col("sum_value").isNotNull(), F.col("sum_value"))
        .when(
            F.col("prev_v").isNotNull() & F.col("next_v").isNotNull(),
            F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac,
        )
    )
    return nbr.select(
        "h", "event_type", "n", "sum_value", interp.alias("sum_value_interp")
    ).orderBy("event_type", "h")


# --------------------------------------------------------------------------
# XA13 — daily new-vs-returning user split with the cumulative acquisition
# curve: each event day reports how many distinct users were active, how
# many of them were seen for the FIRST time that day, and the running
# total of users ever seen — the growth-accounting rollup (XA8's cohort
# retention is its per-cohort refinement). First-seen is a per-user MIN,
# not a window over raw events, so the fact table collapses in ONE keyed
# aggregation before any window touches it; the cumulative sum runs over
# the tiny per-day frame.
# --------------------------------------------------------------------------


@register(
    "xa13_new_vs_returning",
    oracle="""
    WITH ev AS (
      SELECT user_id, CAST(ts AS DATE) AS d
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    firsts AS (SELECT user_id, MIN(d) AS first_d FROM ev GROUP BY 1),
    daily AS (
      SELECT e.d,
             COUNT(DISTINCT e.user_id) AS active_users,
             COUNT(DISTINCT CASE WHEN e.d = f.first_d THEN e.user_id END)
               AS new_users
      FROM ev e JOIN firsts f USING (user_id)
      GROUP BY e.d)
    SELECT d,
           CAST(active_users AS BIGINT) AS active_users,
           CAST(new_users AS BIGINT) AS new_users,
           CAST(active_users - new_users AS BIGINT) AS returning_users,
           CAST(SUM(new_users) OVER (ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS users_ever_seen
    FROM daily
    ORDER BY d
    """,
    tags=("XA13",),
)
def xa13_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XA13: per-day active/new/returning users + cumulative users ever
    seen (block comment above).

    Exchanges at 100 TB: one user-keyed aggregation for first-seen dates,
    one (day, user) distinct reduction, one day-keyed count — all with
    map-side partials — then the running sum over the per-day frame,
    which is O(days), bounded, and explicitly allowed to single-partition
    (it is pre-aggregated; the registry-wide global-window audit checks
    exactly this)."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", F.col("ts").cast("date").alias("d"))
    )
    firsts = ev.groupBy("user_id").agg(F.min("d").alias("first_d"))
    daily = (
        ev.join(firsts, "user_id")
        .groupBy("d")
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            F.countDistinct(
                F.when(F.col("d") == F.col("first_d"), F.col("user_id"))
            ).alias("new_users"),
        )
    )
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "d",
        F.col("active_users").cast("long").alias("active_users"),
        F.col("new_users").cast("long").alias("new_users"),
        (F.col("active_users") - F.col("new_users"))
        .cast("long")
        .alias("returning_users"),
        F.sum("new_users").over(wcum).cast("long").alias("users_ever_seen"),
    ).orderBy("d")


# --------------------------------------------------------------------------
# XA14 — ordered funnel conversion (view -> click -> purchase): for each
# user, the earliest 'view', the earliest 'click' STRICTLY AFTER that
# view, and the earliest 'purchase' strictly after that click — the
# sequential-pattern analytics every product team runs, expressed without
# MATCH_RECOGNIZE (which Spark lacks) as a cascade of conditional MIN
# aggregations: one corpus aggregation pins step 1 for every user, then
# each later step re-aggregates the user's events AFTER the prior step's
# timestamp. Strict event-order semantics: ties at the same timestamp do
# NOT advance the funnel (same-instant click+view is not view-then-click),
# stated identically in both engines.
# --------------------------------------------------------------------------

_FUNNEL_STEPS = ("view", "click", "purchase")


@register(
    "xa14_funnel_conversion",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IN {_FUNNEL_STEPS!r}),
    s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM ev
      WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY 1),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM ev e JOIN s1 USING (user_id)
      WHERE e.event_type = '{_FUNNEL_STEPS[1]}' AND e.ts > s1.t1
      GROUP BY 1),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM ev e JOIN s2 USING (user_id)
      WHERE e.event_type = '{_FUNNEL_STEPS[2]}' AND e.ts > s2.t2
      GROUP BY 1)
    SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_step1,
           CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n_step2,
           CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n_step3,
           CAST((SELECT COUNT(*) FROM s2) AS DOUBLE)
             / NULLIF(CAST((SELECT COUNT(*) FROM s1) AS DOUBLE), 0.0)
             AS conv_1_to_2,
           CAST((SELECT COUNT(*) FROM s3) AS DOUBLE)
             / NULLIF(CAST((SELECT COUNT(*) FROM s2) AS DOUBLE), 0.0)
             AS conv_2_to_3
    """,
    tags=("XA14",),
)
def xa14_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XA14: ordered funnel {steps} (block comment above) — per-stage user
    counts and stage-to-stage conversion ratios (exact-integer division in
    DOUBLE).

    Scale shape: the fact table is filtered to the three funnel types at
    the scan, collapses to per-user step-1 times in ONE keyed aggregation,
    and each later step is one join of the per-user (O(|users|)) frame
    back to the filtered facts plus a re-aggregation — the standard
    funnel plan; no window ever sees the raw event stream, and the final
    scalars are three tiny aggregates."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isin(*_FUNNEL_STEPS)
        )
        .select("user_id", "event_type", "ts")
    )
    return funnel_report(ev)


def funnel_steps(ev: DataFrame) -> list[DataFrame]:
    """Per-user earliest-time frames [(user_id, t_k)] for each funnel
    stage over a (user_id, event_type, ts) relation — THE definition of
    the strict-order cascade, factored so the tie/order property tests
    push synthetic frames through the production DAG."""
    steps: list[DataFrame] = []
    prev: DataFrame | None = None
    for i, step in enumerate(_FUNNEL_STEPS):
        cur = ev.filter(F.col("event_type") == step)
        if prev is not None:
            cur = cur.join(prev, "user_id").filter(
                F.col("ts") > F.col(f"t{i}")
            )
        cur = cur.groupBy("user_id").agg(F.min("ts").alias(f"t{i + 1}"))
        steps.append(cur)
        prev = cur
    return steps


def funnel_report(ev: DataFrame) -> DataFrame:
    """Stage counts + conversion ratios from the step frames (XA14)."""
    s1, s2, s3 = funnel_steps(ev)
    c1 = s1.agg(F.count(F.lit(1)).cast("long").alias("n_step1"))
    c2 = s2.agg(F.count(F.lit(1)).cast("long").alias("n_step2"))
    c3 = s3.agg(F.count(F.lit(1)).cast("long").alias("n_step3"))
    return (
        c1.crossJoin(F.broadcast(c2))
        .crossJoin(F.broadcast(c3))
        .select(
            "n_step1",
            "n_step2",
            "n_step3",
            # NULLIF guards on BOTH ratios: ANSI mode (Spark 4 default,
            # never disabled by _SESSION_CONF) throws on /0, and an empty
            # funnel must report NULL ratios, not crash
            (
                F.col("n_step2").cast("double")
                / F.nullif(F.col("n_step1").cast("double"), F.lit(0.0))
            ).alias("conv_1_to_2"),
            (
                F.col("n_step3").cast("double")
                / F.nullif(F.col("n_step2").cast("double"), F.lit(0.0))
            ).alias("conv_2_to_3"),
        )
    )


xa14_funnel_conversion.__doc__ = (xa14_funnel_conversion.__doc__ or "").format(
    steps=" -> ".join(_FUNNEL_STEPS)
)


# --------------------------------------------------------------------------
# XA15 — multi-granularity ROLLUP: (event_type, day) -> per-type subtotals
# -> grand total in ONE pass, the OLAP cube slice every reporting layer
# asks for. Spark plans rollup() as a single Expand + hash aggregation —
# each input row is replicated once per grouping set BEFORE the exchange,
# so map-side partials still apply and the shuffle carries pre-aggregated
# (type, day / type, NULL / NULL, NULL) keys, not 3x the fact table.
# Rolled-up positions are COALESCEd to explicit sentinels ('(all)' /
# DATE 9999-12-31) so the output order is deterministic and the engines'
# different NULL-ordering defaults can never skew the comparison; the
# value sum routes through the exact-decimal path like every double
# aggregate in the repo.
# --------------------------------------------------------------------------


@register(
    "xa15_rollup_totals",
    oracle=f"""
    WITH ev AS (
      SELECT event_type, CAST(ts AS DATE) AS d, value
      FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
    r AS (
      SELECT event_type, d,
             COUNT(*) AS n_events,
             {sql_dsum("value")} AS sum_value
      FROM ev
      GROUP BY ROLLUP (event_type, d))
    SELECT COALESCE(event_type, '(all)') AS event_type,
           COALESCE(d, DATE '9999-12-31') AS d,
           CAST(n_events AS BIGINT) AS n_events,
           sum_value
    FROM r
    ORDER BY event_type, d
    """,
    tags=("XA15",),
)
def xa15_rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XA15: event counts and exact value sums at (type, day), per-type,
    and grand-total granularity via one ROLLUP pass (block comment
    above)."""
    # event_type NOT NULL is load-bearing for the sentinel scheme: a
    # natural NULL group would COALESCE to the same '(all)' marker as the
    # rollup subtotal rows and alias them (no NULLs exist in the testdata;
    # the filter pins the semantics for data where they do)
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .select("event_type", F.col("ts").cast("date").alias("d"), "value")
    )
    return _xa15_rollup(ev)


def _xa15_rollup(ev: DataFrame) -> DataFrame:
    """ROLLUP core over (event_type, d, value). The sentinel scheme is
    guarded on BOTH flanks: natural NULLs are excluded by the caller's
    filter, and a row whose natural value EQUALS a sentinel ('(all)' /
    DATE 9999-12-31) fails the query loudly (ADVICE r8) — such a row
    would alias subtotal/grand-total rows undetectably, and the DuckDB
    oracle would compute the same aliasing, so the differential gate
    could never catch it. The guard is a per-row branch inside
    whole-stage codegen — no extra pass, no shuffle."""
    guarded = ev.select(
        F.when(
            F.col("event_type") == F.lit("(all)"),
            F.raise_error(
                "XA15 sentinel collision: natural event_type '(all)' would "
                "alias rollup subtotal rows — change the sentinel or "
                "pre-escape the column"
            ),
        )
        .otherwise(F.col("event_type"))
        .alias("event_type"),
        F.when(
            F.col("d") == F.lit("9999-12-31").cast("date"),
            F.raise_error(
                "XA15 sentinel collision: natural date 9999-12-31 would "
                "alias rollup grand-total rows — change the sentinel or "
                "pre-filter the column"
            ).cast("date"),
        )
        .otherwise(F.col("d"))
        .alias("d"),
        "value",
    )
    return (
        guarded.rollup("event_type", "d")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("(all)")).alias("event_type"),
            F.coalesce(F.col("d"), F.lit("9999-12-31").cast("date")).alias("d"),
            F.col("n_events").cast("long").alias("n_events"),
            "sum_value",
        )
        .orderBy("event_type", "d")
    )


# --------------------------------------------------------------------------
# U4 — DEBOUNCE dedup: drop an event when it follows the previous event of
# the same (user, event_type) by less than 10 minutes — the ingestion
# throttle every clickstream pipeline runs against double-fires and retry
# storms (distinct from ST6, which dedups exact redeliveries by key). The
# rule is relative to the immediately PRECEDING event (pure LAG, one
# window pass over the key-partitioned stream), so it is a single
# exchange on the session key; ties within a timestamp are totally
# ordered by event_id so both engines keep identical rows. Timestamps
# compare as unix microseconds (exact integers) end to end.
# --------------------------------------------------------------------------

_DEBOUNCE_US = 600_000_000  # 10 minutes


@register(
    "u4_debounce_dedup",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_id IS NOT NULL),
    gapped AS (
      SELECT event_id, user_id, event_type, ts_us,
             ts_us - LAG(ts_us) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts_us, event_id) AS gap_us
      FROM ev)
    SELECT event_id, user_id, event_type, ts_us, gap_us
    FROM gapped
    WHERE gap_us IS NULL OR gap_us >= {_DEBOUNCE_US}
    ORDER BY event_id
    """,
    tags=("U4",),
)
def u4_debounce_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4: events surviving the 10-minute per-(user, type) debounce
    (block comment above) — kept rows with the gap to their predecessor
    (NULL for each key's first event)."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_id").isNotNull()
        )
        .select(
            "event_id", "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
        )
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    gapped = ev.withColumn("gap_us", F.col("ts_us") - F.lag("ts_us").over(w))
    return (
        gapped.filter(
            F.col("gap_us").isNull() | (F.col("gap_us") >= _DEBOUNCE_US)
        )
        .select("event_id", "user_id", "event_type", "ts_us", "gap_us")
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# XA16 — first-order MARKOV TRANSITION MATRIX over per-user event sequences:
# P(next_type | prev_type) with exact counts — the user-behavior model every
# clickstream pipeline fits (and the generator for behavioral synthetic
# data). One LAG window keyed on the session key (single exchange on
# user_id), one hash aggregation on the (prev, next) pair, and the
# row-probabilities as ONE exact-integer IEEE division (deterministic across
# engines, like XA15's ratios). The per-prev totals join is dim-sized
# (|event_type|^2 pairs) and broadcast.
# --------------------------------------------------------------------------


@register(
    "xa16_markov_transitions",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_id IS NOT NULL AND event_type IS NOT NULL),
    seq AS (
      SELECT LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type,
             event_type AS next_type
      FROM ev),
    c AS (
      SELECT prev_type, next_type, COUNT(*) AS n_trans
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
    t AS (
      SELECT prev_type, CAST(SUM(n_trans) AS BIGINT) AS n_from_prev
      FROM c GROUP BY 1)
    SELECT c.prev_type, c.next_type, CAST(c.n_trans AS BIGINT) AS n_trans,
           t.n_from_prev,
           CAST(c.n_trans AS DOUBLE) / CAST(t.n_from_prev AS DOUBLE) AS p_next
    FROM c JOIN t USING (prev_type)
    ORDER BY prev_type, next_type
    """,
    tags=("XA16",),
)
def xa16_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XA16: (prev_type -> next_type) transition counts and conditional
    probabilities over per-user event sequences ordered by (ts, event_id)
    — block comment above."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_id").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select("user_id", "event_type", F.unix_micros("ts").alias("ts_us"),
                "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = (
        seq.groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_trans"))
        # |event_type|^2-sized; without this the totals branch re-plans
        # the whole scan+window+agg a second time
        .localCheckpoint(eager=False)
    )
    totals = counts.groupBy("prev_type").agg(
        F.sum("n_trans").cast("long").alias("n_from_prev")
    )
    return (
        counts.join(F.broadcast(totals), "prev_type")
        .select(
            "prev_type",
            "next_type",
            F.col("n_trans").cast("long").alias("n_trans"),
            "n_from_prev",
            (
                F.col("n_trans").cast("double")
                / F.col("n_from_prev").cast("double")
            ).alias("p_next"),
        )
        .orderBy("prev_type", "next_type")
    )


# --------------------------------------------------------------------------
# XA17 — RFM SEGMENTATION (recency / frequency / monetary quartiles), the
# canonical customer-value analysis. Scale-honest quartiles: NTILE over a
# global ORDER BY would funnel every customer through ONE window task, so
# the quartile BOUNDARIES are computed instead as three exact interpolated
# percentiles per metric (an ungrouped aggregate — partial-aggregated,
# one scalar row) and broadcast back; bucketing is then a map-side
# comparison. Monetary sums route through the exact-decimal path, so the
# percentile inputs (and hence the boundaries) are bit-identical across
# engines; recency/frequency are integers. Customers are derived from
# orders (a customer with no orders has no RFM row, stated semantics).
# --------------------------------------------------------------------------


@register(
    "xa17_rfm_segments",
    oracle=f"""
    WITH rfm AS (
      SELECT o_custkey AS custkey,
             date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                       (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders))
               AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             {sql_dsum("o_totalprice")} AS monetary
      FROM orders GROUP BY 1),
    q AS (
      SELECT quantile_cont(recency_days, 0.25) AS r1,
             quantile_cont(recency_days, 0.50) AS r2,
             quantile_cont(recency_days, 0.75) AS r3,
             quantile_cont(frequency, 0.25) AS f1,
             quantile_cont(frequency, 0.50) AS f2,
             quantile_cont(frequency, 0.75) AS f3,
             quantile_cont(monetary, 0.25) AS m1,
             quantile_cont(monetary, 0.50) AS m2,
             quantile_cont(monetary, 0.75) AS m3
      FROM rfm)
    SELECT custkey, recency_days, frequency, monetary,
           1 + CAST(recency_days > r1 AS INT) + CAST(recency_days > r2 AS INT)
             + CAST(recency_days > r3 AS INT) AS r_q,
           1 + CAST(frequency > f1 AS INT) + CAST(frequency > f2 AS INT)
             + CAST(frequency > f3 AS INT) AS f_q,
           1 + CAST(monetary > m1 AS INT) + CAST(monetary > m2 AS INT)
             + CAST(monetary > m3 AS INT) AS m_q
    FROM rfm CROSS JOIN q
    ORDER BY custkey
    """,
    tags=("XA17",),
)
def xa17_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XA17: per-customer recency (days before the newest order date in the
    table), order frequency, exact monetary total, and the 1-4 quartile
    bucket of each metric (block comment above)."""
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").cast("date").alias("od"),
        "o_totalprice",
    )
    rfm = orders.groupBy("custkey").agg(
        F.max("od").alias("last_od"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        dsum("o_totalprice", "monetary"),
    )
    anchor = orders.agg(F.max("od").alias("max_od"))
    rfm = (
        rfm.crossJoin(F.broadcast(anchor))
        .select(
            "custkey",
            F.datediff("max_od", "last_od").alias("recency_days"),
            "frequency",
            "monetary",
        )
        # customer-level; read twice (threshold scan + bucketing) — without
        # this both branches re-plan the orders aggregation
        .localCheckpoint(eager=False)
    )
    q = rfm.agg(
        *[
            F.percentile(F.col(c), F.lit(p)).alias(f"{c[0]}{i}")
            for c in ("recency_days", "frequency", "monetary")
            for i, p in ((1, 0.25), (2, 0.50), (3, 0.75))
        ]
    )

    def bucket(col: str, pfx: str) -> F.Column:
        v = F.col(col)
        return (
            F.lit(1)
            + (v > F.col(f"{pfx}1")).cast("int")
            + (v > F.col(f"{pfx}2")).cast("int")
            + (v > F.col(f"{pfx}3")).cast("int")
        )

    return (
        rfm.crossJoin(F.broadcast(q))
        .select(
            "custkey",
            "recency_days",
            "frequency",
            "monetary",
            bucket("recency_days", "r").alias("r_q"),
            bucket("frequency", "f").alias("f_q"),
            bucket("monetary", "m").alias("m_q"),
        )
        .orderBy("custkey")
    )


# --------------------------------------------------------------------------
# XT5 — OHLC DOWNSAMPLING: per (event_type, day) open/high/low/close of the
# value series plus count and exact sum — the canonical time-series
# compaction (financial bars, metric rollups). ONE hash aggregation: open
# and close ride as min/max over a (ts_us, event_id, value) struct whose
# lexicographic order is decided by the unique integer prefix (value never
# breaks a tie), so no window pass and no second exchange; high/low/count/
# sum are plain aggregates in the same pass.
# --------------------------------------------------------------------------


@register(
    "xt5_ohlc_daily",
    oracle=f"""
    WITH ev AS (
      SELECT event_type, CAST(ts AS DATE) AS d, epoch_us(ts) AS ts_us,
             event_id, value
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL
        AND event_id IS NOT NULL AND value IS NOT NULL),
    o AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY event_type, d
                                ORDER BY ts_us, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type, d
                                ORDER BY ts_us DESC, event_id DESC) AS rn_d
      FROM ev)
    SELECT event_type, d,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open_value,
           MAX(value) AS high_value,
           MIN(value) AS low_value,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close_value,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum("value")} AS sum_value
    FROM o GROUP BY 1, 2
    ORDER BY event_type, d
    """,
    tags=("XT5",),
)
def xt5_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XT5: daily OHLC bars per event type (block comment above)."""
    ev = (
        table(spark, sf_dir, "events")
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
    return (
        ev.groupBy("event_type", "d")
        .agg(
            F.min(pos).getField("value").alias("open_value"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            F.max(pos).getField("value").alias("close_value"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            dsum("value", "sum_value"),
        )
        .orderBy("event_type", "d")
    )


# --------------------------------------------------------------------------
# XA18 — CUMULATIVE ACTIVE USERS: per day, how many users appeared for the
# FIRST time and the running total of distinct users ever seen — the growth
# curve every product/corpus dashboard opens with. A naive per-day
# COUNT(DISTINCT user) with a cumulative union is quadratic; the standard
# linear form used here: first-seen date per user (one hash agg on the fact
# table), count per day (dim-sized agg), cumulative sum over the day
# dimension. The single-partition running-sum window sits over DAYS —
# pre-reduced, bounded — which is exactly the global-window shape the
# registry-wide audit permits.
# --------------------------------------------------------------------------


@register(
    "xa18_cumulative_active_users",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
      GROUP BY 1),
    per_day AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS n_new_users
      FROM first_seen GROUP BY 1)
    SELECT d, n_new_users,
           CAST(SUM(n_new_users) OVER (
             ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS n_cumulative_users
    FROM per_day
    ORDER BY d
    """,
    tags=("XA18",),
)
def xa18_cumulative_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XA18: daily new-user counts and the cumulative distinct-user curve
    (block comment above)."""
    first_seen = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.min(F.col("ts").cast("date")).alias("d"))
    )
    per_day = first_seen.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n_new_users")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_day.select(
            "d",
            "n_new_users",
            F.sum("n_new_users").over(w).cast("long")
            .alias("n_cumulative_users"),
        )
        .orderBy("d")
    )


# --------------------------------------------------------------------------
# XA19 — ACTIVITY STREAKS, the gaps-and-islands classic at day granularity:
# for each user, the longest run of CONSECUTIVE active days (and how many
# distinct streaks they had). The standard O(1)-state trick: over each
# user's distinct active days in order, day - row_number is CONSTANT within
# a consecutive run and unique per run — one distinct-day aggregation, one
# window on the user key, one (user, anchor) aggregation, one per-user
# aggregation; every exchange is keyed on user_id (or a reduction of it),
# nothing global. Distinct from ST3's minute-level sessionization: this is
# the calendar-retention view (DAU streaks, "7-day streak" badges).
# --------------------------------------------------------------------------


@register(
    "xa19_activity_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    runs AS (
      SELECT user_id, d,
             d - CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY d) AS INT) AS anchor
      FROM days),
    streaks AS (
      SELECT user_id, anchor, CAST(COUNT(*) AS BIGINT) AS len,
             MIN(d) AS streak_start
      FROM runs GROUP BY 1, 2)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           MIN(streak_start) AS first_active_day
    FROM streaks
    GROUP BY user_id
    ORDER BY longest_streak DESC, user_id
    LIMIT 100
    """,
    tags=("XA19",),
)
def xa19_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XA19: top-100 users by longest consecutive-day activity streak
    (block comment above) — streak count, longest run, first active day."""
    days = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    runs = days.select(
        "user_id",
        "d",
        F.date_sub("d", F.row_number().over(w)).alias("anchor"),
    )
    streaks = runs.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.min("d").alias("streak_start"),
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_streaks"),
            F.max("len").cast("long").alias("longest_streak"),
            F.min("streak_start").alias("first_active_day"),
        )
        .orderBy(F.desc("longest_streak"), F.asc("user_id"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# XA20 — EVENT-CONCENTRATION (Lorenz/Pareto) AUDIT: how skewed is activity
# across users — what share of all events comes from each activity decile
# of the user base, cumulatively ("do 10% of users produce 60% of the
# data?"). Production-relevant twice over: spam/bot screening and
# join-skew forecasting (XS7's per-key profile, aggregated to a curve).
# Scale-honest decile assignment: a textbook Lorenz curve ranks EVERY user
# with a global-order window (the 100 TB job-killer); here the nine decile
# BOUNDARIES come from exact interpolated percentiles of the per-user
# counts (scalar aggregate, broadcast back — the XA17 pattern), users
# bucket by comparison map-side, and the final cumulative sum runs over
# the ten-row decile relation. Shares are exact-integer IEEE divisions.
# Boundary-tied users share a decile deterministically in both engines
# (bucket = count of thresholds strictly below the user's count).
# --------------------------------------------------------------------------


@register(
    "xa20_event_concentration",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE user_id IS NOT NULL
      GROUP BY 1),
    q AS (
      SELECT quantile_cont(n, 0.1) AS t1, quantile_cont(n, 0.2) AS t2,
             quantile_cont(n, 0.3) AS t3, quantile_cont(n, 0.4) AS t4,
             quantile_cont(n, 0.5) AS t5, quantile_cont(n, 0.6) AS t6,
             quantile_cont(n, 0.7) AS t7, quantile_cont(n, 0.8) AS t8,
             quantile_cont(n, 0.9) AS t9
      FROM per_user),
    bucketed AS (
      SELECT u.user_id, u.n,
             CAST(1 + CAST(q.t1 < u.n AS INT) + CAST(q.t2 < u.n AS INT)
                    + CAST(q.t3 < u.n AS INT) + CAST(q.t4 < u.n AS INT)
                    + CAST(q.t5 < u.n AS INT) + CAST(q.t6 < u.n AS INT)
                    + CAST(q.t7 < u.n AS INT) + CAST(q.t8 < u.n AS INT)
                    + CAST(q.t9 < u.n AS INT) AS BIGINT) AS decile
      FROM per_user u CROSS JOIN q),
    per_decile AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(n) AS BIGINT) AS n_events
      FROM bucketed GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(n_users) AS BIGINT) AS tu,
             CAST(SUM(n_events) AS BIGINT) AS te
      FROM per_decile)
    SELECT d.decile, d.n_users, d.n_events,
           CAST(d.n_events AS DOUBLE) / CAST(t.te AS DOUBLE) AS event_share,
           CAST(SUM(d.n_events) OVER (
                  ORDER BY d.decile ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / CAST(t.te AS DOUBLE) AS cum_event_share,
           CAST(SUM(d.n_users) OVER (
                  ORDER BY d.decile ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / CAST(t.tu AS DOUBLE) AS cum_user_share
    FROM per_decile d CROSS JOIN tot t
    ORDER BY d.decile
    """,
    tags=("XA20",),
)
def xa20_event_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XA20: per activity-decile user and event counts plus the Lorenz
    cumulative shares (block comment above)."""
    per_user = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    qs = per_user.agg(
        *[
            F.percentile(F.col("n"), F.lit(i / 10.0)).alias(f"t{i}")
            for i in range(1, 10)
        ]
    )
    decile = (
        F.lit(1)
        + sum(
            (F.col(f"t{i}") < F.col("n")).cast("int") for i in range(1, 10)
        )
    ).cast("long")
    per_decile = (
        per_user.crossJoin(F.broadcast(qs))
        .select("n", decile.alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("n").cast("long").alias("n_events"),
        )
        # ten-row relation; read by the totals and the cumulative window
        .localCheckpoint(eager=False)
    )
    tot = per_decile.agg(
        F.sum("n_users").cast("long").alias("tu"),
        F.sum("n_events").cast("long").alias("te"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_decile.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_users",
            "n_events",
            (F.col("n_events").cast("double") / F.col("te").cast("double"))
            .alias("event_share"),
            (
                F.sum("n_events").over(w).cast("double")
                / F.col("te").cast("double")
            ).alias("cum_event_share"),
            (
                F.sum("n_users").over(w).cast("double")
                / F.col("tu").cast("double")
            ).alias("cum_user_share"),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# XT6 — EWMA TREND: exponentially weighted moving average of the daily
# event-count series per event type — the smoothing step every monitoring /
# drift dashboard applies before alerting. The recursion y_t = a*x_t +
# (1-a)*y_{t-1} is not window-expressible, so we use the standard truncated
# form: with a = 1/2 the weights are dyadic (2^-d) and after 16 terms the
# tail weight is < 2^-15 — below any alerting threshold. Truncation makes
# the operator exact AND distributed: 15 LAGs over one (event_type, d)
# window, numerator/denominator accumulated in BIGINT (weights 2^15..2^0),
# one final IEEE double division. No float accumulation order exists to
# diverge between engines, so the DuckDB differential is bit-exact.
# Plan: one date-grain pre-aggregation (map-side partial), one exchange on
# event_type, one per-key ordered scan computing all 15 lags in a single
# window frame. Per-key state is 16 rows regardless of data size — at
# 100 TB the pre-agg reduces the fact table to (types x days) rows first.
# --------------------------------------------------------------------------

# Shared (event_type, day) pre-aggregation: the XT6/XT7 smoothers and
# DQ9's MAD audit all consume the SAME daily series — one definition (and
# one oracle CTE body) so the null-filter and date-cast contract cannot
# drift between them.
SQL_DAILY_EVENT_COUNTS = """SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2"""


def daily_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, d, n): daily event counts, the Spark twin of
    SQL_DAILY_EVENT_COUNTS."""
    return (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


_EWMA_TERMS = 16  # current row + 15 lags; tail weight < 2^-15


def _ewma_sql_terms() -> tuple[str, str]:
    num = [f"n * {1 << (_EWMA_TERMS - 1)}"]
    den = [str(1 << (_EWMA_TERMS - 1))]
    for i in range(1, _EWMA_TERMS):
        w = 1 << (_EWMA_TERMS - 1 - i)
        num.append(f"COALESCE(l{i}, 0) * {w}")
        den.append(f"CASE WHEN l{i} IS NOT NULL THEN {w} ELSE 0 END")
    return " + ".join(num), " + ".join(den)


_EWMA_NUM_SQL, _EWMA_DEN_SQL = _ewma_sql_terms()
_EWMA_LAGS_SQL = ", ".join(
    f"lag(n, {i}) OVER (PARTITION BY event_type ORDER BY d) AS l{i}"
    for i in range(1, _EWMA_TERMS)
)


@register(
    "xt6_ewma_trend",
    oracle=f"""
    WITH daily AS ({SQL_DAILY_EVENT_COUNTS}),
    lagged AS (
      SELECT event_type, d, n, {_EWMA_LAGS_SQL}
      FROM daily)
    SELECT event_type, d, n AS n_events,
           CAST({_EWMA_NUM_SQL} AS BIGINT) AS ewma_num,
           CAST({_EWMA_DEN_SQL} AS BIGINT) AS ewma_den,
           CAST({_EWMA_NUM_SQL} AS DOUBLE) / CAST({_EWMA_DEN_SQL} AS DOUBLE)
             AS ewma
    FROM lagged
    ORDER BY event_type, d
    """,
    tags=("XT6",),
)
def xt6_ewma_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XT6: truncated dyadic EWMA (a=1/2, 16 terms) of daily event counts
    per event type (block comment above). Integer numerator/denominator are
    emitted alongside the double for auditability."""
    daily = daily_event_counts(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d")
    lags = [F.lag("n", i).over(w).alias(f"l{i}") for i in range(1, _EWMA_TERMS)]
    lagged = daily.select("event_type", "d", "n", *lags)
    num = F.col("n") * F.lit(1 << (_EWMA_TERMS - 1))
    den = F.lit(1 << (_EWMA_TERMS - 1)).cast("long")
    for i in range(1, _EWMA_TERMS):
        wt = 1 << (_EWMA_TERMS - 1 - i)
        li = F.col(f"l{i}")
        num = num + F.coalesce(li, F.lit(0)) * F.lit(wt)
        den = den + F.when(li.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
    return (
        lagged.select(
            "event_type",
            "d",
            F.col("n").alias("n_events"),
            num.cast("long").alias("ewma_num"),
            den.cast("long").alias("ewma_den"),
            (num.cast("double") / den.cast("double")).alias("ewma"),
        )
        .orderBy("event_type", "d")
    )


# --------------------------------------------------------------------------
# XT8 — CUSUM changepoint detection (Page 1954) over the shared daily
# event-count series: the classic sequential mean-shift detector every
# monitoring stack runs next to EWMA (XT6) and the MAD audit (DQ9) —
# EWMA smooths, CUSUM ALARMS, accumulating evidence so a sustained small
# shift fires even when no single day is an outlier. Per event type: the
# first _CUSUM_TRAIN days train a baseline (sum_t counts over c_t days);
# each later day contributes the scaled deviation
#   g_i = 4*c_t*n_i - 5*sum_t          (positive iff n_i > 1.25 * mean)
# and the one-sided statistic S_i = max(0, S_{i-1} + g_i) is computed in
# CLOSED FORM as prefix_sum(g) - min(0, running_min(prefix_sum(g))) — the
# standard identity that turns the clamped recursion into two stacked
# windows, no recursion, no UDF. Alarm when S_i > 8*sum_t (cumulative
# excess of ~2 training-days of mean traffic). ALL-INTEGER arithmetic:
# the 4/5 slack ratio and the 8x threshold are exact BIGINT multiples, so
# both engines agree bitwise with no float in sight. Scale: every window
# runs on the date-grain pre-agg (thousands of rows per type at any
# corpus size), partitioned by event_type; Catalyst stacks the
# row_number, both prefix windows, and the alarm-rank window on ONE sort
# per type (same shape as XT6); the per-type training stats broadcast.
# --------------------------------------------------------------------------

_CUSUM_TRAIN = 7       # baseline days per type
_CUSUM_H_MULT = 8      # alarm threshold = 8 * sum_t (scaled units)

# Oracle body downstream of the `daily` CTE — shared verbatim by XT8 and
# its streaming twin (ST23), whose additively-maintained daily counts are
# bit-identical to the from-scratch aggregation, so the two readouts
# cannot differ.
_SQL_CUSUM_FROM_DAILY = f"""numbered AS (
      SELECT event_type, d, n,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY d) AS BIGINT) AS rn
      FROM daily),
    train AS (
      SELECT event_type, CAST(SUM(n) AS BIGINT) AS sum_t,
             CAST(COUNT(*) AS BIGINT) AS c_t
      FROM numbered WHERE rn <= {_CUSUM_TRAIN} GROUP BY 1),
    monitor AS (
      SELECT m.event_type, m.d, m.n, t.sum_t,
             4 * t.c_t * m.n - 5 * t.sum_t AS g
      FROM numbered m JOIN train t USING (event_type)
      WHERE m.rn > {_CUSUM_TRAIN}),
    track AS (
      SELECT event_type, d, n, sum_t,
             CAST(SUM(g) OVER (PARTITION BY event_type ORDER BY d
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c_pref
      FROM monitor),
    scored AS (
      SELECT event_type, d, n, sum_t,
             CAST(c_pref - LEAST(0, MIN(c_pref) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS UNBOUNDED PRECEDING)) AS BIGINT) AS cusum
      FROM track)
    SELECT event_type, d, n, cusum,
           cusum > {_CUSUM_H_MULT} * sum_t AS is_alarm,
           (cusum > {_CUSUM_H_MULT} * sum_t) AND
             CAST(SUM(CASE WHEN cusum > {_CUSUM_H_MULT} * sum_t
                           THEN 1 ELSE 0 END) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS UNBOUNDED PRECEDING) AS BIGINT) = 1 AS is_first_alarm
    FROM scored
    ORDER BY event_type, d
    """


def cusum_from_daily(daily: DataFrame) -> DataFrame:
    """CUSUM readout over a (event_type, d, n) daily-count relation — the
    Spark twin of _SQL_CUSUM_FROM_DAILY, shared by XT8 (from-scratch
    daily aggregation) and ST23 (daily counts maintained additively per
    micro-batch). All-integer arithmetic, so any daily relation that is
    row-identical produces a bit-identical readout."""
    wnum = Window.partitionBy("event_type").orderBy("d")
    wrun = wnum.rowsBetween(Window.unboundedPreceding, 0)
    # consumed twice (training stats + monitor rows): checkpoint the
    # numbered date-grain relation or the fact scan and the pre-agg would
    # execute once per branch (same convention as K11)
    numbered = daily.withColumn(
        "rn", F.row_number().over(wnum).cast("long")
    ).localCheckpoint(eager=False)
    train = (
        numbered.filter(F.col("rn") <= _CUSUM_TRAIN)
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("sum_t"),
            F.count(F.lit(1)).cast("long").alias("c_t"),
        )
    )
    monitor = (
        numbered.filter(F.col("rn") > _CUSUM_TRAIN)
        .join(F.broadcast(train), "event_type")
        .select(
            "event_type",
            "d",
            "n",
            "sum_t",
            (
                F.lit(4) * F.col("c_t") * F.col("n")
                - F.lit(5) * F.col("sum_t")
            ).alias("g"),
        )
    )
    track = monitor.withColumn("c_pref", F.sum("g").over(wrun).cast("long"))
    scored = track.withColumn(
        "cusum",
        (
            F.col("c_pref")
            - F.least(F.lit(0).cast("long"), F.min("c_pref").over(wrun))
        ).cast("long"),
    )
    is_alarm = F.col("cusum") > F.lit(_CUSUM_H_MULT) * F.col("sum_t")
    alarmed = scored.withColumn("is_alarm", is_alarm).withColumn(
        "alarm_rank", F.sum(is_alarm.cast("long")).over(wrun)
    )
    return (
        alarmed.select(
            "event_type",
            "d",
            "n",
            "cusum",
            "is_alarm",
            (F.col("is_alarm") & (F.col("alarm_rank") == 1)).alias(
                "is_first_alarm"
            ),
        )
        .orderBy("event_type", "d")
    )


@register(
    "xt8_cusum_changepoint",
    oracle=f"WITH daily AS ({SQL_DAILY_EVENT_COUNTS}),\n    {_SQL_CUSUM_FROM_DAILY}",
    tags=("XT8",),
)
def xt8_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XT8: one-sided CUSUM mean-shift detector per event type (block
    comment above) — monitor-day statistic, alarm flag, and the first
    alarm per type, all in exact integer arithmetic."""
    return cusum_from_daily(daily_event_counts(spark, sf_dir))


# --------------------------------------------------------------------------
# U5 — RATE-LIMIT sampler: keep at most ONE event per (user, 10-minute
# tumbling window), chosen deterministically as the EARLIEST by
# (ts, event_id) — the fixed-window ingestion throttle against bots and
# runaway clients. Distinct from U4: debounce drops events too CLOSE to
# their predecessor (sliding gap rule — a steady 9-minute drip never
# passes), while the fixed-window limiter admits exactly one event per
# wall-clock bucket no matter the spacing. Each kept row carries the size
# of the burst it collapsed (n_in_window) so drop rates are auditable.
# One exchange on (user_id, window); ROW_NUMBER + COUNT share the same
# window partition so the plan is a single sort per key. Window bucketing
# is integer microsecond division (6e8 us) — exact, engine-independent,
# no timezone/date functions on the hot path. At 100 TB the bucket bounds
# each window's rows by one user-10-minutes of traffic; a hot user is by
# definition the thing being limited and the kept output is 1 row/bucket.
# --------------------------------------------------------------------------

_RATE_WINDOW_US = 600_000_000  # 10-minute tumbling bucket


@register(
    "u5_rate_limit_per_key",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
             {sql_floordiv('epoch_us(ts)', _RATE_WINDOW_US)} AS win
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_id IS NOT NULL),
    ranked AS (
      SELECT event_id, user_id, event_type, ts_us,
             CAST(win AS BIGINT) AS win,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id, win
               ORDER BY ts_us, event_id) AS BIGINT) AS rn,
             CAST(COUNT(*) OVER (
               PARTITION BY user_id, win) AS BIGINT) AS n_in_window
      FROM ev)
    SELECT event_id, user_id, event_type, ts_us, win, n_in_window
    FROM ranked
    WHERE rn = 1
    ORDER BY event_id
    """,
    tags=("U5",),
)
def u5_rate_limit_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5: events surviving the one-per-user-per-10-minute fixed-window
    rate limit (block comment above) — kept rows with the size of the
    burst each one collapsed."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_id").isNotNull()
        )
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
        )
        # exact FLOOR division (functions.exact.floordiv), not `div`:
        # truncation would bucket a pre-1970 timestamp into a NEGATIVE
        # half-open window shared with its mirror-image hour; floor keeps
        # windows aligned on the same 10-minute grid on both sides of the
        # epoch, identically in both engines (oracle: sql_floordiv)
        .select("*", floordiv(F.col("ts_us"), _RATE_WINDOW_US).alias("win"))
    )
    wkey = Window.partitionBy("user_id", "win")
    w = wkey.orderBy("ts_us", "event_id")
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            "ts_us",
            "win",
            F.row_number().over(w).cast("long").alias("rn"),
            F.count(F.lit(1)).over(wkey).cast("long").alias("n_in_window"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# XT7 — ROLLING MEDIAN: 15-day rolling median of the daily event-count
# series per event type — the robust smoother ops dashboards overlay when
# spikes would drag a rolling MEAN (and the windowed companion to DQ9's
# global median/MAD audit). Spark has no framed-window median, so the
# operator states it exactly over the bounded frame: collect_list of the
# ≤15 frame values, array_sort, exact middle element (odd) or the IEEE
# mean of the two middles (even) — all inside codegen'd array expressions,
# no UDF. The frame is a compile-time constant, so the per-row array is
# O(15) regardless of data size; the plan is the same pre-agg + one
# (event_type) window pass as XT6. DuckDB's framed median() on integers
# has exactly these order-statistic semantics, so the differential is
# bit-exact.
# --------------------------------------------------------------------------

_ROLL_MED_DAYS = 15


@register(
    "xt7_rolling_median",
    oracle=f"""
    WITH daily AS ({SQL_DAILY_EVENT_COUNTS})
    SELECT event_type, d, n AS n_events,
           CAST(median(n) OVER (
             PARTITION BY event_type ORDER BY d
             ROWS BETWEEN {_ROLL_MED_DAYS - 1} PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS rolling_median
    FROM daily
    ORDER BY event_type, d
    """,
    tags=("XT7",),
)
def xt7_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XT7: 15-day rolling median of daily event counts per type (block
    comment above) — exact order statistic over the bounded frame."""
    daily = daily_event_counts(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-(_ROLL_MED_DAYS - 1), 0)
    )
    s = F.array_sort(F.collect_list("n").over(w))
    m = F.size(s)
    mid_hi = F.element_at(s, (m / 2 + 1).cast("int")).cast("double")
    mid_lo = F.element_at(s, (m / 2).cast("int")).cast("double")
    rolling = F.when(m % 2 == 1, F.element_at(s, ((m + 1) / 2).cast("int")).cast("double")).otherwise(
        (mid_lo + mid_hi) / F.lit(2.0)
    )
    return (
        daily.select(
            "event_type",
            "d",
            F.col("n").alias("n_events"),
            rolling.alias("rolling_median"),
        )
        .orderBy("event_type", "d")
    )


# --------------------------------------------------------------------------
# XA21 — SEASONALITY PROFILE: the day-of-week x hour-of-day load matrix
# (every traffic/capacity dashboard's heatmap), with each cell's share of
# total traffic and the peak hour flagged per weekday. Calendar math is
# INTEGER arithmetic on epoch microseconds — dow = (days_since_epoch + 4)
# mod 7 (1970-01-01 was a Thursday; 0 = Sunday), hour = hours mod 24, all
# UTC by construction — because Spark's dayofweek() (1=Sunday) and
# DuckDB's (0=Sunday) disagree and both can drag session timezones in.
# One fact-table aggregation to <=168 cells; the ranking window and the
# total are broadcast-sized. Map-side partial agg does the heavy lifting
# at any scale.
# --------------------------------------------------------------------------


@register(
    "xa21_seasonal_profile",
    oracle=f"""
    WITH cells AS (
      SELECT ((({sql_floordiv('epoch_us(ts)', 86_400_000_000)} + 4) % 7) + 7) % 7 AS dow,
             (({sql_floordiv('epoch_us(ts)', 3_600_000_000)} % 24) + 24) % 24 AS hod,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events
      WHERE ts IS NOT NULL
      GROUP BY 1, 2),
    tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM cells),
    ranked AS (
      SELECT dow, hod, n_events,
             ROW_NUMBER() OVER (
               PARTITION BY dow ORDER BY n_events DESC, hod) AS rnk
      FROM cells)
    SELECT CAST(r.dow AS BIGINT) AS dow, CAST(r.hod AS BIGINT) AS hod,
           r.n_events,
           CAST(r.n_events AS DOUBLE) / CAST(t.total AS DOUBLE) AS share,
           r.rnk = 1 AS is_peak_hour
    FROM ranked r CROSS JOIN tot t
    ORDER BY dow, hod
    """,
    tags=("XA21",),
)
def xa21_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XA21: day-of-week x hour-of-day traffic matrix (block comment
    above) — cell counts, share of total, per-weekday peak hour."""
    cells = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(F.unix_micros(F.col("ts")).alias("us"))
        # exact FLOOR division + positive mod (see U5): truncating `div`
        # and signed `%` would put a pre-1970 timestamp in a NEGATIVE
        # dow/hod cell — a nonexistent calendar slot both engines would
        # agree on (so the differential gate can't catch it); floor+pmod
        # lands it in the real weekday/hour on both sides
        .groupBy(
            ((((floordiv(F.col("us"), 86_400_000_000) + 4) % 7) + 7) % 7)
            .cast("long")
            .alias("dow"),
            (((floordiv(F.col("us"), 3_600_000_000) % 24) + 24) % 24)
            .cast("long")
            .alias("hod"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    tot = cells.agg(F.sum("n_events").cast("long").alias("total"))
    w = Window.partitionBy("dow").orderBy(F.desc("n_events"), F.asc("hod"))
    return (
        cells.withColumn("rnk", F.row_number().over(w))
        .crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "hod",
            "n_events",
            (F.col("n_events").cast("double") / F.col("total").cast("double"))
            .alias("share"),
            (F.col("rnk") == 1).alias("is_peak_hour"),
        )
        .orderBy("dow", "hod")
    )


# --------------------------------------------------------------------------
# XJ4 — NEAREST as-of join: match each 'error' event to the CLOSEST
# 'purchase' of the same user in EITHER direction (kdb's `aj` family /
# pandas merge_asof(direction="nearest") — the sensor-alignment variant;
# XJ1 is the backward-only form). Contract: a purchase at exactly the
# error's timestamp counts as BACKWARD (inclusive past, exclusive future,
# so the two candidate sets partition time); ties on distance prefer the
# past purchase; ties inside a timestamp resolve by event_id (backward:
# highest, forward: lowest — the nearest-scan orders below and the
# oracle's correlated ORDER BY state the same choice).
# Plan: TWO carry passes over the same user_id partitioning — ascending
# (ts, purchase-first) carrying the last purchase forward, descending
# (ts, error-first) carrying the next purchase backward — then a map-only
# CASE on the two integer distances. One exchange, no row explosion, no
# per-row subquery: the same shape that makes XJ1 scale-safe, doubled.
# --------------------------------------------------------------------------


@register(
    "xj4_asof_nearest",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
      FROM events
      WHERE ts IS NOT NULL AND event_id IS NOT NULL
        AND user_id IS NOT NULL),
    err AS (SELECT * FROM ev WHERE event_type = 'error'),
    matched AS (
      SELECT a.event_id, a.user_id, a.ts_us,
             (SELECT p.event_id FROM ev p
               WHERE p.user_id = a.user_id AND p.event_type = 'purchase'
                 AND p.ts_us <= a.ts_us
               ORDER BY p.ts_us DESC, p.event_id DESC LIMIT 1) AS prev_id,
             (SELECT p.ts_us FROM ev p
               WHERE p.user_id = a.user_id AND p.event_type = 'purchase'
                 AND p.ts_us <= a.ts_us
               ORDER BY p.ts_us DESC, p.event_id DESC LIMIT 1) AS prev_ts_us,
             (SELECT p.event_id FROM ev p
               WHERE p.user_id = a.user_id AND p.event_type = 'purchase'
                 AND p.ts_us > a.ts_us
               ORDER BY p.ts_us ASC, p.event_id ASC LIMIT 1) AS next_id,
             (SELECT p.ts_us FROM ev p
               WHERE p.user_id = a.user_id AND p.event_type = 'purchase'
                 AND p.ts_us > a.ts_us
               ORDER BY p.ts_us ASC, p.event_id ASC LIMIT 1) AS next_ts_us
      FROM err a)
    SELECT event_id, user_id, ts_us, prev_id, next_id,
           CASE
             WHEN prev_id IS NULL THEN next_id
             WHEN next_id IS NULL THEN prev_id
             WHEN ts_us - prev_ts_us <= next_ts_us - ts_us THEN prev_id
             ELSE next_id
           END AS nearest_purchase_id,
           CASE
             WHEN prev_id IS NULL THEN next_ts_us - ts_us
             WHEN next_id IS NULL THEN ts_us - prev_ts_us
             WHEN ts_us - prev_ts_us <= next_ts_us - ts_us
               THEN ts_us - prev_ts_us
             ELSE next_ts_us - ts_us
           END AS nearest_dt_us
    FROM matched
    ORDER BY event_id
    """,
    tags=("XJ4",),
)
def xj4_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XJ4: nearest-in-time as-of join, errors to purchases (block comment
    above) — both directional matches plus the nearest pick and its
    distance."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("event_id").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isin("purchase", "error")
        )
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            F.when(F.col("event_type") == "purchase", F.lit(0))
            .otherwise(F.lit(1))
            .alias("m"),
        )
    )
    return asof_nearest_frame(ev).orderBy("event_id")


def asof_nearest_frame(ev: DataFrame) -> DataFrame:
    """XJ4's carry/pick core over any (event_id, user_id, ts_us, m) frame
    (m: 0 = match candidate, 1 = probe) — factored so the same-microsecond
    tie contract is pinned by a synthetic-fixture test
    (tests/test_properties.py), not just the tie-free testdata."""
    is_p = F.col("m") == 0
    # backward pass: purchases sort BEFORE errors at equal ts (inclusive
    # past); last-seen = highest event_id among equal-ts purchases
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "m", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward pass: descending ts, errors (m=1) scan BEFORE equal-ts
    # purchases (m=0) — m DESC — so a same-microsecond purchase is NOT yet
    # seen at the error row (exclusive future, matching the oracle's
    # strict `p.ts_us > a.ts_us`); event_id DESC so last-seen = LOWEST id
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts_us"), F.desc("m"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_id = F.last(F.when(is_p, F.col("event_id")), ignorenulls=True).over(wb)
    prev_ts = F.last(F.when(is_p, F.col("ts_us")), ignorenulls=True).over(wb)
    next_id = F.last(F.when(is_p, F.col("event_id")), ignorenulls=True).over(wf)
    next_ts = F.last(F.when(is_p, F.col("ts_us")), ignorenulls=True).over(wf)
    # ONE select so the two same-spec carries collapse into one Window
    # node per direction (chained withColumn nests projections that block
    # the window-collapse rule — 4 Window nodes instead of 2)
    both = ev.select(
        "event_id",
        "user_id",
        "ts_us",
        "m",
        prev_id.alias("prev_id"),
        prev_ts.alias("prev_ts_us"),
        next_id.alias("next_id"),
        next_ts.alias("next_ts_us"),
    ).filter(F.col("m") == 1)
    d_prev = F.col("ts_us") - F.col("prev_ts_us")
    d_next = F.col("next_ts_us") - F.col("ts_us")
    nearest_id = (
        F.when(F.col("prev_id").isNull(), F.col("next_id"))
        .when(F.col("next_id").isNull(), F.col("prev_id"))
        .when(d_prev <= d_next, F.col("prev_id"))
        .otherwise(F.col("next_id"))
    )
    nearest_dt = (
        F.when(F.col("prev_id").isNull(), d_next)
        .when(F.col("next_id").isNull(), d_prev)
        .when(d_prev <= d_next, d_prev)
        .otherwise(d_next)
    )
    return (
        both.select(
            "event_id",
            "user_id",
            "ts_us",
            "prev_id",
            "next_id",
            nearest_id.alias("nearest_purchase_id"),
            nearest_dt.alias("nearest_dt_us"),
        )
    )
