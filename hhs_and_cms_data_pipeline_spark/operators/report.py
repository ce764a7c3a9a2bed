"""The reference's report-layer query pack (SURVEY §2, weekly-report.py:269-403),
recast onto the driver testdata star schema.

Domain mapping (reference -> testdata):
  weekly_report fact      -> lineitem / orders       (time = ship/order week)
  hospital dim            -> customer                (hospital_pk -> c_custkey)
  location dim            -> nation (+region)        (state -> n_name)
  hospital_quality fact   -> events                  (rating from value, ts history)
  collection_week         -> date_trunc('week', ...) cast DATE

All doubles aggregate through DECIMAL(38,6) (functions/exact.py) so results
are bit-identical to the DuckDB oracle and invariant to partitioning.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import (
    dsum,
    ratio_pct,
    round1,
    sql_dsum,
    sql_ratio_pct,
    sql_round1,
)
from ..registry import register
from ..sources import derived, table

# "Selected date" analogue of the report's date picker (weekly-report.py:536).
CUTOFF = "2000-06-01"
_SQL_CUTOFF = f"TIMESTAMP '{CUTOFF} 00:00:00'"


def _week(c, alias: str = "collection_week"):
    return F.date_trunc("week", F.col(c)).cast("date").alias(alias)


def _sql_week(c: str, alias: str = "collection_week") -> str:
    return f"CAST(date_trunc('week', {c}) AS DATE) AS {alias}"


def _sort_small(df: DataFrame, *cols: str) -> DataFrame:
    """``orderBy(*cols)`` for a final aggregate, without a range exchange.

    ``df`` holds one row per group (weeks × states, ratings, months ×
    nations): thousands of rows however large the fact table. A global
    ``orderBy`` plans a range-partitioning exchange, which costs a sampling
    job plus a shuffle-map job per run. Merging the aggregate's post-shuffle
    partitions into one task instead adds no exchange, and sorting that one
    partition gives ``orderBy``'s order, with the same ascending,
    nulls-first defaults. One task is right only while the result stays
    this small; a query whose output grows with the data keeps ``orderBy``.
    """
    return df.coalesce(1).sortWithinPartitions(*cols)


# --------------------------------------------------------------------------
# Flagship — SURVEY §7 step 1; reference Q8 (weekly-report.py:385-402):
# utilization percent by (week, state) => net-revenue percent by (month, nation).
# Exercises S3, P3, J2, A3, A4, F8-F10, F9, T5 in one plan.
# --------------------------------------------------------------------------
_FLAGSHIP_ORACLE = f"""
SELECT
  CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
  n_name AS nation,
  {sql_dsum("l_extendedprice * (1 - l_discount)")} AS net_revenue,
  {sql_dsum("l_extendedprice")} AS gross_revenue,
  COUNT(*) AS line_count,
  {sql_round1(sql_ratio_pct(sql_dsum("l_extendedprice * (1 - l_discount)"),
                            sql_dsum("l_extendedprice")))} AS net_pct
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_shipdate <= {_SQL_CUTOFF}
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register(
    "flagship_utilization",
    oracle=_FLAGSHIP_ORACLE,
    bench=True,
    tags=("J2", "A3", "A4", "F8", "F9", "F10", "P3", "T5"),
)
def flagship_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly per-nation net-revenue %: 3-way join + ratio-of-sums + ROUND.

    Reference: weekly-report.py:385-402 (utilization % by week/state).
    Scale: lineitem⋈orders is the big shuffle (both sides fact-sized; sort-merge
    w/ AQE); customer⋈nation are dim joins — nation broadcast explicitly,
    customer small enough for AQE broadcast at bench SF. The parallelism
    repartition (needed to undo the one-row-group test fixture) hashes on
    l_orderkey — the JOIN key — so the sort-merge join reuses that exchange
    and lineitem moves exactly once (round-robin spread() would be followed
    by a second, key-hashed exchange for the join). At 100 TB lineitem
    arrives as many files and the repartition is dropped; the join exchange
    remains, identical in shape. Measured: 2.2s -> 1.9s median warm at
    sf0.1 vs round-robin spread. (Scaled-long money sums were measured
    bit-identical but NOT faster here — decimal aggregation is not the
    bottleneck at this scale.)
    """
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit(CUTOFF).cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .repartition(spark.sparkContext.defaultParallelism, "l_orderkey")
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    net = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    agg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            dsum(net, "net_revenue"),
            dsum("l_extendedprice", "gross_revenue"),
            F.count(F.lit(1)).alias("line_count"),
        )
        .withColumn(
            "net_pct",
            round1(ratio_pct(F.col("net_revenue"), F.col("gross_revenue"))),
        )
    )
    return _sort_small(agg, "order_month", "nation")


# --------------------------------------------------------------------------
# R1 — weekly entity counts + week-over-week diff (weekly-report.py:271-286).
# W1 LAG over global order, A1 COUNT(DISTINCT), F7 COALESCE.
# --------------------------------------------------------------------------
_R1_ORACLE = f"""
WITH weekly_counts AS (
  SELECT {_sql_week("o_orderdate")},
         COUNT(DISTINCT o_custkey) AS customer_count
  FROM orders
  WHERE o_orderdate IS NOT NULL
  GROUP BY 1
)
SELECT collection_week,
       customer_count,
       customer_count - COALESCE(
         LAG(customer_count) OVER (ORDER BY collection_week), 0) AS week_diff
FROM weekly_counts
ORDER BY collection_week
"""


@register(
    "r1_weekly_count_trend",
    oracle=_R1_ORACLE,
    bench=True,
    tags=("A1", "W1", "F7", "Q1", "T7"),
)
def r1_weekly_count_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customers per order-week with LAG week-over-week diff.

    Reference: weekly-report.py:271-286 (hospitals reporting per week + diff
    vs previous week). The CTE becomes an intermediate DataFrame (Q1).
    Scale: the global-order LAG runs on the *aggregated* frame (one row per
    week — thousands of rows at 100 TB), so the single-partition window is
    safe by construction.
    """
    # Undated orders are OUT of the trend by contract: a NULL week has no
    # place in a week-over-week LAG, and the engines order NULLs at
    # opposite ends of the window (Spark NULLS FIRST, DuckDB NULLS LAST),
    # so including it would hand the first/last real week a different
    # predecessor per engine (caught by the TPC-H adversarial gate).
    weekly = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .select(_week("o_orderdate"), "o_custkey")
        .groupBy("collection_week")
        .agg(F.countDistinct("o_custkey").alias("customer_count"))
    )
    w = Window.orderBy("collection_week")
    return (
        weekly.withColumn(
            "week_diff",
            F.col("customer_count")
            - F.coalesce(F.lag("customer_count").over(w), F.lit(0)),
        )
        .orderBy("collection_week")
    )


# --------------------------------------------------------------------------
# R2 — 5 most recent weeks' multi-metric sums (weekly-report.py:289-305).
# T2 distinct-top-5, J1 semi-join on the derived week set, A2 multi-SUM.
# --------------------------------------------------------------------------
_R2_ORACLE = f"""
WITH recent_weeks AS (
  SELECT DISTINCT CAST(date_trunc('week', l_shipdate) AS DATE) AS collection_week
  FROM lineitem
  WHERE l_shipdate <= {_SQL_CUTOFF}
  ORDER BY collection_week DESC
  LIMIT 5
)
SELECT w.collection_week,
       {sql_dsum("l_quantity")} AS sum_qty,
       {sql_dsum("l_extendedprice")} AS sum_price,
       {sql_dsum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       {sql_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
       {sql_dsum("l_discount")} AS sum_discount
FROM (
  SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS collection_week, *
  FROM lineitem
) li
JOIN recent_weeks w USING (collection_week)
GROUP BY 1
ORDER BY 1
"""


@register(
    "r2_recent_weeks_summary",
    oracle=_R2_ORACLE,
    bench=True,
    tags=("J1", "A2", "T2", "Q1"),
)
def r2_recent_weeks_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five bed-metric sums over the 5 newest weeks (semi-join filtered).

    Reference: weekly-report.py:289-305. The 5-row week set is PRE-COLLECTED
    (a 5-value driver fetch — the uncorrelated-scalar-subquery
    materialization, same class as similarity.py's 1-row query-vector
    fetch): as literals, the week membership becomes a pushed-down
    l_shipdate RANGE on the fact scan plus an isin on the derived week —
    at 100 TB that's parquet row-group pruning to ~5 weeks of data before
    any shuffle, and no broadcast exchange recomputed per run (the r3
    bench creep was exactly that recomputation, 0.95 -> 1.27s).
    """
    li = (
        table(spark, sf_dir, "lineitem")
        .select(
            _week("l_shipdate"),
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_shipdate",
        )
    )
    # memoized: the page reruns r2 on every render, and recollecting the
    # week set each time costs two jobs
    weeks = derived(
        spark, sf_dir, "r2_recent_weeks", ("lineitem",),
        lambda: [
            r[0]
            for r in (
                li.filter(F.col("l_shipdate") <= F.lit(CUTOFF).cast("timestamp"))
                .select("collection_week")
                .distinct()
                .orderBy(F.desc("collection_week"))
                .limit(5)
                .collect()
            )
        ],
    )
    disc = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    agg = [
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_price"),
        dsum(disc, "sum_disc_price"),
        dsum(disc * (F.lit(1) + F.col("l_tax")), "sum_charge"),
        dsum("l_discount", "sum_discount"),
    ]
    if not weeks:  # degenerate corpus: nothing at/before the cutoff
        return _sort_small(
            li.filter(F.lit(False)).groupBy("collection_week").agg(*agg),
            "collection_week",
        )
    lo = min(weeks)
    hi = max(weeks) + datetime.timedelta(days=7)  # week bucket upper bound
    return _sort_small(
        li.filter(
            (F.col("l_shipdate") >= F.lit(lo).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(hi).cast("timestamp"))
            & F.col("collection_week").isin(weeks)
        )
        .groupBy("collection_week")
        .agg(*agg),
        "collection_week",
    )


# --------------------------------------------------------------------------
# R3 — utilization by latest quality rating (weekly-report.py:308-331).
# W2 latest-row-per-group, J4 join on derived table, A3/A4 ratio, F9 round.
# --------------------------------------------------------------------------
_RATING_SQL = "(abs(CAST(floor(value) AS BIGINT)) % 5) + 1"

_R3_ORACLE = f"""
WITH latest_rating AS (
  SELECT user_id, rating FROM (
    SELECT user_id,
           {_RATING_SQL} AS rating,
           ROW_NUMBER() OVER (
             PARTITION BY user_id
             ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
)
SELECT r.rating,
       {sql_dsum("o_totalprice")} AS total_value,
       {sql_dsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END")}
         AS finished_value,
       {sql_round1(sql_ratio_pct(
         sql_dsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END"),
         sql_dsum("o_totalprice")))} AS pct_finished
FROM orders o
JOIN latest_rating r ON o.o_custkey = r.user_id
GROUP BY r.rating
ORDER BY r.rating
"""


@register(
    "r3_utilization_by_rating",
    oracle=_R3_ORACLE,
    bench=True,
    tags=("W2", "J4", "A3", "A4", "F9", "Q4"),
)
def r3_utilization_by_rating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order value share in 'F' status, grouped by each customer's latest rating.

    Reference: weekly-report.py:308-331 — DISTINCT ON (facility) latest rating
    joined to the weekly fact, ratio-of-sums per rating. DISTINCT ON becomes
    the deterministic row_number()=1 pattern (ties broken by event_id).
    Scale: the per-user window partitions by user_id (high cardinality — no
    skew); the rating dim result is customer-sized, joined to the fact via
    shuffle join, broadcastable under AQE when small.
    """
    ev = table(spark, sf_dir, "events").select("user_id", "value", "ts", "event_id")
    rating = (F.abs(F.floor("value").cast("bigint")) % 5 + 1).alias("rating")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    latest = (
        ev.select("user_id", rating, F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("user_id", "rating")
    )
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus", "o_totalprice")
    finished = F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")).otherwise(F.lit(0))
    return _sort_small(
        o.join(latest, o.o_custkey == latest.user_id)
        .groupBy("rating")
        .agg(
            dsum("o_totalprice", "total_value"),
            dsum(finished, "finished_value"),
        )
        .withColumn(
            "pct_finished",
            round1(ratio_pct(F.col("finished_value"), F.col("total_value"))),
        ),
        "rating",
    )


# --------------------------------------------------------------------------
# R4 — A3 sum-of-column-sum by week+state (weekly-report.py:334-341 / 396-402).
# --------------------------------------------------------------------------
_R4_ORACLE = f"""
SELECT {_sql_week("l_shipdate")},
       n_name AS state,
       {sql_dsum("l_quantity * (1 + l_tax)")} AS total_qty
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE l_shipdate <= {_SQL_CUTOFF}
  AND l_shipdate > {_SQL_CUTOFF} - INTERVAL 28 DAY
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register(
    "r4_weekly_state_totals",
    oracle=_R4_ORACLE,
    tags=("A3", "J2", "P3", "F5", "T5"),
)
def r4_weekly_state_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Taxed quantity per (ship-week, supplier nation) in a 4-week window.

    Reference: weekly-report.py:396-402 (per week/state bed sums). The date
    range predicate (P3 + F5 date arithmetic) pushes to the Parquet scan; at
    100 TB with date-partitioned facts this is partition pruning.
    """
    cutoff = F.lit(CUTOFF).cast("timestamp")
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") <= cutoff)
            & (F.col("l_shipdate") > F.date_sub(F.lit(CUTOFF).cast("date"), 28).cast("timestamp"))
        )
        .select(_week("l_shipdate"), "l_suppkey", "l_quantity", "l_tax")
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name").alias("state"))
    return _sort_small(
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("collection_week", "state")
        .agg(dsum(F.col("l_quantity") * (F.lit(1) + F.col("l_tax")), "total_qty")),
        "collection_week",
        "state",
    )


# --------------------------------------------------------------------------
# R5 — choropleth input: single-dim sum by state (weekly-report.py:344-352).
# --------------------------------------------------------------------------
_R5_ORACLE = f"""
SELECT n_name AS state,
       {sql_dsum("l_extendedprice * l_discount")} AS covid_beds
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_shipdate <= {_SQL_CUTOFF}
GROUP BY 1
ORDER BY 1
"""


@register("r5_sum_by_state", oracle=_R5_ORACLE, tags=("A8", "J2"))
def r5_sum_by_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount value by customer nation (choropleth feed).

    Reference: weekly-report.py:344-352 (covid beds by state).
    """
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit(CUTOFF).cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name").alias("state"))
    return _sort_small(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("state")
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "covid_beds")),
        "state",
    )


# --------------------------------------------------------------------------
# R6 — bottom-k states by open beds (weekly-report.py:355-367). T3 + Q2.
# --------------------------------------------------------------------------
_R6_ORACLE = f"""
SELECT n_name AS state,
       {sql_dsum("l_quantity * (1 - l_discount)")} AS open_beds
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE CAST(date_trunc('week', l_shipdate) AS DATE) = (
  SELECT MAX(CAST(date_trunc('week', l_shipdate) AS DATE))
  FROM lineitem WHERE l_shipdate <= {_SQL_CUTOFF})
GROUP BY 1
ORDER BY open_beds ASC, state ASC
LIMIT 10
"""


@register("r6_bottom10_states", oracle=_R6_ORACLE, tags=("T3", "A7", "Q2", "A8"))
def r6_bottom10_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-10 supplier nations by open quantity in the latest week.

    Reference: weekly-report.py:355-367. The uncorrelated scalar subquery (Q2)
    is computed as a 1-row aggregate and folded in as a literal-free
    crossJoin-free semi-filter; ties at the LIMIT boundary are broken by state
    name so the pick is deterministic (SURVEY §7 hard-point 3).
    """
    li = table(spark, sf_dir, "lineitem").select(
        _week("l_shipdate"), "l_shipdate", "l_suppkey", "l_quantity", "l_discount"
    )
    maxweek = (
        li.filter(F.col("l_shipdate") <= F.lit(CUTOFF).cast("timestamp"))
        .agg(F.max("collection_week").alias("mw"))
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name").alias("state"))
    return (
        li.join(F.broadcast(maxweek), li.collection_week == F.col("mw"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("state")
        .agg(dsum(F.col("l_quantity") * (F.lit(1) - F.col("l_discount")), "open_beds"))
        .orderBy(F.asc("open_beds"), F.asc("state"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# R7 — entities not reporting recently (weekly-report.py:369-384).
# J3 left join, A5 MAX, A6 HAVING, A7/Q2 scalar subquery, T4 alpha limit.
# --------------------------------------------------------------------------
_R7_ORACLE = f"""
SELECT c_name AS customer_name,
       MAX(CAST(date_trunc('week', o_orderdate) AS DATE)) AS last_week
FROM customer
LEFT JOIN orders ON c_custkey = o_custkey AND o_orderdate <= {_SQL_CUTOFF}
WHERE c_name IS NOT NULL
GROUP BY c_name
HAVING MAX(CAST(date_trunc('week', o_orderdate) AS DATE)) IS NULL
    OR MAX(CAST(date_trunc('week', o_orderdate) AS DATE)) < (
         SELECT MAX(CAST(date_trunc('week', o_orderdate) AS DATE))
         FROM orders WHERE o_orderdate <= {_SQL_CUTOFF})
ORDER BY c_name
LIMIT 10
"""


@register("r7_not_reporting", oracle=_R7_ORACLE, tags=("J3", "A5", "A6", "A7", "Q2", "T4"))
def r7_not_reporting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers whose last order-week predates the global max (or never ordered).

    Reference: weekly-report.py:369-384 (hospitals not reporting this week).
    """
    cutoff = F.lit(CUTOFF).cast("timestamp")
    # Nameless customers are OUT by contract: the report is keyed and
    # alphabetically LIMITed by name, and a NULL name sorts at opposite
    # ends per engine (Spark NULLS FIRST vs DuckDB NULLS LAST), flipping
    # which real customer makes the top-10 (TPC-H adversarial gate).
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_name").isNotNull())
        .select("c_custkey", F.col("c_name").alias("customer_name"))
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") <= cutoff)
        .select("o_custkey", _week("o_orderdate", "order_week"))
    )
    maxweek_df = o.agg(F.max("order_week").alias("global_max_week"))
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("customer_name")
        .agg(F.max("order_week").alias("last_week"))
    )
    return (
        per_cust.crossJoin(F.broadcast(maxweek_df))
        .filter(F.col("last_week").isNull() | (F.col("last_week") < F.col("global_max_week")))
        .select("customer_name", "last_week")
        .orderBy("customer_name")
        .limit(10)
    )


# --------------------------------------------------------------------------
# R8 — date-picker feed: 5 most recent distinct weeks (weekly-report.py:505-510).
# --------------------------------------------------------------------------
_R8_ORACLE = """
SELECT DISTINCT CAST(date_trunc('week', o_orderdate) AS DATE) AS collection_week
FROM orders
ORDER BY collection_week DESC
LIMIT 5
"""


@register("r8_available_dates", oracle=_R8_ORACLE, tags=("T2", "U2"))
def r8_available_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct top-5 weeks, newest first (date-picker feed).

    Reference: weekly-report.py:505-510.
    """
    return (
        table(spark, sf_dir, "orders")
        .select(_week("o_orderdate"))
        .distinct()
        .orderBy(F.desc("collection_week"))
        .limit(5)
    )
