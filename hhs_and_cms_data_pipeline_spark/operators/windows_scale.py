"""Window-frame analytics and scale-technique operators.

SURVEY §2.5 notes the reference never uses explicit frames, RANK/NTILE, or
moving averages ("Spark Window.rowsBetween covers all") — these close that
gap. The salted-join and bucketed-join operators demonstrate the two
standard 100 TB shuffle strategies (skew mitigation, co-located joins) as
oracle-checked queries: the optimized plan must return byte-identical
results to the naive formulation the oracle runs.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import davg, dsum, dsum_over, floordiv, sql_dsum, sql_floordiv
from ..registry import register
from ..sources import spread, table

# --------------------------------------------------------------------------
# Explicit-frame moving average over daily revenue.
# --------------------------------------------------------------------------


@register(
    "w4_moving_average",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             {sql_dsum('o_totalprice')} AS revenue
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1)
    SELECT d, revenue,
           -- inner VARCHAR hop as in sql_dsum: DuckDB's direct
           -- double->DECIMAL cast keeps binary-expansion noise that
           -- Spark's shortest-repr conversion drops (visible only once
           -- ~1e12-magnitude days enter the frame)
           CAST(CAST(SUM(CAST(CAST(revenue AS VARCHAR) AS DECIMAL(38,6))) OVER w
                AS VARCHAR) AS DOUBLE)
             / CAST(COUNT(*) OVER w AS DOUBLE) AS ma7
    FROM daily
    WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY d
    """,
    tags=("W4",),
)
def w4_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row moving average with an explicit ROWS frame. The global-order
    window runs on the pre-aggregated daily frame (thousands of rows even at
    100 TB), so the single-partition window is safe by construction; the
    in-frame sum goes through decimal so both engines agree bitwise."""
    # Undated orders are OUT by contract: a NULL day would occupy a slot in
    # the date-ordered ROWS frame, and the engines place it at opposite ends
    # (Spark NULLS FIRST vs DuckDB NULLS LAST), silently shifting the first
    # or last 7 real days' averages (caught by the TPC-H adversarial gate).
    daily = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(dsum("o_totalprice", "revenue"))
    )
    w = Window.orderBy("d").rowsBetween(-6, Window.currentRow)
    ma7 = dsum_over("revenue", w) / F.count(F.lit(1)).over(w).cast("double")
    return daily.withColumn("ma7", ma7).orderBy("d")


# --------------------------------------------------------------------------
# RANK / DENSE_RANK / NTILE.
# --------------------------------------------------------------------------


@register(
    "w5_rank_ntile",
    oracle=f"""
    WITH by_nation AS (
      SELECT n_name AS nation, {sql_dsum('c_acctbal')} AS total_bal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1)
    SELECT nation, total_bal,
           RANK() OVER (ORDER BY total_bal DESC, nation) AS rnk,
           DENSE_RANK() OVER (ORDER BY total_bal DESC, nation) AS drnk,
           NTILE(4) OVER (ORDER BY total_bal DESC, nation) AS quartile
    FROM by_nation
    ORDER BY rnk, nation
    """,
    tags=("W5",),
)
def w5_rank_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking functions over per-nation balance totals (25 rows after the
    aggregate — the window is cheap; the heavy lifting is the broadcast join
    + hash agg that precedes it). Tiebreak on nation keeps NTILE stable."""
    c = table(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    by_nation = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum("c_acctbal", "total_bal"))
    )
    w = Window.orderBy(F.desc("total_bal"), F.asc("nation"))
    return (
        by_nation.select(
            "nation",
            "total_bal",
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
        )
        .orderBy("rnk", "nation")
    )


# --------------------------------------------------------------------------
# CUBE (all grouping-set combinations).
# --------------------------------------------------------------------------


@register(
    "cube_flag_status",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, {sql_dsum('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    tags=("XA3",),
)
def cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping combinations in one scan — Spark expands the
    grouping sets inside a single hash aggregate (same one-pass property as
    ROLLUP, one extra expand factor)."""
    return (
        table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_extendedprice")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_extendedprice", "sum_price"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


# --------------------------------------------------------------------------
# GROUPING SETS (arbitrary set list — the general form ROLLUP/CUBE special-
# case).
# --------------------------------------------------------------------------


@register(
    "grouping_sets_flag_status",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, {sql_dsum('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    tags=("XA5",),
)
def grouping_sets_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS: an asymmetric set list — (flag, status),
    (status), grand total — that neither ROLLUP nor CUBE expresses (ROLLUP
    drills right-to-left; CUBE is every subset). One scan, one hash
    aggregate over the expanded sets, exactly like its two special cases."""
    return (
        table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_extendedprice")
        .groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_extendedprice", "sum_price"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


# --------------------------------------------------------------------------
# Salted join: skew-mitigation technique, result-identical to a plain join.
# --------------------------------------------------------------------------

_N_SALTS = 8


@register(
    "salted_skew_join",
    oracle=f"""
    WITH user_dim AS (
      SELECT user_id, COUNT(*) AS n_events
      FROM events GROUP BY 1)
    SELECT e.event_type, COUNT(*) AS n,
           {sql_dsum('e.value')} AS sum_value,
           MAX(d.n_events) AS max_user_events
    FROM events e JOIN user_dim d ON e.user_id = d.user_id
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("XS1",),
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join: the fact side gets a random-ish salt (hash of the
    row id mod 8), the dim side is replicated once per salt value, and the
    join key becomes (user_id, salt) — a hot user's rows now spread over 8
    reducers instead of one. The oracle runs the UNSALTED join: salting must
    be result-invariant. At 100 TB this is the manual fallback when AQE's
    skew split can't help (e.g. a skewed broadcast-ineligible dim)."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    salts = spark.range(_N_SALTS).withColumnRenamed("id", "salt")
    fact = ev.withColumn("salt", F.pmod(F.hash("event_id"), F.lit(_N_SALTS)).cast("long"))
    dim_rep = dim.crossJoin(F.broadcast(salts))
    return (
        fact.join(dim_rep, ["user_id", "salt"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", "sum_value"),
            F.max("n_events").alias("max_user_events"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Bucketed co-located join: shuffle-free fact join via bucketBy.
# --------------------------------------------------------------------------


def _bkt_tag(sf_dir: str) -> str:
    """Per-(sf_dir, process) tag for the bucketed-table names: the in-memory
    catalog forgets tables across sessions, so each process (re)builds and
    owns its layout — concurrent sessions never rmtree each other's live
    table dirs. The owner pid is embedded READABLY (``..._p<pid>``) so GC
    can check process liveness instead of guessing from mtime (parquet
    files age from write time, not last read — a long-lived session's
    tables would look "stale" after an hour)."""
    import os

    return f"{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}_p{os.getpid()}"


def _bkt_owner_alive(dir_name: str) -> bool:
    """True when the bucketed dir's embedded owner pid is a live process.
    Probed with ``os.kill(pid, 0)`` — portable across POSIX systems,
    unlike a ``/proc/<pid>`` check, which does not exist off Linux and
    would classify every live foreign session as dead (deleting its
    in-use tables mid-query). Dirs without a parseable pid (pre-pid-tag
    layout) are treated as dead so they get collected."""
    import os
    import re

    m = re.search(r"_p(\d+)$", dir_name)
    if not m:
        return False
    try:
        os.kill(int(m.group(1)), 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:  # exists, owned by another user
        return True


def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-aggregation bucketed join (shared with the plan test): both
    sides read from bucketed tables and a merge hint forces sort-merge (at
    test SFs the dim would otherwise broadcast) — the plan must contain NO
    shuffle exchange before the join."""
    tag = _bkt_tag(sf_dir)
    o_name, c_name = f"orders_bkt_{tag}", f"customer_bkt_{tag}"
    o = spark.table(o_name).hint("merge")
    c = (
        spark.table(c_name)
        .filter(F.col("c_mktsegment") == "BUILDING")
        .hint("merge")
    )
    return o.join(c, o.o_custkey == c.c_custkey)


@register(
    "bucketed_colocated_join",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n, {sql_dsum('o_totalprice')} AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("XS2",),
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join two tables bucketed on the join key: both sides are pre-hashed
    into the same bucket layout at write time, so the join needs NO shuffle
    exchange (asserted in tests/test_plans.py). This is the 100 TB answer
    for repeated fact⋈fact joins on a stable key — pay the partitioning once
    at write, never again at read. The oracle joins the raw parquet.

    The bucketed tables are (re)built per process (see _bkt_tag)."""
    tag = _bkt_tag(sf_dir)
    o_name, c_name = f"orders_bkt_{tag}", f"customer_bkt_{tag}"
    catalog = spark.catalog
    # the catalog is in-memory per session but the warehouse dir persists:
    # drop THIS tag's orphaned locations (a crashed same-pid run) and any
    # foreign-tag bucketed dirs whose owner process is DEAD (liveness via
    # the pid embedded in the tag — never mtime, which ages from write
    # time and would condemn a live long-running session after an hour).
    import os
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix(
        "file:"
    )
    for name in (o_name, c_name):
        if not catalog.tableExists(name):
            shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)
    if os.path.isdir(warehouse):
        for name in os.listdir(warehouse):
            if (
                name.startswith(("orders_bkt_", "customer_bkt_"))
                and not name.endswith(tag)
                and not _bkt_owner_alive(name)
            ):
                shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)
    if not catalog.tableExists(o_name):
        (
            table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
            .write.bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .mode("overwrite")
            .saveAsTable(o_name)
        )
    if not catalog.tableExists(c_name):
        (
            table(spark, sf_dir, "customer")
            .select("c_custkey", "c_mktsegment")
            .write.bucketBy(8, "c_custkey")
            .sortBy("c_custkey")
            .mode("overwrite")
            .saveAsTable(c_name)
        )
    return (
        bucketed_join(spark, sf_dir)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "total"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Date-partitioned fact layout: writes prune at the directory level.
# --------------------------------------------------------------------------


def partitioned_orders_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize orders partitioned by order year (once per source
    VERSION) — the layout SURVEY §4 prescribes for every date-filtered
    report query.

    Robustness contract (two failure classes this helper must survive):
    * torn writes — a process killed mid-write must not leave a directory
      that later runs mistake for a complete dataset, so the write lands
      in a staging dir and is atomically renamed into place (readers see
      all partitions or none);
    * stale caches — the driver regenerates the testdata parquet at the
      SAME path between rounds, so the cache tag covers the source file's
      (mtime_ns, size) as well as its path; a regenerated source gets a
      fresh tag and the old layout is simply orphaned."""
    import os
    import shutil
    import tempfile
    import uuid

    src = os.path.join(sf_dir, "orders.parquet")
    st = os.stat(src)
    tag = hashlib.md5(
        f"{sf_dir}|{st.st_mtime_ns}|{st.st_size}".encode()
    ).hexdigest()[:12]
    path = os.path.join(
        tempfile.gettempdir(), "spark_graft_io", f"orders_by_year_{tag}"
    )
    if not os.path.exists(path):
        staging = f"{path}.__staging__{uuid.uuid4().hex}"
        (
            table(spark, sf_dir, "orders")
            .withColumn("o_year", F.year("o_orderdate").cast("int"))
            .write.partitionBy("o_year")
            .mode("overwrite")
            .parquet(staging)
        )
        try:
            os.rename(staging, path)  # atomic publish
        except OSError:
            shutil.rmtree(staging, ignore_errors=True)
            # only a LOST RACE is benign (a concurrent builder published
            # identical content first) — then `path` now exists. Any other
            # rename failure (EXDEV mount boundary, EACCES, ...) must
            # surface here, not as a baffling "path does not exist" from a
            # reader far away.
            if not os.path.isdir(path):
                raise
    return path


def pruned_year_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partition-pruned read (shared with the plan test)."""
    path = partitioned_orders_path(spark, sf_dir)
    return (
        spark.read.parquet(path)
        .filter(F.col("o_year") == 1995)
        .select("o_orderpriority", "o_totalprice")
    )


@register(
    "partition_pruned_scan",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n, {sql_dsum('o_totalprice')} AS total
    FROM orders
    WHERE CAST(year(o_orderdate) AS INT) = 1995
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("XS3",),
)
def partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query over the year-partitioned fact: the o_year=1995 predicate prunes
    at the DIRECTORY level (asserted via PartitionFilters in the plan test) —
    the scan never opens the other years' files. This is what makes
    `WHERE collection_week <= X` affordable on a 100 TB fact."""
    return (
        pruned_year_scan(spark, sf_dir)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "total"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# TPC-H Q1 (pricing summary report) — the canonical wide-aggregate scan.
# --------------------------------------------------------------------------


@register(
    "tpch_q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {sql_dsum('l_quantity')} / CAST(COUNT(l_quantity) AS DOUBLE) AS avg_qty,
           {sql_dsum('l_extendedprice')} / CAST(COUNT(l_extendedprice) AS DOUBLE) AS avg_price,
           {sql_dsum('l_discount')} / CAST(COUNT(l_discount) AS DOUBLE) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    bench=True,
    tags=("TPCH1",),
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: one wide hash aggregate over the pushed-down shipdate scan —
    the canonical map-side-partial aggregation benchmark. All sums/avgs go
    through the exact decimal route so the oracle hash matches bitwise.
    spread() undoes the one-row-group fixture so the 6 decimal partial-sums
    per row run on all cores (at 100 TB many input files make it a no-op)."""
    net = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = net * (F.lit(1) + F.col("l_tax"))
    return (
        spread(table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(net, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# TPC-H Q3 / Q5 / Q6 — shipping-priority, local-supplier-volume, forecast.
# --------------------------------------------------------------------------


@register(
    "tpch_q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate  > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    tags=("TPCH3",),
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: segment-filtered 3-way join, revenue per order, top-10.
    Both date predicates push to their scans; the customer filter shrinks
    the broadcast side before the join; the top-10 is TakeOrdered (extra
    l_orderkey tiebreak keeps equal-revenue picks deterministic)."""
    cutoff = F.lit("1995-03-15").cast("timestamp")
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
            "o_orderpriority",
        )
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    net = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(net, "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name AS nation,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY 1
    ORDER BY revenue DESC, nation
    """,
    tags=("TPCH5",),
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: six-way join with the customer=supplier nation constraint.
    Catalyst orders the joins; all dims broadcast; the region filter prunes
    nations before any fact touches them."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = (
        table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = (
        table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    net = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum(net, "revenue"))
        .orderBy(F.desc("revenue"), "nation")
    )


@register(
    "tpch_q6_forecast_revenue",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("TPCH6",),
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure filter + ungrouped aggregate — every predicate reaches
    the Parquet scan (PushedFilters), the whole query is one codegen stage
    plus a single-row final merge. The canonical scan-speed probe."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "tpch_q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey)
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    tags=("TPCH13",),
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (adapted: the o_comment NOT LIKE filter is dropped — the
    testdata orders table carries no comment column): order-count
    distribution over ALL customers, zero-order customers included via the
    left join + COUNT(o_orderkey) (counts non-null keys only). Two-level
    aggregation: the first shuffles on c_custkey, the second on the tiny
    c_count domain — the classic re-aggregation funnel that gets CHEAPER as
    it goes, ideal at 100 TB."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "tpch_q14_promo_revenue",
    oracle=f"""
    SELECT {sql_dsum("CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
             * 100.0
             / {sql_dsum('l_extendedprice * (1 - l_discount)')} AS promo_revenue_pct
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    """,
    tags=("TPCH14",),
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo-revenue share for one ship month. The month filter
    pushes to the lineitem scan; part is the broadcast side (dim ≪ fact at
    every SF), so the join is shuffle-free on the fact; both sums ride one
    aggregate pass through the exact decimal route."""
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    net = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    promo_net = F.when(F.col("p_type").startswith("PROMO"), net).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (dsum(promo_net) * F.lit(100.0) / dsum(net)).alias("promo_revenue_pct")
        )
    )


@register(
    "tpch_q22_global_sales_opportunity",
    oracle=f"""
    SELECT c_nationkey,
           COUNT(*) AS numcust,
           {sql_dsum('c_acctbal')} AS totacctbal
    FROM customer
    WHERE c_acctbal > (
            SELECT {sql_dsum('c_acctbal')} / CAST(COUNT(c_acctbal) AS DOUBLE)
            FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
    tags=("TPCH22",),
)
def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (adapted: grouped by c_nationkey — the testdata customer
    table has no phone column to slice country codes from): above-average-
    balance customers with no order since 1999 (an absolute "never
    ordered" is empty at every SF of this testdata, so the lapsed-customer
    form keeps the anti-join observable). The scalar average is computed
    decimal-exact and joined as a 1-row broadcast (crossJoin of a scalar,
    never a collect), the never-ordered set via LEFT ANTI join on orders —
    both sides shuffle-free on the customer scan at any scale."""
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    avg_pos = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(davg("c_acctbal", "avg_bal"))
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(avg_pos))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, cust.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal", "totacctbal"),
        )
        .orderBy("c_nationkey")
    )


# --------------------------------------------------------------------------
# Dynamic partition pruning: the fact's partition filter is computed AT
# RUNTIME from the dim side of a star join (XS4).
# --------------------------------------------------------------------------


@register(
    "dpp_star_join",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n, {sql_dsum('o_totalprice')} AS total
    FROM orders
    WHERE CAST(year(o_orderdate) AS INT) IN (
      SELECT DISTINCT CAST(year(l_shipdate) AS INT)
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-06-01 00:00:00')
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("XS4",),
)
def dpp_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join with DYNAMIC partition pruning: the year-partitioned fact is
    semi-joined to a runtime-derived dim (ship years under the cutoff), and
    Spark injects `dynamicpruningexpression(o_year IN dynamicpruning#N)`
    into the fact scan's PartitionFilters (plan-asserted) — whole partition
    directories are skipped based on a value set that does not exist until
    the dim side runs. This is the mechanism that makes star-schema queries
    scan months, not the decade, at 100 TB: static pruning (XS3) handles
    literal predicates, DPP handles join-derived ones. Complements XS2
    (bucketing) which removes the shuffle rather than the scan."""
    fact = spark.read.parquet(partitioned_orders_path(spark, sf_dir))
    years = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("2000-06-01").cast("timestamp"))
        .select(F.year("l_shipdate").cast("int").alias("yr"))
        .distinct()
    )
    return (
        fact.join(F.broadcast(years), fact.o_year == years.yr, "semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "total"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# TPC-H Q4 / Q12 / Q18 / Q19, adapted to the testdata schema (no
# commitdate/receiptdate/shipmode/container columns — the late-shipment
# predicate uses shipdate vs orderdate, Q12's mode dimension becomes
# returnflag; join/agg/predicate SHAPES are preserved).
# --------------------------------------------------------------------------


@register(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate <  TIMESTAMP '1995-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("TPCH4",),
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking): orders in one quarter having at
    least one LATE lineitem (shipped >60 days after ordering — the adapted
    commit-vs-receipt predicate), counted per priority. The correlated
    EXISTS becomes a LEFT SEMI join — the fact side streams through the
    probe, duplicates never materialize, and the quarter predicate is pushed
    to the orders scan."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "tpch_q12_priority_lines",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("TPCH12",),
)
def tpch_q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (priority shipping): per returnflag (the adapted shipmode
    dimension), pivoted counts of high- vs low-priority order lines shipped
    in 1996 — the conditional-aggregation (CASE-sum) shape. The year
    predicate pushes to the lineitem scan; the join is fact⋈fact sort-merge
    with only 3 columns read."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_returnflag")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


_Q18_QTY = 250


@register(
    "tpch_q18_large_volume",
    oracle=f"""
    WITH big_orders AS (
      SELECT l_orderkey, {sql_dsum('l_quantity')} AS total_qty
      FROM lineitem
      GROUP BY 1
      HAVING {sql_dsum('l_quantity')} > {_Q18_QTY})
    SELECT c.c_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
           o.o_totalprice, b.total_qty
    FROM big_orders b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
    tags=("TPCH18",),
)
def tpch_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders whose total quantity
    exceeds the threshold, joined back to orders+customer, top-100 by price.
    The HAVING pre-filter runs BEFORE the joins — the aggregate shrinks the
    fact to a few hundred keys, so both joins probe tiny build sides and the
    top-100 compiles to TakeOrderedAndProject. Quantity sums are decimal-
    routed for the cross-engine HAVING boundary (a float sum straddling the
    threshold by 1 ulp would flip row membership)."""
    big = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(dsum("l_quantity", "total_qty"))
        .filter(F.col("total_qty") > _Q18_QTY)
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
        "o_totalprice",
    )
    c = table(spark, sf_dir, "customer").select("c_custkey")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "tpch_q19_discounted_revenue",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    tags=("TPCH19",),
)
def tpch_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): the OR-of-ANDs join predicate — three
    disjoint (brand, size-band, quantity-band) branches over lineitem⋈part.
    Catalyst extracts the common join key (equi-join on partkey, dim
    broadcast) and evaluates the disjunction as a post-join filter, with the
    per-side conjuncts (brand/size on part, quantity on lineitem) derived
    via constraint propagation where possible — the shape that defeats
    naive planners into cross joins."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    branch = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(branch)
        .agg(
            dsum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# XS5 — Z-order clustering key: interleave the bits of two join/filter keys
# into one sort key so a single sorted write clusters the data on BOTH
# dimensions at once. Sorting the fact by z before the parquet write gives
# row-group min/max skipping for predicates on EITHER key — the plain-
# parquet version of Delta/Iceberg OPTIMIZE ZORDER BY.
# --------------------------------------------------------------------------

_Z_BITS = 16  # low 16 bits of each key -> 32-bit z-value


def _z_value(a: F.Column, b: F.Column) -> F.Column:
    """32-bit Morton interleave of the low 16 bits of a (even positions)
    and b (odd positions). Unrolled shifts/masks — integer-exact, inside
    whole-stage codegen, identical formula in the oracle."""
    z = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        z = (
            z
            + F.shiftright(a, i).bitwiseAND(F.lit(1)).cast("long")
            * F.lit(1 << (2 * i)).cast("long")
            + F.shiftright(b, i).bitwiseAND(F.lit(1)).cast("long")
            * F.lit(1 << (2 * i + 1)).cast("long")
        )
    return z


def _sql_z(a: str, b: str) -> str:
    terms = []
    # arguments are parenthesized before interpolation: without it,
    # "x & 65535 >> i" only parses as (x & 65535) >> i because DuckDB
    # happens to give & and >> equal left-associative precedence — a
    # caller passing any lower-precedence expression (or a future C-style
    # oracle engine) would silently compute x & (65535 >> i)
    for i in range(_Z_BITS):
        terms.append(f"((({a}) >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"((({b}) >> {i}) & 1) * {1 << (2 * i + 1)}")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@register(
    "xs5_zorder_layout",
    oracle=f"""
    WITH keyed AS (
      SELECT l_orderkey, l_partkey, l_suppkey,
             {_sql_z("l_partkey & 65535", "l_suppkey & 65535")} AS z
      FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        AND l_suppkey IS NOT NULL)
    SELECT z, l_orderkey, l_partkey, l_suppkey
    FROM keyed
    ORDER BY z, l_orderkey, l_partkey, l_suppkey
    LIMIT 50
    """,
    tags=("XS5",),
)
def xs5_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XS5: Morton (Z-order) clustering key over (l_partkey, l_suppkey) —
    the first 50 rows of the z-sorted fact, proving the interleave is
    bit-identical across engines. In the write path the SAME expression
    drives `df.repartitionByRange(N, "z").sortWithinPartitions("z")
    .write.parquet(...)`: every row group then spans a small z-range,
    i.e. a small rectangle in (partkey, suppkey) space, so parquet
    min/max statistics prune scans filtered on EITHER key — two-
    dimensional data skipping from a one-dimensional sort. The key is
    pure per-row bit math (no shuffle of its own); the range partition
    of the write is the only exchange."""
    # Rows missing any layout key are NOT layout-eligible by contract: a
    # NULL key makes z NULL (sorted at opposite ends by the two engines,
    # flipping the LIMIT set) and a NULL tie-break column does the same
    # among equal-z rows. Real writers quarantine key-less rows before
    # clustering (TPC-H adversarial gate).
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey")
        .filter(
            F.col("l_orderkey").isNotNull()
            & F.col("l_partkey").isNotNull()
            & F.col("l_suppkey").isNotNull()
        )
    )
    z = _z_value(
        F.col("l_partkey").bitwiseAND(F.lit(65535)),
        F.col("l_suppkey").bitwiseAND(F.lit(65535)),
    )
    return (
        li.select(z.alias("z"), "l_orderkey", "l_partkey", "l_suppkey")
        .orderBy("z", "l_orderkey", "l_partkey", "l_suppkey")
        .limit(50)
    )


# --------------------------------------------------------------------------
# W7 — SCD Type-2 interval build over the per-user rating history. The
# reference keeps quality ratings as an append-only history table and
# derives "latest" at query time (Phase1_updated.ipynb cell-10 DDL;
# weekly-report.py:308-331 DISTINCT ON). The other standard consumption
# shape is the slowly-changing-dimension view: collapse consecutive equal
# ratings into validity intervals [valid_from, valid_to) with an is_current
# flag — what a warehouse would materialize to join facts AS OF any date.
# --------------------------------------------------------------------------


@register(
    "w7_scd2_rating_intervals",
    oracle="""
    WITH hist AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             (abs(CAST(floor(value) AS BIGINT)) % 5) + 1 AS rating
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL AND event_id IS NOT NULL),
    changes AS (
      SELECT user_id, ts, event_id, rating,
             LAG(rating) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_rating
      FROM hist),
    scd AS (
      SELECT user_id, rating, ts AS valid_from,
             LEAD(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS version
      FROM changes
      WHERE prev_rating IS NULL OR rating <> prev_rating)
    SELECT user_id, rating, valid_from, valid_to, version,
           valid_to IS NULL AS is_current
    FROM scd
    ORDER BY user_id, version
    """,
    tags=("W7",),
)
def w7_scd2_rating_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7: SCD-2 validity intervals per user — each run of consecutive equal
    ratings becomes one row [valid_from, valid_to) with a version number and
    an is_current flag (valid_to IS NULL on the open interval).

    Two stacked windows, both partitioned by user_id: (1) LAG change
    detection keeps only rows where the rating differs from its
    predecessor; (2) LEAD over the surviving change-points closes each
    interval with the next one's start. Scale posture: user_id is
    high-cardinality, so both windows sort within small per-user groups
    after ONE hash exchange (the second window reuses the first's
    partitioning — no extra shuffle), and no global window exists anywhere.
    Ordering is total per user — ties on ts broken by event_id — so the
    survivor set is deterministic (same contract as R3's DISTINCT ON
    replacement, report.py). Null ts/value rows are dropped up front,
    mirrored by the oracle's WHERE, pinning the NULLS FIRST/LAST divergence
    the sessionize operators document (streaming_batch.py).
    """
    hist = (
        table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("value").isNotNull()
            & F.col("event_id").isNotNull()  # ties order by event_id; Spark
            # sorts NULLS FIRST, DuckDB NULLS LAST — pin it out (same
            # contract as the sessionize operators)
        )
        .select(
            "user_id",
            "ts",
            "event_id",
            (F.abs(F.floor("value").cast("bigint")) % 5 + 1).alias("rating"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    change_points = (
        hist.withColumn("prev_rating", F.lag("rating").over(w))
        .filter(
            F.col("prev_rating").isNull()
            | (F.col("rating") != F.col("prev_rating"))
        )
    )
    return (
        change_points.select(
            "user_id",
            "rating",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.row_number().over(w).cast("long").alias("version"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
        .orderBy("user_id", "version")
    )


# --------------------------------------------------------------------------
# XA6 — ordered-set aggregates: deterministic MODE + exact MEDIAN by group.
# Spark's F.mode and DuckDB's mode() both break frequency ties in
# nondeterministic (encounter) order, so the differential contract uses the
# explicit count -> rank formulation with a total tie-break (count DESC,
# value ASC) — the only mode definition that is reproducible at all. The
# median of an integer column is an exact order statistic (x or x.5), so
# Spark's F.median and DuckDB's median agree bit-for-bit.
# --------------------------------------------------------------------------


@register(
    "xa6_mode_median_by_group",
    oracle="""
    WITH rated AS (
      SELECT event_type,
             (abs(CAST(floor(value) AS BIGINT)) % 5) + 1 AS rating
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL),
    freq AS (
      SELECT event_type, rating, COUNT(*) AS cnt
      FROM rated GROUP BY 1, 2),
    ranked AS (
      SELECT event_type, rating, cnt,
             ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY cnt DESC, rating ASC) AS rnk
      FROM freq),
    med AS (
      SELECT event_type,
             CAST(median(rating) AS DOUBLE) AS median_rating,
             COUNT(*) AS n
      FROM rated GROUP BY 1)
    SELECT m.event_type,
           r.rating AS mode_rating,
           r.cnt AS mode_count,
           m.median_rating,
           m.n
    FROM med m
    JOIN ranked r ON m.event_type = r.event_type AND r.rnk = 1
    ORDER BY m.event_type
    """,
    tags=("XA6",),
)
def xa6_mode_median_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XA6: per event type, the most frequent rating (deterministic mode:
    frequency ties broken by the smaller rating) and the exact median
    rating.

    Mode is count -> row_number(cnt DESC, rating ASC) = 1: one keyed
    aggregation plus a window over the tiny (event_type, rating) frequency
    frame — never a per-group sort of raw data. Median uses F.median
    (exact single-pass order statistic; at 100 TB swap for
    percentile_approx if the per-group value sets outgrow memory — the
    frequency-table route here already reduces before any ranking).
    """
    rated = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "event_type",
            (F.abs(F.floor("value").cast("bigint")) % 5 + 1).alias("rating"),
        )
    )
    freq = rated.groupBy("event_type", "rating").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("cnt"), F.asc("rating")
    )
    mode = (
        freq.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "event_type",
            F.col("rating").alias("mode_rating"),
            F.col("cnt").alias("mode_count"),
        )
    )
    med = rated.groupBy("event_type").agg(
        F.median("rating").cast("double").alias("median_rating"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        med.join(mode, "event_type")
        .select(
            "event_type", "mode_rating", "mode_count", "median_rating", "n"
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# XS6 — explicit Bloom-filter semi-join reduction. Spark's optimizer CAN
# inject a runtime bloom filter (spark.sql.optimizer.runtime.bloomFilter.*),
# but only under a shuffle join whose application side exceeds a multi-GB
# scan threshold — conditions a correctness-gate-sized input never meets
# and that per-query session mutation shouldn't force. So the 100 TB
# pattern is built explicitly from relational parts: hash the build-side
# keys into a BITMAP RELATION (word_index -> bit_or of masks, ~2k rows),
# broadcast it, prune the probe side map-only with two bitwise membership
# probes, then run the exact semi-join over the survivors. The bloom stage
# only ever REMOVES definite non-members (false positives survive to the
# exact join), so the composition is semantically a plain semi-join — which
# is exactly what the oracle states.
# --------------------------------------------------------------------------

_BLOOM_BITS = 1 << 17  # 131072 bits = 2048 x 64-bit words
_BLOOM_P = 2_147_483_647  # Mersenne prime 2^31 - 1; (k % P) * A stays < 2^62
_BLOOM_HASHES = ((2_654_435_761, 1_013_904_223), (40_503, 69_621))


def _with_bloom_probe(df: DataFrame, key_col: str, i: int) -> DataFrame:
    """Append pw{i} (word index) and pm{i} (bit mask) for hash i of the key
    column — pure integer Column arithmetic, engine-agnostic."""
    a, b = _BLOOM_HASHES[i]
    pos = ((F.col(key_col) % _BLOOM_P) * F.lit(a) + F.lit(b)) % _BLOOM_P % _BLOOM_BITS
    return (
        df.withColumn(f"_pos{i}", pos)
        .withColumn(f"pw{i}", F.expr(f"_pos{i} div 64"))
        .withColumn(f"pm{i}", F.expr(f"shiftleft(1L, cast(_pos{i} % 64 as int))"))
        .drop(f"_pos{i}")
    )


def bloom_prefiltered_lineitem(spark: SparkSession, sf_dir: str):
    """(pruned lineitem frame, urgent-order keys frame) — exposed for the
    pruning-effectiveness test. The pruned frame still contains bloom false
    positives; callers MUST finish with the exact semi-join."""
    urgent = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    bloom_words = None
    for i in range(len(_BLOOM_HASHES)):
        part = _with_bloom_probe(urgent, "o_orderkey", i).select(
            F.col(f"pw{i}").alias("word"), F.col(f"pm{i}").alias("mask")
        )
        bloom_words = part if bloom_words is None else bloom_words.unionAll(part)
    bloom = bloom_words.groupBy("word").agg(
        F.expr("bit_or(mask)").alias("words")
    )
    pruned = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    for i in range(len(_BLOOM_HASHES)):
        b = F.broadcast(
            bloom.select(
                F.col("word").alias(f"w{i}"), F.col("words").alias(f"ws{i}")
            )
        )
        pruned = (
            _with_bloom_probe(pruned, "l_orderkey", i)
            .join(b, F.col(f"pw{i}") == F.col(f"w{i}"), "inner")
            .filter(F.col(f"pm{i}").bitwiseAND(F.col(f"ws{i}")) != 0)
            .drop(f"pw{i}", f"pm{i}", f"w{i}", f"ws{i}")
        )
    return pruned, urgent


@register(
    "xs6_bloom_prefilter_join",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           {sql_dsum("l_extendedprice * (1 - l_discount)")} AS urgent_revenue
    FROM lineitem
    WHERE l_orderkey IN (
      SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
    """,
    tags=("XS6",),
)
def xs6_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XS6: revenue of lineitems belonging to URGENT orders, computed as
    broadcast-bloom prune -> exact semi-join.

    The build side collapses to a ~2048-row bitmap relation regardless of
    key count; broadcasting it costs ~16 KB where broadcasting the key SET
    would cost 8 bytes/key (prohibitive at 100 TB build sides). The probe
    side is then filtered map-only — two integer hashes + bitwise AND
    against the broadcast bitmap, inside whole-stage codegen — before the
    only shuffle, so the exact semi-join sees ~priority-selectivity x
    (1 + false-positive rate) of the fact table instead of all of it. The
    multiplicative-mod hashes are engine-agnostic integer arithmetic (no
    xxhash64 cross-engine dependency), and correctness never depends on
    their quality: the final semi-join removes every false positive, which
    is why the oracle is the plain IN-subquery.
    """
    pruned, urgent = bloom_prefiltered_lineitem(spark, sf_dir)
    survivors = pruned.join(urgent, pruned.l_orderkey == urgent.o_orderkey, "semi")
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return survivors.agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum(rev, "urgent_revenue"),
    )


# --------------------------------------------------------------------------
# XA9 — per-group closed-form OLS trend: the grouped model-fit pattern as
# pure relational algebra. slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) needs
# only five mergeable sums per group — no grouped-map UDF, no per-group
# iteration — so it scales exactly like any keyed aggregation. x is whole
# seconds since 2024-01-01 (integer-exact); the y-sums ride the decimal
# route; the final slope arithmetic is a fixed dag of single IEEE ops over
# engine-identical inputs, hence bit-stable.
# --------------------------------------------------------------------------

_TREND_EPOCH = "2024-01-01 00:00:00"
_TREND_TOP_K = 10


@register(
    "xa9_user_value_trend",
    oracle=f"""
    WITH pts AS (
      SELECT user_id,
             {sql_floordiv(f"epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(TIMESTAMP '{_TREND_EPOCH}')", 60_000_000)} AS x,
             CAST(value AS DOUBLE) AS y
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL AND user_id IS NOT NULL),
    sums AS (
      SELECT user_id,
             COUNT(*) AS n,
             SUM(x) AS sx,
             SUM(x * x) AS sxx,
             {sql_dsum("y")} AS sy,
             {sql_dsum("x * y", scale=6)} AS sxy
      FROM pts GROUP BY 1
      HAVING COUNT(*) >= 2 AND COUNT(*) * SUM(x * x) > SUM(x) * SUM(x))
    SELECT user_id, n,
           (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
    FROM sums
    ORDER BY slope DESC, user_id
    LIMIT {_TREND_TOP_K}
    """,
    tags=("XA9",),
)
def xa9_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XA9: the 10 users whose event values trend up most steeply —
    per-user least-squares slope from five mergeable sums (module
    comment).

    One keyed aggregation with map-side partial sums, then scalar
    arithmetic on the group rows and a TakeOrderedAndProject top-10: the
    entire 'fit a model per group' step costs the same as a SUM per
    group, which is why closed-form fits beat grouped-map UDFs wherever
    they exist. x stays integer (whole minutes, exact in BIGINT through
    sxx and sx*sx with wide headroom); y-sums go through DECIMAL(38,6);
    degenerate groups
    (single point, or all points in one second) are excluded by the
    HAVING guard on the denominator."""
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
            # boundary count diverges from floor for sub-minute timestamps
            # BEFORE the epoch (adversarial gate finding), and
            # floor(double-division) can misbucket near boundaries. Minute
            # grain keeps sx*sx and n*sxx ~3600x further from int64
            # overflow than second grain at the same event volume.
            floordiv(
                F.unix_micros("ts")
                - F.unix_micros(F.lit(_TREND_EPOCH).cast("timestamp")),
                60_000_000,
            ).alias("x"),
            F.col("value").cast("double").alias("y"),
        )
    )
    sums = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            dsum("y", "sy"),
            dsum(F.col("x") * F.col("y"), "sxy", scale=6),
        )
        .filter(
            (F.col("n") >= 2)
            & (F.col("n") * F.col("sxx") > F.col("sx") * F.col("sx"))
        )
    )
    slope = (
        F.col("n").cast("double") * F.col("sxy")
        - F.col("sx").cast("double") * F.col("sy")
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return (
        sums.select("user_id", "n", slope.alias("slope"))
        .orderBy(F.desc("slope"), F.asc("user_id"))
        .limit(_TREND_TOP_K)
    )


# --------------------------------------------------------------------------
# XA10 — event-transition matrix: per-user successor counts rolled up into
# the (from, to) Markov transition table with row-normalized shares — the
# sequence-modeling prep step (n-gram/transition statistics over event
# streams) and the batch complement of ST7's per-session path strings.
# --------------------------------------------------------------------------


@register(
    "xa10_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL
        AND user_id IS NOT NULL AND event_id IS NOT NULL),
    trans AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2),
    totals AS (
      SELECT prev_type, SUM(n) AS row_total FROM trans GROUP BY 1)
    SELECT t.prev_type, t.next_type, t.n,
           CAST(t.n AS DOUBLE) / CAST(x.row_total AS DOUBLE) AS p
    FROM trans t JOIN totals x ON t.prev_type = x.prev_type
    ORDER BY t.prev_type, t.next_type
    """,
    tags=("XA10",),
)
def xa10_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XA10: (from, to) transition counts and row-normalized probabilities
    over each user's chronologically ordered event stream (ties broken by
    event_id, the same total order every sequence operator here pins).

    One user-partitioned LAG window (high-cardinality key, single hash
    exchange) reduces the stream to successor pairs; the transition table
    is then a 25-row aggregate and the row totals broadcast back for the
    exact-int share division. At 100 TB only the window stage is
    fact-sized — the matrix itself is |event_types|^2."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_id").isNotNull()  # tie-break column: pin the
            # NULLS FIRST/LAST divergence out
        )
        .select("user_id", "ts", "event_id", "event_type")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = trans.groupBy("prev_type").agg(F.sum("n").alias("row_total"))
    return (
        trans.join(F.broadcast(totals), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            (F.col("n").cast("double") / F.col("row_total").cast("double")).alias("p"),
        )
        .orderBy("prev_type", "next_type")
    )


# --------------------------------------------------------------------------
# XA11 — per-user peak event rate via a time-RANGE window frame: for every
# event, how many of the same user's events fall in the trailing hour
# (RANGE BETWEEN <interval> PRECEDING AND CURRENT ROW — the one window
# frame shape no other operator here exercises), rolled up to the per-user
# peak and a quota flag. This is the batch form of rate-limit / abuse
# auditing over an event log.
# --------------------------------------------------------------------------

_RATE_WINDOW_US = 3_600_000_000  # trailing 1 hour, in microseconds
_RATE_QUOTA = 3  # events/hour at-or-above this peak flags the user


@register(
    "xa11_peak_event_rate",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS x
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    win AS (
      SELECT user_id,
             CAST(COUNT(*) OVER (
               PARTITION BY user_id ORDER BY x
               RANGE BETWEEN {_RATE_WINDOW_US} PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS in_hour
      FROM ev)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(in_hour) AS peak_1h,
           MAX(in_hour) >= {_RATE_QUOTA} AS quota_exceeded
    FROM win GROUP BY 1
    ORDER BY user_id
    """,
    tags=("XA11",),
)
def xa11_peak_event_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XA11: per-user peak trailing-1h event count and quota flag.

    The RANGE frame anchors on integer epoch microseconds, so the frame
    boundary arithmetic is exact in both engines, and RANGE's
    peer-inclusive CURRENT ROW semantics make the per-row count a pure
    function of the group's multiset of timestamps — equal-ts rows get
    identical counts regardless of arrival order, so the result is
    partition- and rerun-invariant by construction.

    Scale shape: ONE hash exchange on user_id serves both the window sort
    and the following per-user max/count aggregation (same key, Catalyst
    reuses the partitioning); the only other exchange is the presentation
    sort of the per-user result. No driver-side work, no Python. At 100 TB
    the key is the high-cardinality user id, so no partition outgrows an
    executor; a skewed celebrity user degrades to one fat sorted partition,
    the same posture as every sessionization operator here."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", F.unix_micros("ts").alias("x"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("x")
        .rangeBetween(-_RATE_WINDOW_US, Window.currentRow)
    )
    win = ev.withColumn("in_hour", F.count(F.lit(1)).over(w).cast("long"))
    return (
        win.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("in_hour").alias("peak_1h"),
        )
        .select(
            "user_id",
            "n_events",
            "peak_1h",
            (F.col("peak_1h") >= F.lit(_RATE_QUOTA)).alias("quota_exceeded"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# XA12 — per-user interval-overlap audit via the sweep-line (+1/-1) trick:
# each event opens an interval [ts, ts + value seconds]; exploding every
# interval into a start (+1) and end (-1) point and running a partitioned
# cumulative sum over (t, d) gives the concurrency depth at every boundary.
# MAX(depth) >= 2 means the user has overlapping intervals — the classic
# max-concurrency / double-booking query, done with one exchange instead
# of the quadratic interval self-join.
# --------------------------------------------------------------------------

_OVERLAP_MIN_DEPTH = 2


@register(
    "xa12_interval_overlap",
    oracle=f"""
    WITH iv AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS s,
             epoch_us(CAST(ts AS TIMESTAMP))
               + CAST(FLOOR(CAST(value AS DOUBLE) * 1000000) AS BIGINT) AS e
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL AND user_id IS NOT NULL),
    pts AS (
      SELECT user_id, s AS t, 1 AS d FROM iv
      UNION ALL
      SELECT user_id, e AS t, -1 AS d FROM iv),
    sweep AS (
      SELECT user_id, d,
             CAST(SUM(d) OVER (
               PARTITION BY user_id ORDER BY t, d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS depth
      FROM pts)
    SELECT user_id,
           CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_intervals,
           MAX(depth) AS max_concurrent,
           MAX(depth) >= {_OVERLAP_MIN_DEPTH} AS overlapped
    FROM sweep GROUP BY 1
    ORDER BY user_id
    """,
    tags=("XA12",),
)
def xa12_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XA12: does any user's activity intervals overlap, and how deeply?
    Each event spans [ts, ts + value seconds] (duration floored to whole
    microseconds — FLOOR in both engines, never a bare double->int cast,
    whose rounding direction differs between Spark (truncate) and DuckDB
    (round-half-even)).

    Determinism with ties: ordering by (t, d) puts ends (-1) before starts
    (+1) at the same instant, so back-to-back intervals never count as
    overlapping; among equal (t, d) peers all deltas have the same sign,
    so the running sum visits the same set of values in any peer order —
    MAX(depth) and the +1 count are order-invariant even under the ROWS
    frame.

    Scale shape: the union doubles the rows map-side (no exchange), then
    ONE hash exchange on user_id drives the sweep sort and the per-user
    aggregate (same key, partitioning reused); the alternative interval
    self-join is O(n^2) per user and needs the same shuffle anyway. The
    n_intervals count rides the sweep rows (d = +1) so no second pass
    over the input and no join."""
    iv = (
        table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("value").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .select(
            "user_id",
            F.unix_micros("ts").alias("s"),
            (
                F.unix_micros("ts")
                + F.floor(F.col("value").cast("double") * F.lit(1_000_000.0)).cast(
                    "long"
                )
            ).alias("e"),
        )
    )
    pts = iv.select(
        "user_id", F.col("s").alias("t"), F.lit(1).alias("d")
    ).unionByName(iv.select("user_id", F.col("e").alias("t"), F.lit(-1).alias("d")))
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sweep = pts.withColumn("depth", F.sum("d").over(w).cast("long"))
    return (
        sweep.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("d") == 1, F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_intervals"),
            F.max("depth").alias("max_concurrent"),
        )
        .select(
            "user_id",
            "n_intervals",
            "max_concurrent",
            (F.col("max_concurrent") >= F.lit(_OVERLAP_MIN_DEPTH)).alias(
                "overlapped"
            ),
        )
        .orderBy("user_id")
    )
