"""TPC-H Q2/Q7-Q11/Q15-Q17/Q20/Q21, adapted to the testdata schema.

Completes the 22-query TPC-H suite (Q1/Q3-Q6/Q12-Q14/Q18/Q19/Q22 live in
``windows_scale.py``). The testdata has no ``partsupp`` table and no
commitdate/receiptdate/container/mfgr/phone columns, so:

- the part-supplier bridge (Q2/Q11/Q16/Q20) is derived from the distinct
  ``(l_partkey, l_suppkey)`` pairs actually traded in ``lineitem``, with
  ``MIN(l_extendedprice / l_quantity)`` as the supply-cost proxy and
  ``l_extendedprice * l_quantity`` as the stock-value proxy;
- "late" (Q21) means shipped >90 days after ordering (vs receipt>commit);
- Q9's supply cost is ``0.6 * p_retailprice``; Q17 filters brand+size
  instead of brand+container; Q16's "complaint" suppliers are the
  negative-balance ones.

Join/aggregate/subquery SHAPES are preserved: Q2's correlated min, Q8's
conditional-share ratio, Q11's HAVING-vs-scalar, Q15's view + scalar max,
Q16's NOT IN + COUNT(DISTINCT), Q17's correlated per-part average, Q20's
nested IN with HAVING, Q21's EXISTS / NOT EXISTS pair.

Dates are shifted into the testdata's 1995-2001 span and nation literals
use its NATION_n domain. Every cross-row double SUM/AVG goes through the
exact decimal route (``functions/exact.py``) so both engines agree bitwise;
MIN/MAX/equality over doubles are order-independent and need no routing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import davg, dsum, sql_davg, sql_dsum
from ..registry import register
from ..sources import table


def _regional_suppliers(spark: SparkSession, sf_dir: str, region: str) -> DataFrame:
    """supplier ⋈ nation ⋈ region, filtered to one region — a ≤100-row dim
    at any SF that every consumer broadcasts."""
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = (
        table(spark, sf_dir, "region")
        .filter(F.col("r_name") == region)
        .select("r_regionkey")
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )


# --------------------------------------------------------------------------
# Q2 — minimum-cost supplier (correlated MIN subquery).
# --------------------------------------------------------------------------


@register(
    "tpch_q2_min_cost_supplier",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY 1, 2),
    eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE')
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name, unit_cost
    FROM part
    JOIN ps ON p_partkey = ps.l_partkey
    JOIN eu ON ps.l_suppkey = eu.s_suppkey
    WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
      AND unit_cost = (
        SELECT MIN(unit_cost)
        FROM ps ps2 JOIN eu eu2 ON ps2.l_suppkey = eu2.s_suppkey
        WHERE ps2.l_partkey = p_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    tags=("TPCH2",),
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2: cheapest EUROPE supplier per qualifying part. The filtered
    part dim broadcasts FIRST, so unit costs are only aggregated for the
    ~1-2% of lineitem rows touching qualifying parts (per-part independence
    makes the early restriction exact); the correlated MIN becomes a
    groupBy + equality join back. MIN over doubles is order-independent, so
    the float equality is bit-safe across engines without decimal routing."""
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_size").between(10, 20) & (F.col("p_type") == "LARGE"))
        .select("p_partkey", "p_name")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    ps = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey", "p_name")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    eu = _regional_suppliers(spark, sf_dir, "EUROPE")
    regional = ps.join(F.broadcast(eu), ps.l_suppkey == eu.s_suppkey)
    best = regional.groupBy(F.col("l_partkey").alias("bk")).agg(
        F.min("unit_cost").alias("best_cost")
    )
    return (
        regional.join(
            best,
            (regional.l_partkey == best.bk)
            & (regional.unit_cost == best.best_cost),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            "unit_cost",
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q7 — volume shipping between two nations.
# --------------------------------------------------------------------------


@register(
    "tpch_q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year, {sql_dsum('volume')} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    ) shipping
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
    tags=("TPCH7",),
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume by year between two nations. The
    nation pair is an OR-of-ANDs over the two nation dims evaluated after
    both broadcast joins; the shipdate window pushes to the lineitem scan.
    The only shuffle on fact data is the lineitem⋈orders sort-merge."""
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1997-12-31").cast("timestamp")
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").between(lo, hi))
        .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("nk1"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("nk2"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(dsum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# Q8 — national market share.
# --------------------------------------------------------------------------


@register(
    "tpch_q8_market_share",
    oracle=f"""
    SELECT o_year,
           {sql_dsum("CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END")}
             / {sql_dsum('volume')} AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    ) all_nations
    GROUP BY o_year ORDER BY o_year
    """,
    tags=("TPCH8",),
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_3's share of AMERICA's ECONOMY-part import volume per
    year — the conditional-share (ratio of two sums with a CASE numerator)
    shape. Both sums are decimal-routed and divided once in double, so the
    engines' quotients are bit-identical. part/supplier/nation/region all
    broadcast; the part filter prunes lineitem before the fact-fact join."""
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1997-12-31").cast("timestamp")
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").between(lo, hi))
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk1"), F.col("n_regionkey").alias("nrk1")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("nation")
    )
    r = (
        table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "AMERICA")
        .select("r_regionkey")
    )
    volume = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    share_num = F.when(F.col("nation") == "NATION_3", volume).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("nk1"))
        .join(F.broadcast(r), F.col("nrk1") == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("nk2"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg((dsum(share_num) / dsum(volume)).alias("mkt_share"))
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# Q9 — product-type profit (supply cost proxied by p_retailprice).
# --------------------------------------------------------------------------


@register(
    "tpch_q9_product_profit",
    oracle=f"""
    SELECT nation, o_year, {sql_dsum('amount')} AS sum_profit
    FROM (
      SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount)
               - 0.6 * p_retailprice * l_quantity AS amount
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY 1, 2
    ORDER BY nation, o_year DESC
    """,
    tags=("TPCH9",),
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9: profit on red parts by supplier nation and order year, with
    supply cost proxied as 60% of p_retailprice (no partsupp table). The
    per-row amount keeps the oracle's exact operand order (0.6 * retail *
    qty, left-to-right) so the doubles match bitwise before the decimal-
    routed sum. The name LIKE prunes via the broadcast part dim."""
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name").alias("nation"))
    amount = (
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("nation", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(dsum(amount, "sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


# --------------------------------------------------------------------------
# Q10 — returned-item reporting.
# --------------------------------------------------------------------------


@register(
    "tpch_q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("TPCH10",),
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by revenue lost to returns in one
    quarter. Both filters (quarter on orders, returnflag on lineitem) push
    to their scans; the top-20 is TakeOrdered with a c_custkey tiebreak so
    equal-revenue picks are deterministic across engines."""
    o = (
        table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    net = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(net, "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q11 — important stock identification (HAVING vs scalar fraction).
# --------------------------------------------------------------------------


@register(
    "tpch_q11_important_stock",
    oracle=f"""
    WITH scoped AS (
      SELECT l_partkey, l_extendedprice * l_quantity AS value
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA')
    SELECT l_partkey AS ps_partkey, {sql_dsum('value')} AS part_value
    FROM scoped
    GROUP BY 1
    HAVING {sql_dsum('value')} > (
      SELECT {sql_dsum('value')} * 2.0 / COUNT(DISTINCT l_partkey)
      FROM scoped)
    ORDER BY part_value DESC, ps_partkey
    """,
    tags=("TPCH11",),
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11: parts whose ASIA-supplied traded value exceeds TWICE the
    mean per-part value — per-group sum vs a scalar-subquery threshold.
    Stock value is proxied by l_extendedprice * l_quantity (no partsupp).

    The spec's FRACTION is 0.0001/SF — it SCALES with data size precisely
    so the predicate stays selective-but-nonempty; a fixed 0.001 went
    vacuous at sf0.1 (part count grows 10x, every share shrinks below the
    bar — caught by running the non-vacuity gate at sf0.1). 2x-the-mean is
    the scale-free restatement: 19/91/957 rows at sf0.001/0.01/0.1. Both
    the per-part and total sums ride one shuffle each over the
    region-pruned fact; the scalar joins back as a 1-row broadcast, never
    a collect. The threshold arithmetic stays sum * 2.0 / n_parts in that
    exact order to mirror the oracle bit-for-bit."""
    asia = _regional_suppliers(spark, sf_dir, "ASIA").select("s_suppkey")
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    scoped = li.join(F.broadcast(asia), li.l_suppkey == asia.s_suppkey).select(
        "l_partkey", (F.col("l_extendedprice") * F.col("l_quantity")).alias("value")
    )
    per_part = scoped.groupBy(F.col("l_partkey").alias("ps_partkey")).agg(
        dsum("value", "part_value")
    )
    threshold = scoped.agg(
        (
            dsum("value") * F.lit(2.0)
            / F.countDistinct("l_partkey").cast("double")
        ).alias("threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(threshold))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("ps_partkey", "part_value")
        .orderBy(F.desc("part_value"), "ps_partkey")
    )


# --------------------------------------------------------------------------
# Q15 — top supplier (revenue view + scalar MAX).
# --------------------------------------------------------------------------


@register(
    "tpch_q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY 1)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
    tags=("TPCH15",),
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue — the
    view-then-scalar-MAX shape. The revenue frame is computed ONCE and
    reused for both the scalar and the equality filter (Spark reuses the
    exchange; no recompute); the max arrives as a 1-row broadcast. Equality
    of decimal-routed doubles is exact, so ties surface identically on both
    engines rather than picking an arbitrary winner."""
    rev = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            dsum(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")),
                "total_revenue",
            )
        )
    )
    best = rev.agg(F.max("total_revenue").alias("best_rev"))
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("best_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# Q16 — parts/supplier relationship (NOT IN + COUNT DISTINCT).
# --------------------------------------------------------------------------


@register(
    "tpch_q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) bridge
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    tags=("TPCH16",),
)
def tpch_q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16: distinct supplier counts per (brand, type, size) over the
    traded part-supplier bridge, excluding complaint suppliers (proxied by
    negative balance; the bridge is the distinct (l_partkey, l_suppkey)
    pairs — no partsupp table). The NOT IN becomes a broadcast LEFT ANTI
    join (safe: s_acctbal is never NULL here, so NOT IN's three-valued
    trap doesn't bite); the part filter broadcasts BEFORE the bridge
    distinct — the filter is per-partkey, so distinct-of-filtered equals
    filtered-distinct, and pruning first shrinks the distinct shuffle (the
    query's dominant exchange) by the part filter's selectivity instead of
    shuffling every traded pair and discarding most of them afterwards
    (the same prune-before-the-heavy-shuffle move as Q2/Q17)."""
    p = (
        table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#5")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bridge = (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"), "semi")
        .distinct()
    )
    bad = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        bridge.join(F.broadcast(p), bridge.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), bridge.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# --------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (correlated per-part average).
# --------------------------------------------------------------------------


@register(
    "tpch_q17_small_qty_revenue",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice')} / 7.0 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3' AND p_size < 10
      AND l_quantity < (
        SELECT 0.2 * ({sql_davg('l_quantity')})
        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
    tags=("TPCH17",),
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue that would be lost by refusing below-one-fifth-of-
    average-quantity orders for one brand's small parts (size<10 replaces
    the missing container filter). The correlated per-part AVG becomes a
    broadcast-pruned groupBy joined back on partkey; the 0.2 multiplier is
    applied OUTSIDE the parenthesized average exactly as the oracle does,
    keeping the comparison threshold bit-identical. Per-part independence
    makes restricting the average to qualifying parts exact."""
    p = (
        table(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#3") & (F.col("p_size") < 10))
        .select("p_partkey")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    scoped = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    thresholds = scoped.groupBy(F.col("l_partkey").alias("tk")).agg(
        (F.lit(0.2) * davg("l_quantity")).alias("qty_cutoff")
    )
    return (
        scoped.join(F.broadcast(thresholds), scoped.l_partkey == F.col("tk"))
        .filter(F.col("l_quantity") < F.col("qty_cutoff"))
        .agg((dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


# --------------------------------------------------------------------------
# Q20 — potential part promotion (nested IN with HAVING).
# --------------------------------------------------------------------------


@register(
    "tpch_q20_part_promotion",
    oracle=f"""
    SELECT s_name, s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE '%blue%'
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY l_suppkey
        HAVING {sql_dsum('l_quantity')} > 400)
    ORDER BY s_name
    """,
    tags=("TPCH20",),
)
def tpch_q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20: EUROPE suppliers who moved >400 units of blue parts in
    1996 — the nested IN-with-HAVING shape (availqty replaced by shipped
    quantity; no partsupp). The inner aggregate runs over the name- and
    date-pruned fact, then the qualifying-supplier set drives a LEFT SEMI
    join against the ≤100-row regional supplier dim. The HAVING boundary is
    decimal-routed: a float sum one ulp either side of 400 would otherwise
    flip membership between engines."""
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%blue%"))
        .select("p_partkey")
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    movers = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(dsum("l_quantity", "qty"))
        .filter(F.col("qty") > 400)
        .select("l_suppkey")
    )
    eu = _regional_suppliers(spark, sf_dir, "EUROPE")
    return (
        eu.join(movers, eu.s_suppkey == movers.l_suppkey, "semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


# --------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (EXISTS / NOT EXISTS pair).
# --------------------------------------------------------------------------


@register(
    "tpch_q21_waiting_suppliers",
    oracle="""
    WITH late AS (
      SELECT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
        AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
    SELECT s_name, COUNT(*) AS numwait
    FROM late l1
    JOIN supplier ON l1.l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    tags=("TPCH21",),
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21: ASIA suppliers who were the SOLE late shipper on finished
    multi-supplier orders ("late" = shipped >90 days after ordering; the
    testdata has no commit/receipt dates). The correlated EXISTS becomes a
    LEFT SEMI and the NOT EXISTS a LEFT ANTI, each an equi-join on orderkey
    with the supplier-inequality as a residual condition — no cross
    products. The late set is computed once and reused for both l1 and l3;
    the ≤100-row regional supplier dim broadcasts before the heavy
    semi/anti probes so only ASIA's late lines pay them."""
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    asia = _regional_suppliers(spark, sf_dir, "ASIA").select("s_suppkey", "s_name")
    l1 = late.join(F.broadcast(asia), late.l_suppkey == asia.s_suppkey)
    l2 = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    )
    l3 = late.select(F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3"))
    return (
        l1.join(
            l2,
            (l1.l_orderkey == F.col("ok2")) & (l1.l_suppkey != F.col("sk2")),
            "semi",
        )
        .join(
            l3,
            (l1.l_orderkey == F.col("ok3")) & (l1.l_suppkey != F.col("sk3")),
            "anti",
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )
