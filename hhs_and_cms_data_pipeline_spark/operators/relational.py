"""Relational operator coverage for SURVEY §2 IDs not already exercised by the
report pack: scans (S3), projections/filters (P1-P6), joins (J5-J7), windows
(W3), sorts (T1, T6), dedup (U1, U3/K3), scalar functions (F1-F16).

Each entry cites the reference site it re-expresses. All are pure built-in
Column expressions — zero Python UDFs (SURVEY §2.11: none are needed for
parity, which is what keeps the hot path inside whole-stage codegen at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import davg, dsum, round1, sql_davg, sql_dsum, sql_round1
from ..registry import register
from ..sources import table
from .report import CUTOFF, _SQL_CUTOFF

# --------------------------------------------------------------------------
# S3 — table scan (weekly-report.py:31-51 execute_query SELECT *).
# --------------------------------------------------------------------------


def orders_with_state(spark: SparkSession, sf_dir: str, *order_cols: str) -> DataFrame:
    """Orders joined to their customer's nation-as-state — the shared
    dim scaffold of the report-domain queries (w3/t6/f15 here, r5/r6 in
    report.py use the same shape): project only the requested order
    columns, equi-join customer, broadcast-join nation aliased to
    ``state``. One definition so the projection/broadcast policy cannot
    drift between copies."""
    o = table(spark, sf_dir, "orders").select("o_custkey", *order_cols)
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("state")
    )
    return o.join(c, o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )

@register(
    "s3_table_scan",
    oracle="SELECT r_regionkey, r_name FROM region",
    tags=("S3",),
)
def s3_table_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain projected scan — Parquet vectorized read, pruned ReadSchema."""
    return table(spark, sf_dir, "region").select("r_regionkey", "r_name")


# --------------------------------------------------------------------------
# P1/P2 — column projection at read (helper_load_hhs.py:46-52, 82-83, 154-156).
# --------------------------------------------------------------------------


@register(
    "p1_column_projection",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem",
    tags=("P1", "P2"),
)
def p1_column_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project 4 of 11 lineitem columns; the scan's ReadSchema shrinks to match
    (the reference's 17-of-100 CSV projection, helper_load_hhs.py:46-52)."""
    return table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )


# --------------------------------------------------------------------------
# P4 — null-rejection filter (weekly-report.py:69,209,216).
# --------------------------------------------------------------------------


@register(
    "p4_null_rejection",
    oracle="""
    SELECT l_orderkey, l_linenumber, NULLIF(l_discount, 0.0) AS discount_nn
    FROM lineitem
    WHERE NULLIF(l_discount, 0.0) IS NOT NULL
    """,
    tags=("P4", "F8"),
)
def p4_null_rejection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropna(subset=...) analogue: derive a nullable column, reject nulls."""
    return (
        table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.nullif(F.col("l_discount"), F.lit(0.0)).alias("discount_nn"),
        )
        .na.drop(subset=["discount_nn"])
    )


# --------------------------------------------------------------------------
# P5 — membership filter (weekly-report.py:220 df[df.state.isin(top_states)]).
# --------------------------------------------------------------------------


@register(
    "p5_membership_filter",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
    FROM lineitem
    WHERE l_returnflag IN ('A', 'R')
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("P5",),
)
def p5_membership_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag").isin("A", "R"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# P6 + F12 — range-validity predicate / guarded parse (load-quality.py:158-174).
# --------------------------------------------------------------------------


@register(
    "p6_range_validity",
    oracle="""
    SELECT event_id,
           CASE WHEN value BETWEEN 1 AND 5 THEN value END AS valid_rating
    FROM events
    """,
    tags=("P6",),
)
def p6_range_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rating in [1,5] else NULL (load-quality.py:170-173)."""
    return table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("value").between(1, 5), F.col("value")).alias("valid_rating"),
    )


# --------------------------------------------------------------------------
# J5/Q3 — multi-column semi-join key lookup (helper_load_hhs.py:134-138: the
# 7-column unnest IN-subquery returning surrogate ids).
# --------------------------------------------------------------------------


@register(
    "j5_multicol_semi_lookup",
    oracle="""
    SELECT c_custkey, c_nationkey, c_mktsegment
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM customer k
      WHERE k.c_acctbal < 0
        AND k.c_nationkey = c.c_nationkey
        AND k.c_mktsegment = c.c_mktsegment)
    ORDER BY c_custkey
    """,
    tags=("J5", "Q3"),
)
def j5_multicol_semi_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join on a composite natural key, set-based (no per-row round trips).

    Reference: helper_load_hhs.py:134-138 (WHERE (7 cols) IN (SELECT unnest...)).
    """
    c = table(spark, sf_dir, "customer")
    keys = (
        c.filter(F.col("c_acctbal") < 0)
        .select("c_nationkey", "c_mktsegment")
        .distinct()
    )
    return (
        c.join(F.broadcast(keys), ["c_nationkey", "c_mktsegment"], "semi")
        .select("c_custkey", "c_nationkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# J6 — positional zip join (helper_load_hhs.py:154-156, 218-228). The
# reference pairs inserted rows with looked-up ids BY LIST POSITION; the
# scalable re-expression is rank-based pairing with deterministic order.
# --------------------------------------------------------------------------


@register(
    "j6_positional_pairing",
    oracle="""
    WITH c AS (SELECT c_custkey,
                      ROW_NUMBER() OVER (
                        ORDER BY c_custkey NULLS LAST, c_name NULLS LAST) AS pos
               FROM customer WHERE c_custkey <= 200),
         s AS (SELECT s_suppkey,
                      ROW_NUMBER() OVER (
                        ORDER BY s_suppkey NULLS LAST, s_name NULLS LAST) AS pos
               FROM supplier)
    SELECT c.pos AS pos, c_custkey, s_suppkey
    FROM c JOIN s USING (pos)
    ORDER BY pos
    """,
    tags=("J6",),
)
def j6_positional_pairing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic positional pairing via ROW_NUMBER + equi-join.

    The reference zip is order-fragile (SURVEY J6); this version pins the
    order explicitly. NULLS LAST on both sort keys — Spark's ascending
    default is NULLS FIRST while DuckDB's is NULLS LAST, so a NULL key
    would silently shift EVERY pairing by one (adversarial-gate finding,
    round 11); the name column breaks duplicate-key ties so the pairing
    is a total order, not a hash-partition accident. Only ever applied to
    dim-sized frames — the global row_number window is single-partition
    by design and documented as such.
    """
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 200)
        .select(
            "c_custkey",
            F.row_number()
            .over(
                Window.orderBy(
                    F.col("c_custkey").asc_nulls_last(),
                    F.col("c_name").asc_nulls_last(),
                )
            )
            .cast("long")
            .alias("pos"),
        )
    )
    s = table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.row_number()
        .over(
            Window.orderBy(
                F.col("s_suppkey").asc_nulls_last(),
                F.col("s_name").asc_nulls_last(),
            )
        )
        .cast("long")
        .alias("pos"),
    )
    return c.join(s, "pos").select("pos", "c_custkey", "s_suppkey").orderBy("pos")


# --------------------------------------------------------------------------
# J7 — deterministic min-key lookup join (load-quality.py:141-145: correlated
# `SELECT id ... ORDER BY id LIMIT 1` => groupBy().agg(min) + equi-join).
# --------------------------------------------------------------------------


@register(
    "j7_min_id_lookup",
    oracle="""
    SELECT c_custkey,
           (SELECT MIN(s_suppkey) FROM supplier s
            WHERE s.s_nationkey = c.c_nationkey) AS rep_suppkey
    FROM customer c
    ORDER BY c_custkey
    """,
    tags=("J7",),
)
def j7_min_id_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row lookup of the minimum matching surrogate id, set-based."""
    reps = (
        table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.min("s_suppkey").alias("rep_suppkey"))
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    return (
        c.join(F.broadcast(reps), c.c_nationkey == reps.s_nationkey, "left")
        .select("c_custkey", "rep_suppkey")
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# W3 — last value per series (weekly-report.py:232 iloc[-1] legend labels).
# --------------------------------------------------------------------------


@register(
    "w3_last_value_per_series",
    oracle=f"""
    WITH series AS (
      SELECT n_name AS state,
             CAST(date_trunc('week', o_orderdate) AS DATE) AS collection_week,
             {sql_dsum("o_totalprice")} AS weekly_value
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      WHERE o_orderdate <= {_SQL_CUTOFF}
      GROUP BY 1, 2
    )
    SELECT state, collection_week, weekly_value,
           LAST_VALUE(weekly_value) OVER (
             PARTITION BY state ORDER BY collection_week
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS latest_value
    FROM series
    ORDER BY state, collection_week
    """,
    tags=("W3",),
)
def w3_last_value_per_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attach each state's latest weekly value to every row of its series."""
    joined = orders_with_state(
        spark, sf_dir, "o_totalprice", "o_orderdate"
    ).filter(F.col("o_orderdate") <= F.lit(CUTOFF).cast("timestamp"))
    series = (
        joined.withColumn(
            "collection_week",
            F.date_trunc("week", "o_orderdate").cast("date"),
        )
        .groupBy("state", "collection_week")
        .agg(dsum("o_totalprice", "weekly_value"))
    )
    w = (
        Window.partitionBy("state")
        .orderBy("collection_week")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return series.withColumn("latest_value", F.last("weekly_value").over(w)).orderBy(
        "state", "collection_week"
    )


# --------------------------------------------------------------------------
# T1 — newest row (weekly-report.py:285-286 ORDER BY week DESC LIMIT 1).
# --------------------------------------------------------------------------


@register(
    "t1_newest_week_row",
    oracle="""
    SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS collection_week,
           COUNT(DISTINCT o_custkey) AS customer_count
    FROM orders
    GROUP BY 1
    ORDER BY collection_week DESC
    LIMIT 1
    """,
    tags=("T1",),
)
def t1_newest_week_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("week", "o_orderdate").cast("date").alias("collection_week"))
        .agg(F.countDistinct("o_custkey").alias("customer_count"))
        .orderBy(F.desc("collection_week"))
        .limit(1)
    )


# --------------------------------------------------------------------------
# T6 — top-k by measure (weekly-report.py:218 nlargest(10, utilization)).
# --------------------------------------------------------------------------


@register(
    "t6_topk_by_measure",
    oracle=f"""
    SELECT n_name AS state,
           {sql_dsum("o_totalprice")} AS total_value
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY 1
    ORDER BY total_value DESC, state
    LIMIT 10
    """,
    tags=("T6",),
)
def t6_topk_by_measure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 states by measure; compiles to TakeOrderedAndProject (no global
    sort materialization). Deterministic tiebreak on state name."""
    return (
        orders_with_state(spark, sf_dir, "o_totalprice")
        .groupBy("state")
        .agg(dsum("o_totalprice", "total_value"))
        .orderBy(F.desc("total_value"), F.asc("state"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# U1 — dedup by key, deterministic first-wins (helper_load_hhs.py:65
# drop_duplicates(subset='hospital_pk'); made deterministic per SURVEY §7.3).
# --------------------------------------------------------------------------


@register(
    "u1_dedup_first_wins",
    oracle="""
    SELECT user_id, event_id, event_type, value FROM (
      SELECT user_id, event_id, event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      FROM events)
    WHERE rn = 1
    ORDER BY user_id
    """,
    tags=("U1",),
)
def u1_dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First event per user under an explicit order — the deterministic form of
    pandas drop_duplicates(subset=...) (first-wins)."""
    ev = table(spark, sf_dir, "events")
    # NULLS LAST pins the engines together: Spark's bare ASC sorts NULL ts
    # FIRST while DuckDB's sorts them LAST — latent on null-free testdata,
    # caught by the adversarial differential gate. An unknown-time event
    # only wins if the user has nothing datable.
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), F.asc("event_id")
    )
    return (
        ev.select("user_id", "event_id", "event_type", "value",
                  F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# U3/K3 — idempotent upsert semantics: anti-join new keys against existing
# (ON CONFLICT DO NOTHING: helper_load_hhs.py:96,163; load-quality.py:135-154).
# --------------------------------------------------------------------------


@register(
    "k3_upsert_anti_join",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus
    FROM orders i
    WHERE o_orderdate <= {_SQL_CUTOFF}
      AND NOT EXISTS (
        SELECT 1 FROM orders e
        WHERE e.o_orderkey % 3 = 0 AND e.o_orderkey = i.o_orderkey)
    ORDER BY o_orderkey
    """,
    tags=("K3", "U3"),
)
def k3_upsert_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows to insert = incoming anti-join existing keys (idempotent re-load).

    This is the query core of the K3 sink; the write-path itself (append of
    exactly these rows) is exercised in tests/test_sinks.py.
    """
    o = table(spark, sf_dir, "orders")
    incoming = o.filter(F.col("o_orderdate") <= F.lit(CUTOFF).cast("timestamp"))
    existing = o.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey")
    return (
        incoming.join(existing, "o_orderkey", "left_anti")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# F1/F2/F3/F14 — WKT point parse (helper_load_hhs.py:60-63).
# The reference assigns WKT `lon lat` item0 -> latitude (documented upstream
# bug, SURVEY §7.6); we parse correctly: item0 -> longitude.
# --------------------------------------------------------------------------


@register(
    "f1_wkt_point_parse",
    oracle="""
    WITH src AS (
      SELECT c_custkey,
             'POINT (' || CAST(c_custkey % 360 - 180 AS VARCHAR) || ' '
                       || CAST(c_nationkey * 3 - 30 AS VARCHAR) || ')' AS geocoded
      FROM customer),
    parsed AS (
      SELECT c_custkey, geocoded,
             substring(geocoded, 8, length(geocoded) - 8) AS inner_pt
      FROM src)
    SELECT c_custkey, geocoded,
           CAST(string_split(inner_pt, ' ')[1] AS DOUBLE) AS longitude,
           CAST(string_split(inner_pt, ' ')[2] AS DOUBLE) AS latitude
    FROM parsed
    ORDER BY c_custkey
    """,
    tags=("F1", "F2", "F3", "F14"),
)
def f1_wkt_point_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strip `POINT (...)`, split on space, cast halves to double.

    Reference: helper_load_hhs.py:60-63 (slice(7,-1) + split + astype(float)).
    """
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    geocoded = F.concat(
        F.lit("POINT ("),
        (F.col("c_custkey") % 360 - 180).cast("string"),
        F.lit(" "),
        (F.col("c_nationkey") * 3 - 30).cast("string"),
        F.lit(")"),
    ).alias("geocoded")
    df = c.select("c_custkey", geocoded)
    inner = F.expr("substring(geocoded, 8, length(geocoded) - 8)")
    parts = F.split(inner, " ")
    return df.select(
        "c_custkey",
        "geocoded",
        parts.getItem(0).cast("double").alias("longitude"),
        parts.getItem(1).cast("double").alias("latitude"),
    ).orderBy("c_custkey")


# --------------------------------------------------------------------------
# F4/F5/F16 — date parse / arithmetic / format (helper_load_hhs.py:67,
# weekly-report.py:414-428, load-quality.py:46).
# --------------------------------------------------------------------------


@register(
    "f4_date_roundtrip",
    oracle="""
    WITH src AS (
      SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS date_str
      FROM orders WHERE o_orderkey <= 2000)
    SELECT o_orderkey, date_str,
           CAST(strptime(date_str, '%Y-%m-%d') AS DATE) AS parsed_date,
           CAST(strptime(date_str, '%Y-%m-%d') AS DATE) - INTERVAL 7 DAY
             AS week_before,
           strftime(CAST(strptime(date_str, '%Y-%m-%d') AS DATE), '%Y-%m-%d')
             AS formatted
    FROM src
    ORDER BY o_orderkey
    """,
    tags=("F4", "F5", "F16"),
)
def f4_date_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format→parse→shift→format round trip with the reference's '%Y-%m-%d'."""
    src = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2000)
        .select("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("date_str"))
    )
    parsed = F.to_date("date_str", "yyyy-MM-dd")
    return src.select(
        "o_orderkey",
        "date_str",
        parsed.alias("parsed_date"),
        F.date_sub(parsed, 7).cast("timestamp").alias("week_before"),
        F.date_format(parsed, "yyyy-MM-dd").alias("formatted"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# F6 — sentinel -> NULL (helper_load_hhs.py:58: -999999 => NaN).
# --------------------------------------------------------------------------


@register(
    "f6_sentinel_to_null",
    oracle="""
    WITH src AS (
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_linenumber = 1 THEN -999999.0 ELSE l_quantity END AS qty_raw
      FROM lineitem)
    SELECT l_orderkey, l_linenumber,
           CASE WHEN qty_raw = -999999.0 THEN NULL ELSE qty_raw END AS qty
    FROM src
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("F6",),
)
def f6_sentinel_to_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_linenumber") == 1, F.lit(-999999.0))
        .otherwise(F.col("l_quantity"))
        .alias("qty_raw"),
    )
    return (
        src.select(
            "l_orderkey",
            "l_linenumber",
            F.when(F.col("qty_raw") == -999999.0, F.lit(None)).otherwise(F.col("qty_raw")).alias("qty"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# --------------------------------------------------------------------------
# F11 — boolean parse: 'yes' (case/space-insensitive) (load-quality.py:177-189).
# --------------------------------------------------------------------------


@register(
    "f11_boolean_parse",
    oracle="""
    WITH src AS (
      SELECT o_orderkey,
             CASE o_orderstatus WHEN 'F' THEN '  YES ' WHEN 'O' THEN 'no'
                  ELSE 'maybe' END AS raw_flag
      FROM orders)
    SELECT o_orderkey, raw_flag,
           (lower(trim(raw_flag)) = 'yes') AS provides_emergency_services
    FROM src
    ORDER BY o_orderkey
    """,
    tags=("F11",),
)
def f11_boolean_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", F.lit("  YES "))
        .when(F.col("o_orderstatus") == "O", F.lit("no"))
        .otherwise(F.lit("maybe"))
        .alias("raw_flag"),
    )
    return src.select(
        "o_orderkey",
        "raw_flag",
        (F.lower(F.trim(F.col("raw_flag"))) == "yes").alias("provides_emergency_services"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# F12 + P6 — guarded int parse: digits-only else NULL, then range check
# (load-quality.py:158-174, with 'Not Available' => NULL).
# --------------------------------------------------------------------------


@register(
    "f12_guarded_int_parse",
    oracle="""
    WITH src AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'P' THEN 'Not Available'
                  ELSE substring(o_orderpriority, 1, 1) END AS rating_raw
      FROM orders)
    SELECT o_orderkey, rating_raw,
           CASE WHEN regexp_matches(rating_raw, '^[0-9]+$')
                     AND TRY_CAST(rating_raw AS INTEGER) BETWEEN 1 AND 5
                THEN TRY_CAST(rating_raw AS INTEGER) END AS quality_rating
    FROM src
    ORDER BY o_orderkey
    """,
    tags=("F12",),
)
def f12_guarded_int_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "P", F.lit("Not Available"))
        .otherwise(F.substring("o_orderpriority", 1, 1))
        .alias("rating_raw"),
    )
    parsed = F.when(
        F.col("rating_raw").rlike("^[0-9]+$"), F.col("rating_raw").cast("int")
    )
    return src.select(
        "o_orderkey",
        "rating_raw",
        F.when(parsed.between(1, 5), parsed).alias("quality_rating"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# F13 — lenient numeric coercion (weekly-report.py:66,210 to_numeric coerce).
# --------------------------------------------------------------------------


@register(
    "f13_lenient_numeric",
    oracle="""
    WITH src AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'P' THEN 'n/a'
                  ELSE CAST(o_orderkey * 2 AS VARCHAR) END AS num_raw
      FROM orders)
    SELECT o_orderkey, num_raw, TRY_CAST(num_raw AS DOUBLE) AS num
    FROM src
    ORDER BY o_orderkey
    """,
    tags=("F13",),
)
def f13_lenient_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pd.to_numeric(errors='coerce') == try_cast: invalid strings -> NULL."""
    src = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "P", F.lit("n/a"))
        .otherwise((F.col("o_orderkey") * 2).cast("string"))
        .alias("num_raw"),
    )
    return src.select(
        "o_orderkey",
        "num_raw",
        F.expr("try_cast(num_raw AS DOUBLE)").alias("num"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# F15 + F9 — number formatting with thousands separators over a rounded
# aggregate (weekly-report.py:183-189 f'{x:,.1f}').
# --------------------------------------------------------------------------


@register(
    "f15_format_number",
    oracle=f"""
    WITH agg AS (
      SELECT n_name AS state,
             {sql_round1(sql_davg("o_totalprice"))} AS avg_value
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      GROUP BY 1)
    SELECT state, avg_value,
           -- DuckDB fmt lacks ',' for floats; assemble from exact 1-dp parts
           CASE WHEN avg_value < 0 THEN '-' ELSE '' END
           || format('{{:,}}', CAST(floor(abs(avg_value)) AS BIGINT))
           || '.'
           || CAST(CAST(round((abs(avg_value) - floor(abs(avg_value))) * 10)
                        AS BIGINT) AS VARCHAR) AS avg_value_fmt
    FROM agg
    ORDER BY state
    """,
    tags=("F15", "F9", "A3"),
)
def f15_format_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Presentation-edge formatting; rounding happens in decimal space first so
    the formatter never makes a tie-break decision."""
    return (
        orders_with_state(spark, sf_dir, "o_totalprice")
        .groupBy("state")
        .agg(round1(davg("o_totalprice"), "avg_value"))
        .withColumn("avg_value_fmt", F.format_number(F.col("avg_value"), 1))
        .orderBy("state")
    )
