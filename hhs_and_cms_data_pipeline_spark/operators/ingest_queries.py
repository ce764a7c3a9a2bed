"""Driver-visible queries for the ingest lifecycle (SURVEY §3.1/§3.2): the
HHS prep pipeline and CMS normalization run end-to-end from fixture CSVs,
with DuckDB oracles that re-implement the reference semantics independently
(helper_load_hhs.py:45-67, load-quality.py:158-189).

Each builder rewrites its fixture CSVs under ``sources_sinks._IO_DIR``
before it returns, so the oracle SQL (which embeds those paths) always reads
a complete file; importing this module writes nothing — same pattern as
operators/sources_sinks.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dsum, sql_dsum
from .relational_ext import SQL_DAILY_EVENT_COUNTS
from ..registry import register
from ..sources.csvsrc import read_cms_quality, read_hhs_weekly
from .ingest import normalize_cms, prep_hhs
from .sources_sinks import _IO_DIR, _atomic_write_text

_HHS_CSV = os.path.join(_IO_DIR, "hhs_fixture.csv")
_CMS_CSV = os.path.join(_IO_DIR, "cms_fixture.csv")

_HHS_TEXT = """hospital_pk,state,hospital_name,address,city,zip,fips_code,geocoded_hospital_address,collection_week,all_adult_hospital_beds_7_day_avg,all_pediatric_inpatient_beds_7_day_avg,all_adult_hospital_inpatient_bed_occupied_7_day_avg,all_pediatric_inpatient_bed_occupied_7_day_avg,total_icu_beds_7_day_avg,icu_beds_used_7_day_avg,inpatient_beds_used_covid_7_day_avg,staffed_icu_adult_patients_confirmed_covid_7_day_avg
H1,CA,Alpha Hosp,1 Main St,LA,90001,06037,"POINT (-118.25 34.05)",2023-01-06,100.0,-999999,20.0,1.0,30.0,10.0,5.0,2.0
H1,CA,Alpha Hosp,1 Main St,LA,90001,06037,"POINT (-118.25 34.05)",2023-01-13,101.0,11.0,21.0,2.0,31.0,11.0,6.0,3.0
H2,TX,Beta Hosp,2 Oak Ave,Houston,77001,48201,,2023-01-06,50.0,5.0,-999999,0.0,15.0,5.0,1.0,0.0
H3,CA,Gamma Hosp,3 Pine Rd,LA,90002,06037,"POINT (-118.3 34.1)",2023-01-06,,,,,,,,
H4,NY,Delta Hosp,4 Elm Blvd,NYC,10001,36061,"POINT (-73.98 40.75)",2023-01-13,80.0,8.0,40.0,4.0,20.0,18.0,9.0,7.0
"""

_CMS_TEXT = '''"Facility ID","Facility Name","City","State","ZIP Code","Hospital Ownership","Emergency Services","Hospital Type","Hospital overall rating"
"H1","Alpha Hosp","LA","CA","90001","Proprietary","Yes","Acute Care","4"
"H2","Beta Hosp","Houston","TX","77001","Government - Federal","yes ","Acute Care","Not Available"
"H3","Gamma Hosp","LA","CA","90002","Proprietary","NO","Acute Care","6"
"H9","Absent Hosp","Miami","FL","33101","Proprietary","","Acute Care","abc"
"H8","Edge Hosp","LA","CA","90001","Proprietary","YES","Acute Care","0"
'''

_RATING_DATE = "2023-02-01"

_METRICS = (
    "all_adult_hospital_beds_7_day_avg",
    "all_pediatric_inpatient_beds_7_day_avg",
    "all_adult_hospital_inpatient_bed_occupied_7_day_avg",
    "all_pediatric_inpatient_bed_occupied_7_day_avg",
    "total_icu_beds_7_day_avg",
    "icu_beds_used_7_day_avg",
    "inpatient_beds_used_covid_7_day_avg",
    "staffed_icu_adult_patients_confirmed_covid_7_day_avg",
)


def _materialize() -> None:
    os.makedirs(_IO_DIR, exist_ok=True)
    for path, text in ((_HHS_CSV, _HHS_TEXT), (_CMS_CSV, _CMS_TEXT)):
        _atomic_write_text(path, lambda f, text=text: f.write(text))

_SQL_METRIC_COLS = ", ".join(f"'{m}': 'DOUBLE'" for m in _METRICS)
_SQL_SCRUB = ",\n           ".join(
    f"CASE WHEN {m} = -999999 OR isnan({m}) THEN NULL ELSE {m} END AS {m}"
    for m in _METRICS
)


@register(
    "ingest_hhs_prep",
    oracle=f"""
    WITH raw AS (
      SELECT * FROM read_csv('{_HHS_CSV}', header=true,
        columns={{'hospital_pk':'VARCHAR','state':'VARCHAR','hospital_name':'VARCHAR',
                 'address':'VARCHAR','city':'VARCHAR','zip':'VARCHAR',
                 'fips_code':'VARCHAR','geocoded_hospital_address':'VARCHAR',
                 'collection_week':'VARCHAR',{_SQL_METRIC_COLS}}})),
    parsed AS (
      SELECT hospital_pk, state, hospital_name, address, city,
             zip AS zip_code, fips_code,
             CAST(string_split(substr(geocoded_hospital_address, 8,
                    length(geocoded_hospital_address) - 8), ' ')[1] AS DOUBLE)
               AS longitude,
             CAST(string_split(substr(geocoded_hospital_address, 8,
                    length(geocoded_hospital_address) - 8), ' ')[2] AS DOUBLE)
               AS latitude,
             CAST(collection_week AS DATE) AS collection_week,
             {_SQL_SCRUB}
      FROM raw),
    deduped AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY hospital_pk
                  ORDER BY collection_week NULLS LAST,
                           hospital_name NULLS LAST,
                           state NULLS LAST, address NULLS LAST,
                           city NULLS LAST, zip_code NULLS LAST,
                           fips_code NULLS LAST, longitude NULLS LAST,
                           latitude NULLS LAST,
                           {", ".join(f"{m} NULLS LAST" for m in _METRICS)}) AS rn
      FROM parsed)
    SELECT hospital_pk, state, hospital_name, city, zip_code,
           longitude, latitude, collection_week,
           {", ".join(_METRICS)}
    FROM deduped WHERE rn = 1
    ORDER BY hospital_pk
    """,
    tags=("ING1",),
)
def ingest_hhs_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full HHS prep pipeline (SURVEY §3.1) as one driver-checked query:
    schema'd CSV scan -> sentinel/NaN scrub -> WKT lon/lat parse (correct
    order; the reference's lat/lon swap at helper:61-63 is a documented
    upstream bug we fix) -> deterministic first-wins dedup per hospital_pk
    -> date cast. The oracle re-implements the same semantics in SQL from
    the raw fixture CSV."""
    _materialize()
    prepped = prep_hhs(read_hhs_weekly(spark, _HHS_CSV))
    return prepped.select(
        "hospital_pk",
        "state",
        "hospital_name",
        "city",
        "zip_code",
        "longitude",
        "latitude",
        "collection_week",
        *_METRICS,
    ).orderBy("hospital_pk")


@register(
    "ingest_cms_normalize",
    oracle=f"""
    WITH raw AS (
      SELECT * FROM read_csv('{_CMS_CSV}', header=true, all_varchar=true)),
    norm AS (
      SELECT "Facility ID" AS facility_id,
             "Facility Name" AS facility_name,
             "City" AS city, "State" AS state, "ZIP Code" AS zip_code,
             "Hospital Ownership" AS ownership,
             "Hospital Type" AS hospital_type,
             CASE WHEN regexp_matches(trim("Hospital overall rating"), '^[0-9]+$')
                       AND TRY_CAST(trim("Hospital overall rating") AS INTEGER)
                           BETWEEN 1 AND 5
                  THEN TRY_CAST(trim("Hospital overall rating") AS INTEGER)
             END AS quality_rating,
             CASE WHEN "Emergency Services" IS NULL THEN NULL
                  ELSE lower(trim("Emergency Services")) = 'yes'
             END AS provides_emergency_services,
             DATE '{_RATING_DATE}' AS rating_date
      FROM raw)
    SELECT * FROM norm ORDER BY facility_id
    """,
    tags=("ING2",),
)
def ingest_cms_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CMS normalization pipeline (SURVEY §3.2) as one driver-checked
    query: all-string CSV scan -> guarded int parse with [1,5] validity
    (F12/P6: '6', '0', 'abc', 'Not Available' -> NULL) -> trim+lower
    boolean parse (F11: 'Yes'/'yes '/'YES' -> true, 'NO' -> false, '' ->
    NULL via the CSV null) -> literal rating_date. No row loops, no driver
    batching — the reference's process_row (load-quality.py:95-125) becomes
    column expressions."""
    _materialize()
    return (
        normalize_cms(read_cms_quality(spark, _CMS_CSV), _RATING_DATE)
        .orderBy("facility_id")
    )


# --------------------------------------------------------------------------
# DQ1 — declarative constraint audit: the engine-side replacement for the
# reference's in-database constraints (PK/FK/UNIQUE/CHECK, Phase1:72-252).
# Spark enforces nothing at write time, so a pipeline materializes this
# report after every load and gates publication on it.
# --------------------------------------------------------------------------


@register(
    "dq_constraint_report",
    oracle="""
    SELECT * FROM (
      SELECT 'orders_pk_unique' AS check_name,
             CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT) AS n_violations
      FROM (SELECT COUNT(*) AS cnt FROM orders GROUP BY o_orderkey)
      WHERE cnt > 1
      UNION ALL
      SELECT 'orders_custkey_fk',
             CAST(COUNT(*) AS BIGINT)
      FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      UNION ALL
      SELECT 'lineitem_orderkey_fk',
             CAST(COUNT(*) AS BIGINT)
      FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      UNION ALL
      SELECT 'lineitem_qty_range',
             CAST(COUNT(*) AS BIGINT)
      FROM lineitem
      WHERE l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50
      UNION ALL
      SELECT 'customer_name_nonnull',
             CAST(COUNT(*) AS BIGINT)
      FROM customer WHERE c_name IS NULL)
    ORDER BY check_name
    """,
    tags=("DQ1",),
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint audit over the star schema: PK uniqueness (surplus copies
    per duplicated key), FK integrity (orphaned facts via anti-joins),
    CHECK-style range validity, and NOT NULL — one row per check with its
    violation count. This is the reference's Postgres constraint surface
    (UNIQUE/PK/FK/CHECK, Phase1_updated.ipynb cells 4-13) re-expressed as
    an auditable query, the way schema-on-read engines actually enforce
    quality (assert-then-publish).

    Scale shape: each check is one aggregation or one anti-join
    (broadcast where the dimension side is small); the five results are
    1-row frames unioned driver-free. At 100 TB checks run on the same
    pass-per-table budget as any report query — no row-by-row validation."""
    from ..sources import table as t

    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    lineitem = t(spark, sf_dir, "lineitem")

    def one(name: str, cnt: F.Column | None, frame: DataFrame) -> DataFrame:
        return frame.select(
            F.lit(name).alias("check_name"),
            F.coalesce(cnt, F.lit(0)).cast("long").alias("n_violations"),
        )

    pk_dups = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(F.sum(F.col("cnt") - 1).alias("v"))
    )
    fk_orders = (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    fk_lineitem = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    qty_range = (
        lineitem.filter(
            F.col("l_quantity").isNull()
            | (F.col("l_quantity") < 1)
            | (F.col("l_quantity") > 50)
        ).agg(F.count(F.lit(1)).alias("v"))
    )
    name_null = customer.filter(F.col("c_name").isNull()).agg(
        F.count(F.lit(1)).alias("v")
    )
    report = (
        one("orders_pk_unique", F.col("v"), pk_dups)
        .unionAll(one("orders_custkey_fk", F.col("v"), fk_orders))
        .unionAll(one("lineitem_orderkey_fk", F.col("v"), fk_lineitem))
        .unionAll(one("lineitem_qty_range", F.col("v"), qty_range))
        .unionAll(one("customer_name_nonnull", F.col("v"), name_null))
    )
    return report.orderBy("check_name")


# --------------------------------------------------------------------------
# ING3 — the reference's WHOLE nightly flow as one declarative job:
# load-hhs (prep) + load-quality (normalize) + weekly-report (join + state
# rollup), chained without intermediate materialization. A reference user
# switching engines runs THIS — not the stage queries one by one.
# --------------------------------------------------------------------------


@register(
    "ingest_to_report_e2e",
    oracle=f"""
    WITH raw AS (
      SELECT * FROM read_csv('{_HHS_CSV}', header=true,
        columns={{'hospital_pk':'VARCHAR','state':'VARCHAR','hospital_name':'VARCHAR',
                 'address':'VARCHAR','city':'VARCHAR','zip':'VARCHAR',
                 'fips_code':'VARCHAR','geocoded_hospital_address':'VARCHAR',
                 'collection_week':'VARCHAR',{_SQL_METRIC_COLS}}})),
    parsed AS (
      SELECT hospital_pk, state, hospital_name, address, city,
             zip AS zip_code, fips_code,
             CAST(string_split(substr(geocoded_hospital_address, 8,
                    length(geocoded_hospital_address) - 8), ' ')[1] AS DOUBLE)
               AS longitude,
             CAST(string_split(substr(geocoded_hospital_address, 8,
                    length(geocoded_hospital_address) - 8), ' ')[2] AS DOUBLE)
               AS latitude,
             CAST(collection_week AS DATE) AS collection_week,
             {_SQL_SCRUB}
      FROM raw),
    deduped AS (
      -- the FULL total-order tiebreak of prep_hhs / the ING1 oracle: with
      -- only collection_week, two same-pk same-week rows differing in
      -- metrics would be picked arbitrarily and diverge from Spark
      SELECT *, ROW_NUMBER() OVER (PARTITION BY hospital_pk
                  ORDER BY collection_week NULLS LAST,
                           hospital_name NULLS LAST,
                           state NULLS LAST, address NULLS LAST,
                           city NULLS LAST, zip_code NULLS LAST,
                           fips_code NULLS LAST, longitude NULLS LAST,
                           latitude NULLS LAST,
                           {", ".join(f"{m} NULLS LAST" for m in _METRICS)}) AS rn
      FROM parsed),
    prepped AS (SELECT * FROM deduped WHERE rn = 1),
    cms AS (
      SELECT "Facility ID" AS facility_id,
             CASE WHEN regexp_matches(trim("Hospital overall rating"), '^[0-9]+$')
                       AND TRY_CAST(trim("Hospital overall rating") AS INTEGER)
                           BETWEEN 1 AND 5
                  THEN TRY_CAST(trim("Hospital overall rating") AS INTEGER)
             END AS quality_rating
      FROM read_csv('{_CMS_CSV}', header=true, all_varchar=true)),
    joined AS (
      SELECT p.state, p.all_adult_hospital_beds_7_day_avg AS beds,
             c.quality_rating
      FROM prepped p LEFT JOIN cms c ON p.hospital_pk = c.facility_id)
    SELECT state,
           COUNT(*) AS n_hospitals,
           COUNT(quality_rating) AS n_rated,
           {sql_dsum("beds")} AS total_adult_beds,
           CASE WHEN COUNT(quality_rating) > 0
                THEN CAST(SUM(quality_rating) AS DOUBLE)
                     / CAST(COUNT(quality_rating) AS DOUBLE)
           END AS avg_rating
    FROM joined
    GROUP BY state
    ORDER BY state
    """,
    tags=("ING3",),
)
def ingest_to_report_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ING3: raw HHS CSV -> prep (scrub/parse/dedup) -> raw CMS CSV ->
    normalize (guarded rating parse) -> hospital join -> per-state report
    (hospital count, rated count, exact bed totals, average rating) — the
    reference's three scripts (load-hhs.py, load-quality.py,
    weekly-report.py) as ONE Catalyst plan.

    Chaining instead of materializing means the prep projections, the
    rating parse, and the join all fuse: the only exchanges are the
    per-hospital dedup window and the state rollup. The oracle re-derives
    the entire flow from the raw fixture CSVs independently."""
    _materialize()
    prepped = prep_hhs(read_hhs_weekly(spark, _HHS_CSV)).select(
        "hospital_pk",
        "state",
        F.col("all_adult_hospital_beds_7_day_avg").alias("beds"),
    )
    cms = normalize_cms(read_cms_quality(spark, _CMS_CSV), _RATING_DATE).select(
        "facility_id", "quality_rating"
    )
    joined = prepped.join(
        cms, prepped.hospital_pk == cms.facility_id, "left"
    )
    n_rated = F.count("quality_rating")
    return (
        joined.groupBy("state")
        .agg(
            F.count(F.lit(1)).alias("n_hospitals"),
            n_rated.alias("n_rated"),
            dsum("beds", "total_adult_beds"),
            F.when(
                n_rated > 0,
                F.sum("quality_rating").cast("double") / n_rated.cast("double"),
            ).alias("avg_rating"),
        )
        .orderBy("state")
    )


# --------------------------------------------------------------------------
# DQ2 — statistical outlier detection, sqrt-free. The reference's quality
# gates are static rules (rating BETWEEN 1 AND 5, load-quality.py:158-174);
# a scale pipeline also needs distributional checks. The z-score test
# |x - mu| > 3*sigma is evaluated as (x - mu)^2 > 9 * sigma^2: no sqrt,
# no libm — mu and E[x^2] come off the decimal route, so every engine and
# partitioning computes the identical boolean for every row.
# --------------------------------------------------------------------------

_DQ_Z = 3  # flag beyond 3 sigma


@register(
    "dq_outlier_zscore",
    oracle=f"""
    WITH vals AS (
      SELECT event_id, event_type, CAST(value AS DOUBLE) AS x
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL),
    stats AS (
      SELECT event_type,
             COUNT(*) AS n,
             {sql_dsum("x")} / CAST(COUNT(*) AS DOUBLE) AS mu,
             {sql_dsum("x * x", scale=12)} / CAST(COUNT(*) AS DOUBLE)
               AS ex2
      FROM vals GROUP BY 1)
    SELECT v.event_id, v.event_type, v.x, s.mu,
           (v.x - s.mu) * (v.x - s.mu) AS dev2,
           s.ex2 - s.mu * s.mu AS var_pop
    FROM vals v JOIN stats s ON v.event_type = s.event_type
    WHERE (v.x - s.mu) * (v.x - s.mu)
            > {_DQ_Z * _DQ_Z} * (s.ex2 - s.mu * s.mu)
    ORDER BY v.event_type, v.event_id
    """,
    tags=("DQ2",),
)
def dq_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ2: per-event-type 3-sigma outliers — rows whose squared deviation
    from the group mean exceeds 9x the population variance.

    One keyed aggregation produces the 5-row stats dim (count, decimal-
    exact mean, decimal-exact mean of squares); it BROADCASTS back onto
    the fact stream, so flagging is map-only — the shape that lets a
    100 TB quality sweep run as scan + broadcast-join + filter with a
    single tiny shuffle. The sqrt-free comparison (module comment) keeps
    the emitted row set bit-deterministic; var_pop = E[x^2] - mu^2 is the
    textbook one-pass identity, fine here because the decimal sums are
    exact (no catastrophic cancellation of rounded partials)."""
    from ..sources import table as _table

    vals = (
        _table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "event_id", "event_type", F.col("value").cast("double").alias("x")
        )
    )
    stats = vals.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (dsum("x") / F.count(F.lit(1)).cast("double")).alias("mu"),
        (dsum(F.col("x") * F.col("x"), scale=12) / F.count(F.lit(1)).cast("double")).alias(
            "ex2"
        ),
    )
    dev2 = (F.col("x") - F.col("mu")) * (F.col("x") - F.col("mu"))
    var_pop = F.col("ex2") - F.col("mu") * F.col("mu")
    return (
        vals.join(F.broadcast(stats), "event_type")
        .filter(dev2 > F.lit(_DQ_Z * _DQ_Z) * var_pop)
        .select("event_id", "event_type", "x", "mu", dev2.alias("dev2"), var_pop.alias("var_pop"))
        .orderBy("event_type", "event_id")
    )


# --------------------------------------------------------------------------
# OBS1 — piggybacked pipeline observability: Spark's Observation API
# attaches metric aggregates to a job so row counts / sums / bounds are
# collected DURING the pass the pipeline already makes — no second scan,
# no separate metrics job. That free-rider property is what makes
# per-batch data-quality telemetry affordable at 100 TB; this query runs
# an observed pass over lineitem and returns the observed metrics as the
# result, with a plain-SQL oracle recomputing them independently.
# --------------------------------------------------------------------------


@register(
    "obs1_observed_scan_metrics",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_dsum("l_quantity")} AS sum_qty,
           CAST(MAX(l_shipdate) AS TIMESTAMP) AS max_shipdate,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey
    FROM lineitem
    """,
    tags=("OBS1",),
)
def obs1_observed_scan_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OBS1: metrics observed on a scan of lineitem (module comment) —
    the Observation rides the job as accumulator-backed aggregates and is
    read on the driver after ONE materializing pass.

    The observed sum is decimal-routed exactly like every other
    cross-engine aggregate (accumulator merge order is arbitrary; decimal
    addition is associative-commutative, so the merged metric is
    bit-stable). The 4-value result is re-shipped as a 1-row DataFrame —
    the same driver-side scalar materialization class as the similarity
    query-vector fetch (similarity.py), metrics-sized by construction."""
    from pyspark.sql import Observation

    from ..sources import table as _table

    li = _table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_shipdate"
    )
    obs = Observation("scan_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(38,6)"))
        .cast("string")
        .alias("sum_qty_str"),
        F.max("l_shipdate").alias("max_shipdate"),
        F.min("l_orderkey").alias("min_orderkey"),
    )
    observed.write.format("noop").mode("overwrite").save()  # one real pass
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                float(m["sum_qty_str"]),
                m["max_shipdate"],
                m["min_orderkey"],
            )
        ],
        "n_rows bigint, sum_qty double, max_shipdate timestamp, min_orderkey bigint",
    )


# --------------------------------------------------------------------------
# DQ3 — functional-dependency profile: does `source` determine `lang` in
# the documents table? Candidate-key / FD discovery is the standard data-
# profiling pass before declaring constraints (reference analogue: the
# notebook's DDL encodes the FDs it believes, Phase1_updated.ipynb cells
# 4-13; this operator is how an engine VERIFIES such a belief on data it
# does not control). Per source: value counts, the dominant dependent
# value, its share, and the violation flag.
# --------------------------------------------------------------------------


@register(
    "dq_fd_profile",
    oracle="""
    WITH pairs AS (
      SELECT source, lang, COUNT(*) AS n
      FROM documents GROUP BY 1, 2),
    per AS (
      SELECT source, lang, n,
             SUM(n) OVER (PARTITION BY source) AS n_docs,
             COUNT(*) OVER (PARTITION BY source) AS n_langs,
             row_number() OVER (PARTITION BY source
                                ORDER BY n DESC, lang) AS rn
      FROM pairs)
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_langs AS BIGINT) AS n_langs,
           lang AS dominant_lang,
           CAST(n AS BIGINT) AS dominant_n,
           CAST(n AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dominant_share,
           n_langs > 1 AS fd_violated
    FROM per WHERE rn = 1
    ORDER BY source
    """,
    tags=("DQ3",),
)
def dq_fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ3: source -> lang functional-dependency audit (module comment).
    One row per source: how many documents, how many distinct langs, the
    dominant lang (ties to the alphabetically first), its exact share, and
    whether the FD is violated at all.

    Spark shape at 100 TB: the corpus collapses to the (source, lang)
    pair-count table in ONE hash aggregate with map-side partials — the
    windows and ranking run over the pair table (cardinality =
    sources x langs, thousands of rows), never over the corpus. Counts
    are int64 and the share is one exact-int division, so the report is
    bit-deterministic."""
    from pyspark.sql import Window

    from ..sources import table as _table

    pairs = (
        _table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wsrc = Window.partitionBy("source")
    wrank = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("lang"))
    per = pairs.select(
        "source",
        "lang",
        "n",
        F.sum("n").over(wsrc).alias("n_docs"),
        F.count(F.lit(1)).over(wsrc).alias("n_langs"),
        F.row_number().over(wrank).alias("rn"),
    ).filter(F.col("rn") == 1)
    return per.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_langs").cast("long").alias("n_langs"),
        F.col("lang").alias("dominant_lang"),
        F.col("n").cast("long").alias("dominant_n"),
        (F.col("n").cast("double") / F.col("n_docs").cast("double")).alias(
            "dominant_share"
        ),
        (F.col("n_langs") > 1).alias("fd_violated"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# DQ4 — Benford first-digit audit over lineitem.l_extendedprice. Naturally
# occurring multi-magnitude amounts follow Benford's law P(d) = log10(1+1/d)
# (Benford 1938; Nigrini's fraud-audit standard); fabricated or truncated
# feeds show flat or spiked digit histograms. The expected probabilities are
# FIXED decimal literals (shared between the Spark spine and the oracle SQL,
# parsed to identical doubles by both engines), the digit extraction is
# integer floor + string head (both engines floor and format int64
# identically — never CAST(double AS BIGINT), which truncates in Spark but
# rounds in DuckDB), and the chi-square terms use only IEEE +,-,*,/ on
# identical inputs — bit-deterministic without any libm call.
# --------------------------------------------------------------------------

# log10(1 + 1/d) for d = 1..9, full double precision (repr of the Python
# float — one shared source for both engines' literals).
_BENFORD_P = {
    1: "0.3010299956639812",
    2: "0.17609125905568124",
    3: "0.12493873660829992",
    4: "0.09691001300805642",
    5: "0.07918124604762482",
    6: "0.06694678963061322",
    7: "0.05799194697768673",
    8: "0.05115252244738129",
    9: "0.04575749056067514",
}

# DuckDB types a bare decimal literal as DECIMAL, not DOUBLE — cast in the
# spine so expected_p round-trips as the identical float64 on both engines.
_BENFORD_VALUES = ", ".join(
    f"({d}, CAST({p} AS DOUBLE))" for d, p in _BENFORD_P.items()
)


def benford_digit_counts(df: DataFrame, col: str) -> DataFrame:
    """First-significant-digit histogram of a positive amount column — THE
    digit-extraction rule (int64 floor then string head; rows < 1
    excluded), factored so the model property test drives the exact
    production expression. <=9 rows, checkpointed: both consumers (spine
    join + total) read it without re-scanning the fact table."""
    return (
        df.filter(F.col(col) >= 1)
        .select(
            F.substring(F.floor(col).cast("long").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )


@register(
    "dq_benford_audit",
    oracle=f"""
    WITH obs AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(l_extendedprice) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INTEGER) AS digit,
             COUNT(*) AS n
      FROM lineitem
      WHERE l_extendedprice >= 1
      GROUP BY 1),
    tot AS (SELECT SUM(n) AS n_total FROM obs),
    spine(digit, expected_p) AS (VALUES {_BENFORD_VALUES})
    SELECT s.digit,
           CAST(COALESCE(o.n, 0) AS BIGINT) AS n_obs,
           CAST(COALESCE(o.n, 0) AS DOUBLE) / CAST(t.n_total AS DOUBLE)
             AS obs_share,
           s.expected_p,
           (CAST(COALESCE(o.n, 0) AS DOUBLE)
              - s.expected_p * CAST(t.n_total AS DOUBLE))
           * (CAST(COALESCE(o.n, 0) AS DOUBLE)
              - s.expected_p * CAST(t.n_total AS DOUBLE))
           / (s.expected_p * CAST(t.n_total AS DOUBLE)) AS chi2_term
    FROM spine s LEFT JOIN obs o USING (digit) CROSS JOIN tot t
    ORDER BY s.digit
    """,
    tags=("DQ4",),
)
def dq_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ4: Benford first-digit conformance report (module comment). One row
    per digit 1..9: observed count, observed share, the Benford expectation,
    and the chi-square contribution — spikes flag synthetic amounts.

    Spark shape at 100 TB: the fact table collapses to a <=9-row digit
    histogram in ONE hash aggregate with map-side partials; the literal
    9-row expectation spine and the 1-row total are broadcast, so nothing
    after the scan exceeds nine rows. The digit comes from the int64 floor
    of the amount (strings of int64 are engine-identical; rows < 1 are
    excluded and reported by their absence from n_total), counts are int64,
    and the chi-square arithmetic is correctly-rounded IEEE on identical
    inputs — bit-deterministic with zero transcendental calls."""
    from ..sources import table as _table

    obs = benford_digit_counts(_table(spark, sf_dir, "lineitem"), "l_extendedprice")
    tot = obs.agg(F.sum("n").alias("n_total"))
    spine = spark.createDataFrame(
        [(d, float(p)) for d, p in _BENFORD_P.items()],
        "digit int, expected_p double",
    )
    n_obs = F.coalesce(F.col("n"), F.lit(0)).cast("long")
    expected_n = F.col("expected_p") * F.col("n_total").cast("double")
    dev = n_obs.cast("double") - expected_n
    return (
        spine.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            n_obs.alias("n_obs"),
            (n_obs.cast("double") / F.col("n_total").cast("double")).alias(
                "obs_share"
            ),
            "expected_p",
            (dev * dev / expected_n).alias("chi2_term"),
        )
        .orderBy("digit")
    )


# --------------------------------------------------------------------------
# DQ5 — referential-integrity audit over the TPC-H-ish fact tables: for
# each FK edge (orders->customer, lineitem->orders, lineitem->part,
# lineitem->supplier) count child rows whose key has no parent. The
# reference ENFORCES these relations in Postgres DDL (Phase1_updated.ipynb
# cells 7-13, ON DELETE rules); Spark enforces nothing, so at 100 TB the
# audit IS the constraint — run after every load, alert on nonzero.
# --------------------------------------------------------------------------

_FK_EDGES = (
    ("orders.o_custkey -> customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_orderkey -> orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey -> part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey -> supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
)


@register(
    "dq_fk_orphans",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{name}' AS fk_edge,
           (SELECT COUNT(*) FROM {child}) AS n_child_rows,
           (SELECT COUNT(*) FROM {child} c
            WHERE c.{ckey} IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM {parent} p
                              WHERE p.{pkey} = c.{ckey})) AS n_orphans,
           CAST((SELECT COUNT(*) FROM {child} c
                 WHERE c.{ckey} IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM {parent} p
                                   WHERE p.{pkey} = c.{ckey})) AS DOUBLE)
             / CAST((SELECT COUNT(*) FROM {child}) AS DOUBLE) AS orphan_frac
    """
        for name, child, ckey, parent, pkey in _FK_EDGES
    )
    + "\nORDER BY fk_edge",
    tags=("DQ5",),
)
def dq_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ5: FK orphan report (module comment) — one row per FK edge with
    child cardinality, orphan count (NULL keys are not orphans; they are
    the DDL's ON DELETE SET NULL outcome), and the orphan fraction.

    Spark shape at 100 TB: each edge is one LEFT ANTI join aggregated to a
    single count — the parent KEY COLUMN (distinct, projected to one
    int64) broadcasts for customer/part/supplier-sized dims; the
    lineitem->orders edge at full scale becomes a shuffled anti join on
    the already-partitioned order key. Counts are exact int64; the one
    division per row is the only float op."""
    from ..sources import table as _table

    frames = []
    for name, child, ckey, parent, pkey in _FK_EDGES:
        c = _table(spark, sf_dir, child).select(F.col(ckey).alias("k"))
        p = _table(spark, sf_dir, parent).select(F.col(pkey).alias("k")).distinct()
        orphans = (
            c.filter(F.col("k").isNotNull())
            .join(p, "k", "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        total = c.agg(F.count(F.lit(1)).alias("n_child_rows"))
        frames.append(
            total.crossJoin(F.broadcast(orphans)).select(
                F.lit(name).alias("fk_edge"),
                F.col("n_child_rows").cast("long").alias("n_child_rows"),
                F.col("n_orphans").cast("long").alias("n_orphans"),
                (
                    F.col("n_orphans").cast("double")
                    / F.col("n_child_rows").cast("double")
                ).alias("orphan_frac"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out.orderBy("fk_edge")


# --------------------------------------------------------------------------
# DQ6 — distribution-drift audit between two time windows of the event
# stream: per event_type, the share of traffic in a reference window vs
# the current window, plus the total-variation (L1) drift across the
# whole categorical distribution. The production use: run per load, alert
# when l1_drift_fp crosses a threshold — the earliest signal that an
# upstream producer changed behavior (schema drift's quieter sibling).
# All arithmetic is INTEGER fixed-point (1e9 == share 1.0): proportions
# via integer division, never float — bit-exact across engines,
# partitionings, and cluster sizes.
# --------------------------------------------------------------------------

_DRIFT_SPLIT = "2024-01-16 00:00:00"
_DRIFT_SCALE = 1_000_000_000


@register(
    "dq_distribution_drift",
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
    tags=("DQ6",),
)
def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ6: categorical drift report (module comment) — one row per
    event_type with counts, fixed-point shares in each window, the
    per-type share delta, and the repeated total L1 drift.

    Spark shape at 100 TB: ONE pass over events (the is_ref flag is a
    map-side expression; both window counts come out of a single hash
    aggregate keyed on event_type — no second scan, no join back to the
    raw stream). Everything after that aggregate operates on
    O(|event_type|) rows: the grand totals re-aggregate the tiny grouped
    frame and broadcast back via crossJoin, and the L1 window runs over
    the same tiny frame (a single-partition window over a handful of
    category rows, NOT over the raw events). Integer fixed-point
    throughout — no float, no order sensitivity."""
    from ..sources import table as _table

    c = (
        _table(spark, sf_dir, "events")
        # same null gate as ST17's merger (timeless/typeless events have
        # no place in an event-time drift window) — the shared-contract
        # claim below only holds with the filter on BOTH paths
        .filter(F.col("event_type").isNotNull() & F.col("ts").isNotNull())
        .select("event_type", drift_is_ref_col().alias("is_ref"))
        .groupBy("event_type")
        .agg(
            F.sum("is_ref").cast("long").alias("n_ref"),
            F.sum(1 - F.col("is_ref")).cast("long").alias("n_cur"),
        )
    )
    return drift_from_counts(c)


def drift_is_ref_col() -> F.Column:
    """1 if the event falls in the reference window, else 0 — THE window
    classification, shared by DQ6's batch pass and ST17's per-micro-batch
    counting so the two can never drift (pun intended)."""
    return F.when(
        F.col("ts") < F.lit(_DRIFT_SPLIT).cast("timestamp"), F.lit(1)
    ).otherwise(F.lit(0))


def drift_from_counts(c: DataFrame) -> DataFrame:
    """DQ6's drift algebra over a (event_type, n_ref, n_cur) counts frame
    — factored out so the streaming monitor (ST17) computes the IDENTICAL
    report from its incrementally-maintained store. Everything here
    operates on O(|event_type|) rows; integer fixed-point throughout."""
    t = c.agg(
        F.sum("n_ref").cast("long").alias("tot_ref"),
        F.sum("n_cur").cast("long").alias("tot_cur"),
    )
    # NULLIF: an EMPTY window (all data on one side of the split) yields
    # NULL shares, never a DIVIDE_BY_ZERO that kills the monitoring job —
    # adversarial-gate finding; both engines agree (div/[//] NULL -> NULL)
    p_ref = F.expr(f"({_DRIFT_SCALE} * n_ref) div nullif(tot_ref, 0)")
    p_cur = F.expr(f"({_DRIFT_SCALE} * n_cur) div nullif(tot_cur, 0)")
    delta = F.abs(p_ref - p_cur)
    from pyspark.sql import Window

    # window over the O(|event_type|) grouped frame only — a handful of
    # rows on one partition, deliberately NOT a window over raw events
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "event_type",
            F.col("n_ref").cast("long").alias("n_ref"),
            F.col("n_cur").cast("long").alias("n_cur"),
            p_ref.cast("long").alias("p_ref_fp"),
            p_cur.cast("long").alias("p_cur_fp"),
            delta.cast("long").alias("delta_fp"),
        )
        .withColumn(
            "l1_drift_fp",
            F.sum("delta_fp").over(Window.partitionBy(F.lit(1))).cast("long"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# DQ9 — MEDIAN/MAD ROBUST ANOMALY AUDIT over the daily event-count series
# per event type. dq_outlier_zscore's mean/std flags break down exactly
# when outliers exist (the outlier inflates the std that is supposed to
# catch it — masking); the robust version scores against the MEDIAN and
# the Median Absolute Deviation, which have a 50% breakdown point
# (Hampel's rule: |x - med| > 3 * 1.4826*MAD). Every day is emitted with
# its robust z and flag — never only the anomalies, so the audit cannot
# return a vacuous empty set on clean data.
# Exactness: daily counts are integers; both medians are exact order
# statistics (x or x.5, then quarters for the deviation median) — the only
# float ops are one multiply by the 1.4826 consistency constant and one
# division, both deterministic IEEE on both engines. MAD = 0 (a constant
# series) yields NULL robust_z via NULLIF and flags any deviation — the
# standard caveat, stated here.
# Plan: one fact-table pre-agg to (type, day); the two median aggregations
# and joins run over that reduced relation, dim-side broadcast.
# --------------------------------------------------------------------------


@register(
    "dq_mad_outliers",
    oracle=f"""
    WITH daily AS ({SQL_DAILY_EVENT_COUNTS}),
    med AS (
      SELECT event_type, CAST(median(n) AS DOUBLE) AS med
      FROM daily GROUP BY 1),
    dev AS (
      SELECT daily.event_type, daily.d, daily.n, med.med,
             abs(CAST(daily.n AS DOUBLE) - med.med) AS adev
      FROM daily JOIN med ON daily.event_type = med.event_type),
    madt AS (
      SELECT event_type, CAST(median(adev) AS DOUBLE) AS mad
      FROM dev GROUP BY 1)
    SELECT dev.event_type, dev.d, dev.n AS n_events, dev.med, madt.mad,
           (CAST(dev.n AS DOUBLE) - dev.med)
             / NULLIF(1.4826 * madt.mad, 0.0) AS robust_z,
           abs(CAST(dev.n AS DOUBLE) - dev.med)
             > 3.0 * (1.4826 * madt.mad) AS is_anomaly
    FROM dev JOIN madt ON dev.event_type = madt.event_type
    ORDER BY dev.event_type, dev.d
    """,
    tags=("DQ9",),
)
def dq_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ9: Hampel median/MAD anomaly flags over daily event counts per
    type (block comment above) — every day scored, outlier-resistant."""
    from .relational_ext import daily_event_counts

    daily = daily_event_counts(spark, sf_dir)
    med = daily.groupBy("event_type").agg(
        F.median("n").cast("double").alias("med")
    )
    dev = daily.join(F.broadcast(med), "event_type").select(
        "event_type",
        "d",
        "n",
        "med",
        F.abs(F.col("n").cast("double") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.median("adev").cast("double").alias("mad")
    )
    scale = F.lit(1.4826) * F.col("mad")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            "d",
            F.col("n").alias("n_events"),
            "med",
            "mad",
            (
                (F.col("n").cast("double") - F.col("med"))
                / F.nullif(scale, F.lit(0.0))
            ).alias("robust_z"),
            (F.abs(F.col("n").cast("double") - F.col("med")) > F.lit(3.0) * scale)
            .alias("is_anomaly"),
        )
        .orderBy("event_type", "d")
    )
