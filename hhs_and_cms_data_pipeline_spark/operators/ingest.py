"""Ingest/normalization pipeline (SURVEY §3.1/§3.2) re-expressed as pure
DataFrame transformations — the reference's row loops, driver-side batching,
and per-row SQL lookups all disappear into set-based, shuffle-conscious ops.

Reference lifecycles:
  load-hhs.py: CSV -> prep (project/scrub/parse/dedup) -> location/hospital/
               weekly_report upserts          (helper_load_hhs.py:31-271)
  load-quality.py: CSV -> per-field parse -> location min-id lookup ->
               3 table upserts               (load-quality.py:95-155)

Scale notes: surrogate keys are xxhash64 of the natural key — deterministic,
collision-checked at ingest, no sequence bottleneck (SURVEY §7 hard-point 2).
The weekly fact is partitioned by collection_week at write so every
date-filtered report query prunes partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.csvsrc import HHS_BED_METRICS

SENTINEL = -999999.0

# Natural key of the location dim (Phase1_updated.ipynb:80 UNIQUE constraint).
LOCATION_NATURAL_KEY = ("city", "state", "zip_code", "address", "latitude", "longitude")


def parse_wkt_point(col: F.Column) -> tuple[F.Column, F.Column]:
    """F1/F2/F3: `POINT (lon lat)` -> (longitude, latitude) doubles.

    Reference (helper_load_hhs.py:60-63) slices chars 7..-1 and splits; it
    assigns item0 -> latitude, but WKT order is `lon lat` — that is an
    upstream bug (SURVEY §7.6); we parse correctly and document divergence.
    """
    # substring from char 8 to end, then strip the trailing ')'
    inner = F.regexp_replace(F.substring(col, 8, 1 << 20), r"\)$", "")
    parts = F.split(inner, " ")
    return (
        parts.getItem(0).cast("double"),
        parts.getItem(1).cast("double"),
    )


def scrub_sentinels(df: DataFrame, cols: tuple[str, ...] = HHS_BED_METRICS) -> DataFrame:
    """F6: -999999 -> NULL (helper_load_hhs.py:58). NaN also normalizes to NULL
    (pandas NaN -> None at helper:85-89)."""
    for c in cols:
        df = df.withColumn(
            c,
            F.when(
                (F.col(c) == SENTINEL) | F.isnan(F.col(c)), F.lit(None)
            ).otherwise(F.col(c)),
        )
    return df


def prep_hhs(raw: DataFrame) -> DataFrame:
    """The reference's prep_data (helper_load_hhs.py:31-69): project, scrub
    sentinels, parse WKT, dedup by hospital_pk, cast the week to DATE.

    Dedup is made deterministic (SURVEY §7 hard-point 3) by ranking on a
    TOTAL order of the row: (collection_week, hospital_name) alone is not
    total — two same-pk rows matching on both (e.g. a corrected metric
    resubmission in the same weekly drop) would be picked by partition
    order, so the window orders by EVERY remaining column; exact ties are
    then fully identical rows and the pick is immaterial. The oracle ranks
    by the identical column list.

    The result is staged (an eager ``localCheckpoint``): it is the input of
    every lake write of the week (location, hospital and fact splits, the
    merge's partition probe), so the CSV parse and the dedup window run once
    per batch instead of once per consumer. Not ``.cache()``: Spark's cache
    manager matches a cached plan by input path, so a weekly file re-issued
    at the same path would be served the old parse (see
    ``sources.tables.derived``).
    """
    df = scrub_sentinels(raw)
    lon, lat = parse_wkt_point(F.col("geocoded_hospital_address"))
    df = (
        df.withColumn("longitude", lon)
        .withColumn("latitude", lat)
        .withColumn("collection_week", F.to_date("collection_week", "yyyy-MM-dd"))
        .withColumnRenamed("zip", "zip_code")
    )
    tiebreak_cols = [
        "collection_week", "hospital_name", "state", "address", "city",
        "zip_code", "fips_code", "longitude", "latitude", *HHS_BED_METRICS,
    ]
    w = Window.partitionBy("hospital_pk").orderBy(
        *[F.asc_nulls_last(c) for c in tiebreak_cols]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "geocoded_hospital_address")
        .localCheckpoint(eager=True)
    )


def location_surrogate_key() -> F.Column:
    """Deterministic surrogate id: xxhash64 of the natural key (SERIAL has no
    distributed equivalent — SURVEY §1.2). Null-safe concat keeps distinct
    natural keys distinct."""
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("\u0000null")) for c in LOCATION_NATURAL_KEY
    ]
    return F.xxhash64(F.concat_ws("", *parts))


def split_location(prepped: DataFrame) -> DataFrame:
    """P2: location dim projection + dedup on the natural key
    (helper_load_hhs.py:82-83 + the UNIQUE constraint at Phase1:80)."""
    return (
        prepped.select(
            "city", "state", "zip_code", "address", "latitude", "longitude", "fips_code"
        )
        .dropDuplicates(list(LOCATION_NATURAL_KEY))
        .withColumn("id", location_surrogate_key())
    )


def split_hospital(prepped: DataFrame, location: DataFrame) -> DataFrame:
    """P2 + J5 re-expressed: attach location_id by equi-join on the natural key
    (replaces the reference's order-fragile positional zip, helper:154-156)."""
    join_cond = [
        prepped[c].eqNullSafe(location[c]) for c in LOCATION_NATURAL_KEY
    ]
    return (
        prepped.join(location.select(*LOCATION_NATURAL_KEY, "id"), join_cond, "left")
        .select(
            prepped["hospital_pk"],
            prepped["hospital_name"],
            location["id"].alias("location_id"),
        )
    )


def split_weekly_report(prepped: DataFrame) -> DataFrame:
    """P2: weekly fact projection (helper_load_hhs.py:218-228)."""
    return prepped.select(
        F.col("hospital_pk").alias("hospital_weekly_id"),
        "collection_week",
        *HHS_BED_METRICS,
    )


# ---------------------------------------------------------------------------
# CMS quality pipeline (load-quality.py)
# ---------------------------------------------------------------------------


def parse_quality_rating(col: F.Column) -> F.Column:
    """F12 + P6 (load-quality.py:158-174): digits-only parse; out-of-range and
    'Not Available' / '' / non-numeric -> NULL."""
    digits = F.when(F.trim(col).rlike("^[0-9]+$"), F.trim(col).cast("int"))
    return F.when(digits.between(1, 5), digits)


def parse_boolean_yes(col: F.Column) -> F.Column:
    """F11 (load-quality.py:177-189): trim+lower == 'yes'; NULL stays NULL."""
    return F.when(col.isNotNull(), F.lower(F.trim(col)) == "yes")


def normalize_cms(raw: DataFrame, rating_date: str) -> DataFrame:
    """load-quality.py:95-125 process_row, as column expressions (no row loop)."""
    return raw.select(
        F.col("Facility ID").alias("facility_id"),
        F.col("Facility Name").alias("facility_name"),
        F.col("City").alias("city"),
        F.col("State").alias("state"),
        F.col("ZIP Code").alias("zip_code"),
        F.col("Hospital Ownership").alias("ownership"),
        F.col("Hospital Type").alias("hospital_type"),
        parse_quality_rating(F.col("Hospital overall rating")).alias("quality_rating"),
        parse_boolean_yes(F.col("Emergency Services")).alias(
            "provides_emergency_services"
        ),
        F.to_date(F.lit(rating_date), "yyyy-MM-dd").alias("rating_date"),
    )


def cms_location_lookup(quality: DataFrame, location: DataFrame) -> DataFrame:
    """J7 (load-quality.py:141-145): the correlated `SELECT id ... ORDER BY id
    LIMIT 1` per row becomes one broadcastable min-id aggregate + equi-join."""
    min_ids = location.groupBy("city", "state", "zip_code").agg(
        F.min("id").alias("location_id")
    )
    return quality.join(F.broadcast(min_ids), ["city", "state", "zip_code"], "left")


def upsert_new_keys(
    incoming: DataFrame, existing: DataFrame | None, keys: list[str]
) -> DataFrame:
    """K3/U3: ON CONFLICT DO NOTHING — rows whose key is absent from existing.

    NULL-SAFE key equality (adversarial-gate finding, round 11): a plain
    equi anti-join never matches a NULL key, so a NULL-keyed row would be
    re-appended on EVERY re-load — the exact non-idempotence this helper
    exists to prevent. eqNullSafe treats NULL as a key value, so re-loading
    the same batch is a no-op for every row. (PostgreSQL sidesteps this by
    forbidding NULL in primary keys; a lake table has no such constraint.)

    At scale: existing is read key-columns-only (column pruning; `sinks`
    reads it with the batch's key schema) and the anti join uses a broadcast
    when the key set is small; for fact-sized targets, partition-prune
    `existing` to the incoming date range first. The build side is not
    deduplicated: a left-anti join keeps the same rows whatever the
    multiplicity on its right, and a distinct would add a shuffle under the
    broadcast. eqNullSafe (<=>) is still a hash-join key in Spark, not a
    cartesian degradation.
    """
    if existing is None:
        return incoming
    inc = incoming.alias("inc")
    ex = existing.select(*keys).alias("ex")
    cond = None
    for k in keys:
        term = F.col(f"inc.{k}").eqNullSafe(F.col(f"ex.{k}"))
        cond = term if cond is None else (cond & term)
    return inc.join(ex, cond, "left_anti")
