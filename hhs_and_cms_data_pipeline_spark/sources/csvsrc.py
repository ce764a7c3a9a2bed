"""CSV ingest sources (SURVEY §2.1 S1/S2) with explicit schemas.

The reference infers types with pandas then fixes them post-hoc
(helper_load_hhs.py:45, load-quality.py:56-62); here schemas are declared
(SURVEY §1.3: never inferSchema in production paths — a schema drift fails
loudly at read instead of corrupting 100 TB downstream).
"""

from __future__ import annotations

import csv
import os
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# FIXTURES.md A1 — the 17 consumed HHS columns (helper_load_hhs.py:46-52).
HHS_BED_METRICS = (
    "all_adult_hospital_beds_7_day_avg",
    "all_pediatric_inpatient_beds_7_day_avg",
    "all_adult_hospital_inpatient_bed_occupied_7_day_avg",
    "all_pediatric_inpatient_bed_occupied_7_day_avg",
    "total_icu_beds_7_day_avg",
    "icu_beds_used_7_day_avg",
    "inpatient_beds_used_covid_7_day_avg",
    "staffed_icu_adult_patients_confirmed_covid_7_day_avg",
)

HHS_WEEKLY_SCHEMA = T.StructType(
    [
        T.StructField("hospital_pk", T.StringType(), False),
        T.StructField("state", T.StringType(), True),
        T.StructField("hospital_name", T.StringType(), True),
        T.StructField("address", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("zip", T.StringType(), True),  # string: leading zeros
        T.StructField("fips_code", T.StringType(), True),
        T.StructField("geocoded_hospital_address", T.StringType(), True),
        T.StructField("collection_week", T.StringType(), True),
    ]
    + [T.StructField(m, T.DoubleType(), True) for m in HHS_BED_METRICS]
)

# FIXTURES.md A2 — CMS quality CSV headers contain spaces (load-quality.py:106-114).
CMS_QUALITY_SCHEMA = T.StructType(
    [
        T.StructField("Facility ID", T.StringType(), False),
        T.StructField("Facility Name", T.StringType(), True),
        T.StructField("City", T.StringType(), True),
        T.StructField("State", T.StringType(), True),
        T.StructField("ZIP Code", T.StringType(), True),
        T.StructField("Hospital Ownership", T.StringType(), True),
        T.StructField("Emergency Services", T.StringType(), True),
        T.StructField("Hospital Type", T.StringType(), True),
        T.StructField("Hospital overall rating", T.StringType(), True),
    ]
)


def _header(path: str) -> list[str]:
    """The CSV's header record, read on the driver with Python's ``csv``
    module instead of a Spark job. A UTF-8 byte-order mark is not part of
    the first name."""
    if not os.path.isfile(path):
        raise ValueError(f"CSV path {path} is not a regular file")
    with open(path, newline="", encoding="utf-8-sig") as fh:
        return next(csv.reader(fh), [])


def _read_by_name(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Header-NAME-based CSV binding. Passing an explicit schema together
    with header=True binds columns POSITIONALLY (the header is only
    skipped), so a real-world file with reordered or extra columns — the
    HHS weekly drop has ~100 columns in its own order — would silently
    scramble fields into the wrong columns. Instead: read the header on the
    driver, fail loudly if a declared column is missing or appears twice,
    let Spark read every column as a string in the file's own order
    (pandas-read_csv semantics, matching the reference), then select by
    NAME and cast to the declared types. Extra columns are dropped by the
    projection; column order in the file is irrelevant. ``path`` is one
    local file."""
    header = _header(path)
    counts = Counter(h.lower() for h in header if h)
    repeated = [f.name for f in schema.fields if counts[f.name.lower()] > 1]
    if repeated:
        raise ValueError(f"CSV at {path} repeats declared columns {repeated}")
    missing = [f.name for f in schema.fields if f.name not in header]
    if missing:
        raise ValueError(
            f"CSV at {path} lacks declared columns {missing}; header has "
            f"{header[:20]}..."
        )
    # Spark's own header names: an empty one becomes _c<i>, and a repeated
    # (case-insensitive) one gets its position appended.
    names = [
        f"_c{i}" if not h else f"{h}{i}" if counts[h.lower()] > 1 else h
        for i, h in enumerate(header)
    ]
    raw = spark.read.csv(
        path,
        schema=T.StructType([T.StructField(n, T.StringType()) for n in names]),
        header=True,
        mode="PERMISSIVE",
    )
    return raw.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def read_hhs_weekly(spark: SparkSession, path: str) -> DataFrame:
    """S1: HHS weekly CSV scan (helper_load_hhs.py:45). Columns bind by
    header name (see _read_by_name); extra raw columns beyond the declared
    17 are dropped by the name projection."""
    return _read_by_name(spark, path, HHS_WEEKLY_SCHEMA)


def read_cms_quality(spark: SparkSession, path: str) -> DataFrame:
    """S2: CMS quality CSV scan (load-quality.py:56-62). Name-bound like
    read_hhs_weekly. Spark partitions the file natively — no 1000-row
    driver-side batching needed (K1)."""
    return _read_by_name(spark, path, CMS_QUALITY_SCHEMA)
