"""Driver-visible queries for the source/sink surface (SURVEY §2.1:
S1 schema'd CSV scan, S2 all-string CSV scan, S4 JSON scan, K1 partitioned
batch append, K2 atomic overwrite publish).

Each builder materializes its input file/table EAGERLY (before returning the
DataFrame) under ``_IO_DIR`` and derives everything from ``nation`` — a
fixed-size TPC-H table whose 25 rows are identical at every scale factor —
so the oracle never races the write and never depends on which sf_dir
produced the file. Importing this module writes nothing: the oracle SQL
embeds the fixture paths, which are only read after the builder has run.
``_IO_DIR`` lives under ``tempfile.gettempdir()`` (resolved once, at
import), so the paths are known without a session and a caller that points
``TMPDIR`` elsewhere keeps every fixture out of the checkout.

Reference sites: CSV scans helper_load_hhs.py:45 / load-quality.py:56-62;
batched insert sink helper_load_hhs.py:92-99 (1000-row executemany);
transactional commit load-hhs.py:28-33.
"""

from __future__ import annotations

import csv
import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.exact import sql_dsum
from ..registry import register
from ..sinks import (
    append_new_keys,
    clear_published_versions,
    read_published,
    write_parquet_atomic,
)
from ..sources import derived, table

_IO_DIR = os.path.join(tempfile.gettempdir(), "spark_graft_io")


def _tagged_io_path(name: str, sf_dir: str) -> str:
    """SF-tagged scratch path under _IO_DIR. Rewrite-style queries (S6, K4,
    S7) rmtree-then-rewrite their layouts; a fixed path would let two
    processes running the same query against different SFs race and
    transiently read each other's half-written directory. Tagging by
    md5(sf_dir) — the same scheme ST11's stream_snapshot_publish uses for
    its /tmp dirs — gives each SF its own layout."""
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(_IO_DIR, f"{name}_{tag}")


_NATION_CSV = os.path.join(_IO_DIR, "nation.csv")
_NATION_JSONL = os.path.join(_IO_DIR, "nation.jsonl")

NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.LongType(), False),
        T.StructField("n_name", T.StringType(), True),
        T.StructField("n_regionkey", T.LongType(), True),
    ]
)


def _atomic_write_text(path: str, write_fn) -> None:
    """Write-to-temp + os.replace: a concurrent reader (Spark scan or the
    DuckDB oracle in another process) can never observe a truncated
    half-written fixture, which a plain open('w') rewrite allows."""
    tmp = f"{path}.__tmp__{os.getpid()}"
    with open(tmp, "w", newline="") as f:
        write_fn(f)
    os.replace(tmp, path)


def _export_nation(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """Collect nation (25 rows, identical at every SF) sorted by key."""
    rows = (
        table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .collect()
    )
    return [tuple(r) for r in rows]


def _write_nation_csv(spark: SparkSession, sf_dir: str) -> None:
    os.makedirs(_IO_DIR, exist_ok=True)
    rows = _export_nation(spark, sf_dir)

    def _w(f):
        w = csv.writer(f, quoting=csv.QUOTE_MINIMAL)
        w.writerow(["n_nationkey", "n_name", "n_regionkey"])
        w.writerows(rows)

    _atomic_write_text(_NATION_CSV, _w)


def _write_nation_jsonl(spark: SparkSession, sf_dir: str) -> None:
    os.makedirs(_IO_DIR, exist_ok=True)
    rows = _export_nation(spark, sf_dir)

    def _w(f):
        for k, name, rk in rows:
            f.write(
                json.dumps({"n_nationkey": k, "n_name": name, "n_regionkey": rk})
                + "\n"
            )

    _atomic_write_text(_NATION_JSONL, _w)


@register(
    "s1_csv_scan_schema",
    oracle=f"""
    SELECT n_nationkey, n_name, n_regionkey
    FROM read_csv('{_NATION_CSV}', header=true)
    ORDER BY n_nationkey
    """,
    tags=("S1",),
)
def s1_csv_scan_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: CSV scan with an explicit declared schema + column projection
    (helper_load_hhs.py:45-52 reads ~100 raw columns, consumes 17). The
    projection reaches the scan — Spark's CSV reader parses only selected
    columns. Never inferSchema in a production path (SURVEY §1.3)."""
    _write_nation_csv(spark, sf_dir)
    return (
        spark.read.csv(_NATION_CSV, header=True, schema=NATION_SCHEMA)
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    )


@register(
    "s2_csv_scan_strings",
    oracle=f"""
    SELECT n_nationkey, n_name, n_regionkey
    FROM read_csv('{_NATION_CSV}', header=true, all_varchar=true)
    ORDER BY CAST(n_nationkey AS BIGINT)
    """,
    tags=("S2",),
)
def s2_csv_scan_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: everything-is-a-string CSV scan — csv.DictReader semantics
    (load-quality.py:56-62), with typed parsing deferred to downstream
    column expressions (F11/F12). Spark streams and partitions the file
    natively; the reference's 1000-row driver batching disappears."""
    _write_nation_csv(spark, sf_dir)
    all_string = T.StructType(
        [T.StructField(f.name, T.StringType(), True) for f in NATION_SCHEMA.fields]
    )
    return (
        spark.read.csv(_NATION_CSV, header=True, schema=all_string)
        .orderBy(F.col("n_nationkey").cast("long"))
    )


@register(
    "s4_json_scan",
    oracle=f"""
    SELECT n_nationkey, n_name, n_regionkey
    FROM read_json('{_NATION_JSONL}', format='newline_delimited')
    ORDER BY n_nationkey
    """,
    tags=("S4",),
)
def s4_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: newline-delimited JSON scan with explicit schema (the reference's
    GeoJSON fetch, weekly-report.py:140-147, is presentation-side; the engine
    capability is the JSON source itself)."""
    _write_nation_jsonl(spark, sf_dir)
    return (
        spark.read.schema(NATION_SCHEMA)
        .json(_NATION_JSONL)
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    )


_GEOJSON_PATH = os.path.join(_IO_DIR, "us_states_sample.geojson")


def _write_geojson() -> None:
    from ..sources.geojson import write_synthetic_geojson

    write_synthetic_geojson(_GEOJSON_PATH)


@register(
    "s4_geojson_scan",
    oracle=f"""
    SELECT feat.id AS state_id,
           feat.properties.name AS state_name,
           feat.geometry.type AS geom_type,
           len(feat.geometry.coordinates) AS n_rings,
           len(flatten(feat.geometry.coordinates)) AS n_vertices,
           list_min(list_transform(flatten(feat.geometry.coordinates), p -> p[1])) AS min_lon,
           list_max(list_transform(flatten(feat.geometry.coordinates), p -> p[1])) AS max_lon,
           list_min(list_transform(flatten(feat.geometry.coordinates), p -> p[2])) AS min_lat,
           list_max(list_transform(flatten(feat.geometry.coordinates), p -> p[2])) AS max_lat
    FROM (SELECT unnest(features) AS feat
          FROM read_json('{_GEOJSON_PATH}', format='unstructured',
            columns={{'type': 'VARCHAR',
                     'features': 'STRUCT(type VARCHAR, id VARCHAR, properties STRUCT(name VARCHAR), geometry STRUCT(type VARCHAR, coordinates DOUBLE[][][]))[]'}}))
    ORDER BY state_id
    """,
    tags=("S4",),
)
def s4_geojson_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 variant: GeoJSON FeatureCollection scan (the reference's HTTP
    choropleth fetch, weekly-report.py:139-152) — typed multiLine JSON read,
    explode(features), per-feature ring/vertex counts and bounding boxes via
    nested-array expressions. The HTTP half is the S10 data source
    (sources/geojson_datasource.py); this query exercises the full
    parse/compute path on a deterministic synthetic FeatureCollection."""
    from ..sources.geojson import read_geojson_features

    _write_geojson()
    return read_geojson_features(spark, _GEOJSON_PATH).orderBy("state_id")


# S10: the fetch itself as a Spark 4 Python Data Source — one URL per
# input partition (sources/geojson_datasource.py module comment). Two
# disjoint synthetic shards stand in for two API pages; file:// is the
# offline transport for the identical fetch code that takes https:// in
# deployment.
_GEOJSON_SHARD_A = os.path.join(_IO_DIR, "us_states_shard_a.geojson")
_GEOJSON_SHARD_B = os.path.join(_IO_DIR, "us_states_shard_b.geojson")


def _write_geojson_shards() -> None:
    from ..sources.geojson import write_synthetic_geojson

    write_synthetic_geojson(_GEOJSON_SHARD_A, n_states=12, start=0)
    write_synthetic_geojson(_GEOJSON_SHARD_B, n_states=8, start=12)


_SQL_GEOJSON_COLUMNS = (
    "{'type': 'VARCHAR', 'features': 'STRUCT(type VARCHAR, id VARCHAR, "
    "properties STRUCT(name VARCHAR), geometry STRUCT(type VARCHAR, "
    "coordinates DOUBLE[][][]))[]'}"
)


@register(
    "s10_geojson_datasource",
    oracle=f"""
    WITH feats AS (
      SELECT unnest(features) AS feat,
             'file://{_GEOJSON_SHARD_A}' AS source_url
      FROM read_json('{_GEOJSON_SHARD_A}', format='unstructured',
                     columns={_SQL_GEOJSON_COLUMNS})
      UNION ALL
      SELECT unnest(features) AS feat,
             'file://{_GEOJSON_SHARD_B}' AS source_url
      FROM read_json('{_GEOJSON_SHARD_B}', format='unstructured',
                     columns={_SQL_GEOJSON_COLUMNS}))
    SELECT feat.id AS state_id,
           feat.properties.name AS state_name,
           feat.geometry.type AS geom_type,
           len(feat.geometry.coordinates) AS n_rings,
           len(flatten(feat.geometry.coordinates)) AS n_vertices,
           list_min(list_transform(flatten(feat.geometry.coordinates), p -> p[1])) AS min_lon,
           list_max(list_transform(flatten(feat.geometry.coordinates), p -> p[1])) AS max_lon,
           list_min(list_transform(flatten(feat.geometry.coordinates), p -> p[2])) AS min_lat,
           list_max(list_transform(flatten(feat.geometry.coordinates), p -> p[2])) AS max_lat,
           source_url
    FROM feats
    ORDER BY state_id
    """,
    tags=("S10",),
)
def s10_geojson_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: the reference's HTTP GeoJSON fetch (weekly-report.py:139-152)
    as a first-class Python Data Source — `format("geojson_features")`,
    one URL per input partition, so a URL manifest fans out across the
    cluster instead of serializing through the driver. The Python layer
    does I/O + parse only and emits RAW nested coordinates; ring/vertex
    counts and bounding boxes are computed here with JVM-side nested-array
    expressions (flatten/transform/array_min) — identical compute contract
    to s4_geojson_scan, proven by the shared oracle shape.

    Scale posture: per-URL partitioning is the available parallelism axis
    for one-document-per-URL APIs; each task fetches, parses, and hands
    Spark columnar batches. Adding pages = adding partitions, no driver
    bottleneck, no shuffle anywhere in this plan."""
    from ..sources.geojson_datasource import GeoJsonFeaturesDataSource

    _write_geojson_shards()
    spark.dataSource.register(GeoJsonFeaturesDataSource)
    urls = ";".join(
        f"file://{p}" for p in (_GEOJSON_SHARD_A, _GEOJSON_SHARD_B)
    )
    raw = spark.read.format("geojson_features").option("urls", urls).load()
    verts = F.flatten(F.col("coordinates"))
    lons = F.transform(verts, lambda p: p.getItem(0))
    lats = F.transform(verts, lambda p: p.getItem(1))
    return (
        raw.select(
            "state_id",
            "state_name",
            "geom_type",
            F.size("coordinates").cast("long").alias("n_rings"),
            F.size(verts).cast("long").alias("n_vertices"),
            F.array_min(lons).alias("min_lon"),
            F.array_max(lons).alias("max_lon"),
            F.array_min(lats).alias("min_lat"),
            F.array_max(lats).alias("max_lat"),
            "source_url",
        )
        .orderBy("state_id")
    )


@register(
    "k1_partitioned_append",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    ORDER BY n_nationkey
    """,
    tags=("K1", "K3"),
)
def k1_partitioned_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1+K3: idempotent partitioned append, read back. The same batch is
    appended twice; the second pass anti-joins to a no-op (ON CONFLICT DO
    NOTHING, helper_load_hhs.py:96,163), so read-back equals one copy of
    nation. Batching is per-partition parallel Parquet writes — the
    reference's 1000-row executemany flush has no distributed analogue to
    hand-tune. Partitioning by n_regionkey mirrors the date-partitioned
    fact-table layout that buys partition pruning at 100 TB."""
    # SF-tagged like S6/K4/S7: an untagged reset-then-append path is the
    # documented cross-process race (_tagged_io_path) — two SFs running k1
    # concurrently would double-append or read a half-deleted dir
    path = _tagged_io_path("k1_nation", sf_dir)
    clear_published_versions(path)
    src = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    for _ in range(2):  # second append must be a no-op
        append_new_keys(spark, src, path, keys=["n_nationkey"], partition_by=["n_regionkey"])
    return (
        read_published(spark, path)
        .select(
            "n_nationkey",
            "n_name",
            # partition-column read-back infers int; pin to the source dtype
            # so the schema matches the oracle's nation view exactly
            F.col("n_regionkey").cast("int").alias("n_regionkey"),
        )
        .orderBy("n_nationkey")
    )


@register(
    "k2_atomic_publish",
    oracle="""
    SELECT n_regionkey, COUNT(*) AS n_nations
    FROM nation
    GROUP BY 1
    ORDER BY n_regionkey
    """,
    tags=("K2",),
)
def k2_atomic_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2: all-or-nothing publish (write temp dir + atomic rename), read
    back. Mirrors the reference's single-transaction load with rollback on
    failure (load-hhs.py:28-34): readers never observe a partial table."""
    path = os.path.join(_IO_DIR, "k2_region_counts")
    agg = (
        table(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )
    write_parquet_atomic(agg, path)
    return read_published(spark, path).orderBy("n_regionkey")


_MESSY_CSV = os.path.join(_IO_DIR, "nation_messy.csv")

# Two deliberately bad lines: a type error (non-numeric key) and a
# wrong-arity row. Real-world weekly CSV drops contain both (SURVEY §3.1:
# the reference's loads hit sentinel junk and short rows routinely).
_BAD_LINES = ["xx,BADLAND,9", "7,SHORT"]


def _write_messy_csv(spark: SparkSession, sf_dir: str) -> None:
    os.makedirs(_IO_DIR, exist_ok=True)
    rows = _export_nation(spark, sf_dir)

    def _w(f):
        w = csv.writer(f, quoting=csv.QUOTE_MINIMAL)
        w.writerow(["n_nationkey", "n_name", "n_regionkey"])
        for i, row in enumerate(rows):
            w.writerows([row])
            if i == 4:  # interleave the junk mid-file, not at the edges
                f.write(_BAD_LINES[0] + "\n")
            if i == 9:
                f.write(_BAD_LINES[1] + "\n")

    _atomic_write_text(_MESSY_CSV, _w)


MESSY_SCHEMA = T.StructType(
    list(NATION_SCHEMA.fields) + [T.StructField("_corrupt", T.StringType(), True)]
)


def messy_csv_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERMISSIVE read with the corrupt-record column — shared by the
    registered query (good rows) and the quarantine test (bad rows).

    Checkpointed: Spark refuses plans over a raw CSV that reference ONLY
    the internal corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_COLUMN),
    which is exactly what column pruning produces for a bare count() on
    the filtered frame; the checkpoint materializes the parse once (the
    fixture is tiny — nation is SF-invariant) and every downstream shape
    is then legal. Memoized on ``nation``, so the fixture is written and
    parsed once per version of its input."""

    def build() -> DataFrame:
        _write_messy_csv(spark, sf_dir)
        return spark.read.csv(
            _MESSY_CSV,
            header=True,
            schema=MESSY_SCHEMA,
            mode="PERMISSIVE",
            columnNameOfCorruptRecord="_corrupt",
        ).localCheckpoint(eager=True)

    return derived(spark, sf_dir, "messy_csv", ("nation",), build)


@register(
    "s5_csv_permissive_corrupt",
    oracle=f"""
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM read_csv('{_MESSY_CSV}', header=true, all_varchar=true,
                  ignore_errors=true)
    WHERE TRY_CAST(n_nationkey AS BIGINT) IS NOT NULL
      AND TRY_CAST(n_regionkey AS BIGINT) IS NOT NULL
    ORDER BY n_nationkey
    """,
    tags=("S5",),
)
def s5_csv_permissive_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: malformed-row quarantine on CSV ingest. PERMISSIVE mode parses
    every line, routing type errors and wrong-arity rows into a corrupt-
    record column instead of failing the job or silently dropping data —
    at 100 TB a FAILFAST load dies hours in on one bad line, and DROPMALFORMED
    loses rows invisibly. Good rows flow on typed; the corrupt raw lines stay
    queryable for quarantine/audit (tests assert both bad lines are captured
    verbatim). The oracle reads the same file leniently and re-derives the
    good subset via TRY_CAST."""
    df = messy_csv_frame(spark, sf_dir)
    return (
        df.filter(F.col("_corrupt").isNull())
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    )


@register(
    "s6_orc_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    ORDER BY n_nationkey
    """,
    tags=("S6",),
)
def s6_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: ORC source/sink round-trip — the second columnar format the
    engine speaks natively (Spark's vectorized ORC reader/writer; no
    external package). Interop matters at 100 TB: upstream Hive/Trino
    warehouses are frequently ORC, and a migration engine must read them
    without a conversion pass. The table is written snappy-compressed and
    read back; the oracle is the original relation, so the check proves
    the round-trip is lossless (values, nullability, column order)."""
    path = _tagged_io_path("s6_nation_orc", sf_dir)
    (
        table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite")
        .orc(path)
    )
    return spark.read.orc(path).orderBy("n_nationkey")


@register(
    "s12_xml_scan",
    oracle="""
    SELECT n_regionkey,
           COUNT(*) AS n_nations,
           CAST(SUM(n_nationkey) AS BIGINT) AS sum_keys,
           MIN(n_name) AS first_name
    FROM nation
    GROUP BY n_regionkey
    ORDER BY n_regionkey
    """,
    tags=("S12",),
)
def s12_xml_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12: XML source — Spark 4's built-in XML data source (SPARK-44265;
    rowTag-delimited records, declared schema so no inference pass) read
    through the same scan path any feed-style XML drop would use. The
    layout is staged once per (sf) from nation.parquet — deterministic,
    self-contained — and the oracle aggregates the ORIGINAL relation, so
    the check proves XML write→read loses nothing the aggregation can
    see (keys, counts, string order).

    Scale notes: XML is record-delimited by rowTag, so the reader splits
    files like any text source — parallelism comes from file count
    (staged as 4 part files here); schema is DECLARED (an inference pass
    over 100 TB of XML is a full extra scan)."""
    import xml.sax.saxutils as sx

    path = _tagged_io_path("s12_nation_xml", sf_dir)
    rows = (
        table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect()  # 25-row dim table: driver-side staging is fine
    )
    tmp = f"{path}.staging.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # NULL staging contract: a None value OMITS its element (the XML
    # reader maps a missing element to NULL; interpolating None would
    # write the literal string "None"). Adversarial-gate finding, r11.
    def _el(tag, v):
        return "" if v is None else f"<{tag}>{sx.escape(str(v))}</{tag}>"

    n_files = 4
    for i in range(n_files):
        chunk = [r for j, r in enumerate(rows) if j % n_files == i]
        body = "".join(
            "<nation>"
            + _el("n_nationkey", r.n_nationkey)
            + _el("n_name", r.n_name)
            + _el("n_regionkey", r.n_regionkey)
            + "</nation>"
            for r in chunk
        )
        with open(os.path.join(tmp, f"part-{i}.xml"), "w") as f:
            f.write(f"<nations>{body}</nations>")
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.LongType()),
        ]
    )
    xml = (
        spark.read.format("xml")
        .option("rowTag", "nation")
        # default true would TRIM element text, collapsing a whitespace
        # name to "" — lossy vs the original relation the oracle reads
        .option("ignoreSurroundingSpaces", "false")
        .schema(schema)
        .load(path)
    )
    return (
        xml.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum("n_nationkey").cast("long").alias("sum_keys"),
            F.min("n_name").alias("first_name"),
        )
        .orderBy("n_regionkey")
    )


@register(
    "k10_manifest_sink_roundtrip",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {sql_dsum("value")} AS sum_value
    FROM events
    WHERE event_type IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("K10",),
)
def k10_manifest_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K10: write per-type event aggregates through the manifest-committed
    JSONL sink — a Spark 4 Python Data Source WRITER implementing the
    two-phase job commit (sources/manifest_sink.py: uuid part files per
    task, manifest written by commit() via atomic rename, readers see
    ONLY manifest-listed files) — then read the committed files back with
    a declared schema. The oracle recomputes the aggregation from the raw
    table, so the differential check proves the write -> commit ->
    manifest-scoped read trip is lossless, including the exact-decimal
    double sums surviving the JSON round trip (shortest-repr write,
    correctly-rounded parse — both engines' bit pattern)."""
    from ..functions.exact import dsum
    from ..sources.manifest_sink import manifest_files, register_manifest_sink

    path = _tagged_io_path("k10_manifest_jsonl", sf_dir)
    # superseded uuid parts from earlier runs are invisible (manifest
    # rewrite) but would accumulate on disk forever without this
    shutil.rmtree(path, ignore_errors=True)
    register_manifest_sink(spark)
    agg = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
        )
    )
    agg.write.format("manifest_jsonl").option("path", path).option(
        "audit_column", "sum_value"
    ).mode("append").save()
    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )
    return (
        spark.read.schema(schema)
        .json(manifest_files(path))
        .orderBy("event_type")
    )


@register(
    "k4_compact_small_files",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    ORDER BY n_nationkey
    """,
    tags=("K4",),
)
def k4_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4: small-file compaction — the table-maintenance pass every
    streaming/incremental sink needs (each micro-batch/append leaves
    file-per-partition debris; at 100 TB, millions of KB-sized files make
    NameNode/listing and scan setup the bottleneck). The table is written
    as many tiny files, then rewritten with a single coalesce(1)-per-target
    pass into size-appropriate files; the atomic-publish sink (K2) swaps
    the compacted layout in so readers never see a half-compacted table.
    The oracle checks the rewrite is content-lossless; the file counts are
    asserted in tests."""
    fragmented = _tagged_io_path("k4_fragmented", sf_dir)
    compacted = _tagged_io_path("k4_compacted", sf_dir)
    shutil.rmtree(fragmented, ignore_errors=True)
    src = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    # one file per row: the pathological layout an append-heavy sink leaves
    src.repartition(25, "n_nationkey").write.mode("overwrite").parquet(fragmented)
    frag_df = spark.read.parquet(fragmented)
    # compaction: coalesce to the target file count (size-based in prod:
    # ceil(table_bytes / target_file_bytes)) and publish atomically
    write_parquet_atomic(frag_df.coalesce(1), compacted)
    return read_published(spark, compacted).orderBy("n_nationkey")


@register(
    "s7_schema_evolution_merge",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey, NULL AS load_batch
    FROM nation WHERE n_regionkey = 0
    UNION ALL
    SELECT n_nationkey, n_name, n_regionkey, 7 AS load_batch
    FROM nation WHERE n_regionkey <> 0
    ORDER BY n_nationkey
    """,
    tags=("S7",),
)
def s7_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: schema-evolution read. A long-lived landing zone accumulates
    files written under different schema versions (here: a later load adds
    a load_batch column); mergeSchema=true reconciles them at read time,
    NULL-filling the column for old files — the lakehouse answer to the
    reference's fixed-DDL ALTER TABLE migrations. Explicitly opt-in:
    schema merging is a footer-read per file at planning time, so at 100 TB
    you pin the merged schema in a catalog instead of re-deriving it per
    query (spark.read.schema(...) over the same files is the fast path)."""
    path = _tagged_io_path("s7_evolved", sf_dir)
    src = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    v1 = src.filter(F.col("n_regionkey") == 0)
    v2 = src.filter(F.col("n_regionkey") != 0).withColumn(
        "load_batch", F.lit(7).cast("int")
    )
    v1.write.mode("overwrite").parquet(path)
    v2.write.mode("append").parquet(path)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(path)
        .select("n_nationkey", "n_name", "n_regionkey", "load_batch")
        .orderBy("n_nationkey")
    )


# --------------------------------------------------------------------------
# K5 — MERGE with partition-scoped rewrite: the plain-Parquet answer to
# transactional ON CONFLICT upserts at scale (round-3 VERDICT item 8).
# --------------------------------------------------------------------------

_MERGE_DAY = "2024-01-15"
_MERGE_ID_OFFSET = 10**9


@register(
    "k5_merge_partition_rewrite",
    oracle=f"""
    WITH ev AS (
      -- event_id guard: one NULL key in upd would turn NOT IN into
      -- UNKNOWN-for-every-row and empty the carried-over branch, while the
      -- Spark side's left_anti join (null-unsafe) would keep them
      SELECT event_id, CAST(ts AS DATE) AS event_date, event_type, value
      FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL),
    upd AS (
      SELECT event_id, event_date, event_type, value * 2 AS value
      FROM ev WHERE event_date = DATE '{_MERGE_DAY}'),
    ins AS (
      SELECT event_id + {_MERGE_ID_OFFSET} AS event_id, event_date,
             event_type, value + 1000.0 AS value
      FROM ev WHERE event_date = DATE '{_MERGE_DAY}'),
    merged AS (
      SELECT * FROM ev
      WHERE event_id NOT IN (SELECT event_id FROM upd)
      UNION ALL SELECT * FROM upd
      UNION ALL SELECT * FROM ins)
    SELECT event_id, event_date, event_type, value
    FROM merged ORDER BY event_id
    """,
    tags=("K5",),
)
def k5_merge_partition_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5: MERGE (update + insert by key) into a day-partitioned published
    events table, rewriting ONLY the touched partition. The update batch
    doubles `value` for every event on one day and inserts a shifted-key
    copy of the same rows; sinks.merge_rewrite_partitions anti-joins just
    that day's partition, carries every other partition over by hardlink
    (zero copy), and swaps the published symlink atomically — the
    strongest plain-Parquet approximation of the reference's transactional
    ON CONFLICT load (load-hhs.py:28-33, helper_load_hhs.py:96) without a
    table format. The oracle states MERGE semantics declaratively; the
    check proves the partition-scoped rewrite produces exactly them.
    At 100 TB: cost follows the update batch (one day), not the table."""
    from ..sinks import merge_rewrite_partitions

    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("event_id").isNotNull())
        .select(
            "event_id",
            "ts",
            "event_type",
            "value",
            F.to_date("ts").alias("event_date"),
        )
    )
    target = _tagged_io_path("k5_merge_target", sf_dir)
    write_parquet_atomic(ev, target, partition_by=["event_date"])
    day = F.lit(_MERGE_DAY).cast("date")
    src = ev.filter(F.col("event_date") == day)
    updates = src.withColumn("value", F.col("value") * 2)
    inserts = src.withColumn(
        "event_id", F.col("event_id") + F.lit(_MERGE_ID_OFFSET)
    ).withColumn("value", F.col("value") + F.lit(1000.0))
    merge_rewrite_partitions(
        spark,
        updates.unionByName(inserts),
        target,
        keys=["event_id"],
        partition_col="event_date",
    )
    return (
        read_published(spark, target)
        .select("event_id", "event_date", "event_type", "value")
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# K6 — time-travel read: the snapshot one publish ago.
# --------------------------------------------------------------------------


@register(
    "k6_time_travel_read",
    oracle="""
    SELECT n_regionkey, COUNT(*) AS n_nations
    FROM nation
    GROUP BY 1
    ORDER BY n_regionkey
    """,
    tags=("K6",),
)
def k6_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6: publish version 1 (per-region nation counts), then version 2
    (counts doubled), then time-travel back to version 1 via
    read_published_version(steps_back=1). The oracle states v1's content —
    it can only match if the snapshot read really resolves the dethroned
    version, not the current one (v2's doubled counts would hash-mismatch).

    This is the plain-filesystem analogue of `SELECT ... VERSION AS OF n-1`:
    every publish is an immutable version dir, the current symlink is the
    log head, and dethroned versions stay readable for the GC grace — the
    contract snapshot readers and slowly-draining dashboards rely on while
    a load job republishes under them (reference: the rollback/retention
    behavior around load-hhs.py:28-34).
    """
    from ..sinks import read_published_version

    path = _tagged_io_path("k6_versions", sf_dir)
    clear_published_versions(path)  # deterministic rerun
    v1 = (
        table(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )
    write_parquet_atomic(v1, path)
    v2 = v1.withColumn("n_nations", F.col("n_nations") * 2)
    write_parquet_atomic(v2, path)
    return read_published_version(spark, path, steps_back=1).orderBy("n_regionkey")


# --------------------------------------------------------------------------
# K7 — file manifest / stats table: per-file row counts and key min/max of
# a published layout — the metadata surface (Delta `describe detail`,
# Iceberg manifests) data-skipping planners read instead of data.
# --------------------------------------------------------------------------


@register(
    "k7_file_manifest",
    oracle=f"""
    SELECT regexp_extract(filename, '([^/]+/[^/]+)$', 1) AS file_name,
           COUNT(*) AS n_rows,
           MIN(n_nationkey) AS min_key,
           MAX(n_nationkey) AS max_key
    FROM read_parquet('{os.path.join(_IO_DIR, "k7_nation")}/*/*.parquet',
                      filename=true)
    GROUP BY 1
    ORDER BY min_key, file_name
    """,
    tags=("K7",),
)
def k7_file_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7: the manifest of an atomically-published partitioned layout —
    one row per data file with its row count and key range, computed
    distributed from the data itself (`input_file_name()` + per-file
    aggregate). This is what a
    data-skipping planner consults instead of data: a scan with
    `n_nationkey = 7` prunes to files whose [min_key, max_key] covers 7.
    In production the manifest is maintained INCREMENTALLY at write time
    (each job appends its own files' stats — parquet footers already hold
    them); this query is the bootstrap/repair path that rebuilds it with
    one column-pruned pass over the table. Oracle: DuckDB's
    read_parquet(filename=true) over the same files."""
    # K7 owns its layout and publishes it ATOMICALLY (symlink swap), so a
    # concurrent republish always leaves SOME complete version readable.
    # Residual caveat (accepted): part-file basenames embed the write
    # job's UUID, and the oracle globs through the LIVE symlink while
    # Spark pins realpath at build time — so if another process
    # republished between the two reads, file_name values would differ
    # even though both versions are internally consistent. Harmless under
    # the driver's single-process gate; a multi-process deployment would
    # SF-tag the path (needs a per-SF oracle, which the static oracle
    # string cannot express) or drop file names from the output.
    path = os.path.join(_IO_DIR, "k7_nation")
    src = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    write_parquet_atomic(src, path, partition_by=["n_regionkey"])
    return (
        spark.read.parquet(os.path.realpath(path))
        .select(
            # keep the partition dir in the name: one write TASK reuses the
            # same part-file basename in EVERY partition dir it writes, so a
            # bare basename would silently merge distinct files
            F.regexp_extract(F.input_file_name(), r"([^/]+/[^/]+)$", 1).alias(
                "file_name"
            ),
            "n_nationkey",
        )
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("n_nationkey").alias("min_key"),
            F.max("n_nationkey").alias("max_key"),
        )
        .orderBy("min_key", "file_name")
    )


# --------------------------------------------------------------------------
# K8 — incremental aggregate maintenance (the materialized-view delta
# algebra). A 100 TB pipeline cannot recompute its rollups from scratch
# per batch; SUM/COUNT-style aggregates are mergeable, so the maintained
# view is stored_agg FULL-OUTER-MERGE delta_agg with coalesced partials.
# The oracle recomputes the aggregate over the full input — the merged
# view must be indistinguishable from the from-scratch answer, which is
# the defining property of correct IVM.
# --------------------------------------------------------------------------


@register(
    "k8_incremental_agg_merge",
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
    tags=("K8",),
)
def k8_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8: maintain a (user, event_type) rollup incrementally — aggregate
    the 80% "already ingested" slice and the 20% "new batch" slice
    SEPARATELY (split on a deterministic event_id hash), then merge the
    partial aggregates with a full outer join + coalesced addition.

    COUNT and decimal-routed SUM are commutative monoids, so
    merge(agg(A), agg(B)) == agg(A union B) exactly — the property the
    oracle checks by recomputing from scratch over the full table. At
    100 TB this is the difference between touching one batch per refresh
    and re-reading the corpus: the stored side never rescans, the delta
    side is batch-sized, and the merge shuffles only aggregate rows (one
    per group), not facts. The decimal route keeps the merged SUM
    bit-identical to the from-scratch SUM no matter how the data is split.
    """
    from ..sources import table as _table

    ev = (
        _table(spark, sf_dir, "events")
        # group keys must be non-null: the merge's full outer join is
        # null-UNSAFE on its keys, so a NULL-keyed group would split into
        # two rows while the oracle's GROUP BY merges it into one
        .filter(
            F.col("value").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select("event_id", "user_id", "event_type", "value")
    )
    return incremental_agg_merged(ev, stored_buckets=8).orderBy(
        "user_id", "event_type"
    )


def incremental_agg_merged(ev: DataFrame, stored_buckets: int) -> DataFrame:
    """The K8 merge over an arbitrary (event_id, user_id, event_type,
    value) frame, split `stored_buckets`/10 vs the rest on a deterministic
    event_id md5 bucket (same scheme as the C1 sampler). Exposed so the
    merge == full-recompute property can be tested at EVERY split point,
    not just the registered 80/20."""
    bucket = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 4), 16, 10
    ).cast("long") % 10
    stored = ev.filter(bucket < stored_buckets)
    delta = ev.filter(bucket >= stored_buckets)

    def partial(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias(f"n_{tag}"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias(f"s_{tag}"),
        )

    merged = partial(stored, "a").join(
        partial(delta, "b"), ["user_id", "event_type"], "full_outer"
    )
    zero = F.lit(0).cast("decimal(38,6)")
    return merged.select(
        "user_id",
        "event_type",
        (
            F.coalesce(F.col("n_a"), F.lit(0))
            + F.coalesce(F.col("n_b"), F.lit(0))
        ).alias("n"),
        (F.coalesce(F.col("s_a"), zero) + F.coalesce(F.col("s_b"), zero))
        .cast("string")
        .cast("double")
        .alias("sum_value"),
    )


# --------------------------------------------------------------------------
# K9 — snapshot changelog (CDC read): diff two published versions into the
# insert/update/delete row set. The reference mutates in place (ON
# CONFLICT upsert, helper_load_hhs.py:96,163) so history is unobservable;
# with immutable published versions (K2/K6), the changelog is derivable
# after the fact — the table_changes()/CDF read every downstream
# incremental consumer wants.
# --------------------------------------------------------------------------


@register(
    "k9_snapshot_changelog",
    oracle="""
    WITH v1 AS (
      SELECT n_nationkey, n_name FROM nation),
    v2 AS (
      SELECT n_nationkey,
             CASE WHEN n_nationkey % 5 = 1 THEN n_name || '_X' ELSE n_name END
               AS n_name
      FROM nation WHERE n_nationkey % 5 <> 0
      UNION ALL
      SELECT 100 + r AS n_nationkey, 'NEW_' || CAST(100 + r AS VARCHAR)
      FROM (SELECT unnest(range(3)) AS r)),
    diff AS (
      SELECT COALESCE(v2.n_nationkey, v1.n_nationkey) AS n_nationkey,
             v1.n_name AS old_name,
             v2.n_name AS new_name,
             CASE
               WHEN v1.n_nationkey IS NULL THEN 'insert'
               WHEN v2.n_nationkey IS NULL THEN 'delete'
               WHEN v1.n_name <> v2.n_name THEN 'update'
               ELSE 'unchanged'
             END AS change_type
      FROM v1 FULL OUTER JOIN v2 USING (n_nationkey))
    SELECT n_nationkey, change_type, old_name, new_name
    FROM diff
    WHERE change_type <> 'unchanged'
    ORDER BY n_nationkey
    """,
    tags=("K9",),
)
def k9_snapshot_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9: publish nation as v1, publish a mutated v2 (deletes: key%5=0,
    updates: key%5=1 renamed, inserts: keys 100-102), then derive the
    changelog by diffing the CURRENT published version against the
    time-travel read one step back — a key-joined full outer diff
    classified into insert/update/delete.

    The oracle recomputes the change set symbolically from `nation`, so
    the query only matches if the version store really serves BOTH
    snapshots (a diff against the wrong version produces phantom rows).
    At scale the diff is one co-partitioned full outer join on the
    natural key — no state, no log shipping — and composes with K7's
    manifest to skip unchanged partitions entirely."""
    from ..sinks import read_published_version

    path = _tagged_io_path("k9_versions", sf_dir)
    clear_published_versions(path)  # deterministic rerun
    v1 = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_parquet_atomic(v1, path)
    inserts = spark.range(3).select(
        (F.col("id") + 100).alias("n_nationkey"),
        F.concat(F.lit("NEW_"), (F.col("id") + 100).cast("string")).alias(
            "n_name"
        ),
    )
    v2 = (
        v1.filter(F.col("n_nationkey") % 5 != 0)
        .select(
            "n_nationkey",
            F.when(
                F.col("n_nationkey") % 5 == 1,
                F.concat(F.col("n_name"), F.lit("_X")),
            )
            .otherwise(F.col("n_name"))
            .alias("n_name"),
        )
        .unionAll(inserts)
    )
    write_parquet_atomic(v2, path)
    prev = read_published_version(spark, path, steps_back=1).select(
        F.col("n_nationkey").alias("k1"), F.col("n_name").alias("old_name")
    )
    curr = read_published_version(spark, path, steps_back=0).select(
        F.col("n_nationkey").alias("k2"), F.col("n_name").alias("new_name")
    )
    diff = prev.join(curr, prev.k1 == curr.k2, "full_outer")
    change = (
        F.when(F.col("k1").isNull(), "insert")
        .when(F.col("k2").isNull(), "delete")
        .when(F.col("old_name") != F.col("new_name"), "update")
        .otherwise("unchanged")
    )
    return (
        diff.select(
            F.coalesce(F.col("k2"), F.col("k1")).alias("n_nationkey"),
            change.alias("change_type"),
            "old_name",
            "new_name",
        )
        .filter(F.col("change_type") != "unchanged")
        .orderBy("n_nationkey")
    )


# --------------------------------------------------------------------------
# S9 — raw text-line source: spark.read.text + in-query parsing. The
# log-file ingestion shape — no CSV reader in front, every line an opaque
# string split by column expressions — which is how semi-structured feeds
# (app logs, legacy exports) actually enter a lake before a schema exists.
# --------------------------------------------------------------------------


@register(
    "s9_text_lines_scan",
    oracle=f"""
    SELECT n_nationkey, n_name, n_regionkey
    FROM read_csv('{_NATION_CSV}', header=true)
    ORDER BY n_nationkey
    """,
    tags=("S9",),
)
def s9_text_lines_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: ingest the nation CSV as RAW LINES (spark.read.text) and parse
    with column expressions — header dropped by literal match, fields via
    split(), typed casts in-query. The oracle reads the same file through
    a CSV reader: the hand parse must reproduce it exactly.

    This is deliberately the worst-tooling path (no quote handling — the
    fixture is QUOTE_MINIMAL with comma-free fields, asserted by the
    parse-count filter): at scale it is how one-off log formats are
    bootstrapped before graduating to a real source. text() scans split
    and parallelize like any file source; the parse is map-only."""
    _write_nation_csv(spark, sf_dir)
    lines = spark.read.text(_NATION_CSV)
    parts = F.split(F.col("value"), ",")
    # Empty field => NULL, exactly as a CSV reader maps it (csv.writer
    # emits both None and "" as an empty unquoted field, so the format
    # itself collapses them — the hand parse must match, and the ANSI
    # cast of "" would otherwise fail loudly instead of agreeing).
    # Adversarial-gate finding, round 11.
    return (
        lines.filter(F.col("value") != "n_nationkey,n_name,n_regionkey")
        .filter(F.size(parts) == 3)  # comma-free fields by fixture contract
        .select(
            F.nullif(parts.getItem(0), F.lit("")).cast("long").alias("n_nationkey"),
            F.nullif(parts.getItem(1), F.lit("")).alias("n_name"),
            F.nullif(parts.getItem(2), F.lit("")).cast("long").alias("n_regionkey"),
        )
        .orderBy("n_nationkey")
    )


# --------------------------------------------------------------------------
# S11 — the landing-zone LEDGER as a Python Data Source
# (sources/ledger_stream.py): batch half registered here; the streaming
# half (partitioned DataSourceStreamReader with {"idx": N} offsets, one
# executor-side input partition per ledger file, replayable by
# re-planning any committed range) is e2e-tested in
# tests/test_streaming.py against this same batch surface. The oracle is
# the strongest row-level check an external source can get: every ledger
# row must be served EXACTLY once, so per-type counts and decimal-exact
# value sums over the source must equal the same aggregation straight off
# the events table the ledger was staged from.
# --------------------------------------------------------------------------


@register(
    "s11_event_ledger_scan",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {sql_dsum("value")} AS sum_value
    FROM events
    WHERE event_type IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("S11",),
)
def s11_event_ledger_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: scan the staged event ledger through the custom Python Data
    Source's batch reader (one input partition per ledger file) and
    aggregate per event type. The ledger is staged from events.parquet
    into 3 chronological files on first use per (session, sf)."""
    from ..functions.exact import dsum
    from ..sources.ledger_stream import register_event_ledger
    from ..streaming.stateful import stage_chronological_files

    ledger_dir = os.path.join(
        "/tmp", "spark_graft_ledger", sf_dir.strip("/").replace("/", "_")
    )
    marker = os.path.join(ledger_dir, "part-0.parquet")
    if not os.path.exists(marker):
        stage_chronological_files(spark, sf_dir, ledger_dir, n_files=3)
    register_event_ledger(spark)
    rows = (
        spark.read.format("event_ledger").option("path", ledger_dir).load()
    )
    return (
        rows.filter(F.col("event_type").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# K11 — COMPACTION PLANNER: assign small "files" to target-size compaction
# bins — the planning half of OPTIMIZE/rewriteDataFiles in every table
# format (the execution half is K5's partition rewrite). The file
# population here is the per-(event_type, day) partition stats relation
# (the K7 manifest shape derived from data so the oracle sees identical
# input); the policy is deterministic next-fit over a size-DESC ordering,
# PACKED PER PARTITION SUBTREE: within each event_type, running-sum the
# sizes and take local_bin = (preceding_mass div target); global bin ids
# compose as local_bin + a per-type offset (the running total of earlier
# types' bin counts). Compaction never merges files across partition
# boundaries anyway — a bin spanning two event_types could not be
# rewritten as one file — so per-type packing is the semantically right
# policy AND removes the planner's only global single-partition window:
# a real 100 TB table's manifest is 10^6-10^7 files, where a single-node
# sort of the whole manifest is the slow path. The packing window hash-
# partitions by event_type; the only remaining single-partition window
# runs over the per-TYPE bin counts (one row per event type — actually
# dim-sized), which then broadcast-join back onto the files.
# --------------------------------------------------------------------------

_COMPACT_TARGET_ROWS = 2000


@register(
    "k11_compaction_plan",
    oracle=f"""
    WITH files AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2),
    packed AS (
      SELECT event_type, d, n_rows,
             CAST(SUM(n_rows) OVER (
               PARTITION BY event_type
               ORDER BY n_rows DESC, d
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS csum
      FROM files),
    localbin AS (
      -- preceding mass and target are non-negative, so truncating integer
      -- division IS floor on both engines (no double round-trip)
      SELECT event_type, d, n_rows,
             CAST((csum - n_rows) // {_COMPACT_TARGET_ROWS} AS BIGINT) AS lbin
      FROM packed),
    typebins AS (
      SELECT event_type, CAST(MAX(lbin) + 1 AS BIGINT) AS n_bins
      FROM localbin GROUP BY 1),
    offsets AS (
      SELECT event_type,
             CAST(COALESCE(SUM(n_bins) OVER (
               ORDER BY event_type
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS off
      FROM typebins),
    binned AS (
      SELECT l.event_type, l.d, l.n_rows,
             CAST(l.lbin + o.off AS BIGINT) AS bin
      FROM localbin l JOIN offsets o USING (event_type))
    SELECT event_type, d, n_rows, bin,
           CAST(SUM(n_rows) OVER (PARTITION BY bin) AS BIGINT) AS bin_rows,
           CAST(COUNT(*) OVER (PARTITION BY bin) AS BIGINT) AS bin_files
    FROM binned
    ORDER BY bin, n_rows DESC, event_type, d
    """,
    tags=("K11",),
)
def k11_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K11: per-partition-subtree next-fit compaction bins over the
    per-(type, day) file stats (block comment above) — each file's bin
    plus per-bin totals, the plan a rewrite job executes group by group.
    The packing window partitions by event_type (parallel at manifest
    scale); only the type-count offset composition — one row per event
    type — runs single-partition, then broadcasts back."""
    from pyspark.sql import Window

    files = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    order = (
        Window.partitionBy("event_type")
        .orderBy(F.desc("n_rows"), F.asc("d"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    localbin = files.select(
        "event_type",
        "d",
        "n_rows",
        # non-negative operands: truncating `div` == floor, exactly as the
        # oracle's integer `//` (no double round-trip to misbucket)
        (F.sum("n_rows").over(order) - F.col("n_rows"))
        .cast("long")
        .alias("pre_mass"),
    ).select(
        "event_type",
        "d",
        "n_rows",
        F.expr(f"pre_mass div {_COMPACT_TARGET_ROWS}").cast("long").alias("lbin"),
    )
    # consumed twice (offset derivation + final join): checkpoint the
    # file-stats relation or the whole fact scan and aggregation would
    # execute once per branch
    localbin = localbin.localCheckpoint(eager=False)
    typebins = localbin.groupBy("event_type").agg(
        (F.max("lbin") + F.lit(1)).cast("long").alias("n_bins")
    )
    woff = Window.orderBy("event_type").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = typebins.select(
        "event_type",
        F.coalesce(F.sum("n_bins").over(woff), F.lit(0)).cast("long").alias("off"),
    )
    binned = localbin.join(F.broadcast(offsets), "event_type").select(
        "event_type",
        "d",
        "n_rows",
        (F.col("lbin") + F.col("off")).cast("long").alias("bin"),
    )
    per_bin = Window.partitionBy("bin")
    return (
        binned.select(
            "event_type",
            "d",
            "n_rows",
            "bin",
            F.sum("n_rows").over(per_bin).cast("long").alias("bin_rows"),
            F.count(F.lit(1)).over(per_bin).cast("long").alias("bin_files"),
        )
        .orderBy("bin", F.desc("n_rows"), "event_type", "d")
    )


# --------------------------------------------------------------------------
# K12 — SCD TYPE-2 DIMENSION DERIVATION: collapse each user's event stream
# into slowly-changing-dimension history rows — one row per CONSECUTIVE run
# of the same event_type, with [valid_from, valid_to) microsecond validity,
# an is_current flag on the open run, and the run's event count. This is
# the warehouse "dim_user_state" build every CDC pipeline materializes from
# a change log (K9 derives the changelog; K12 derives the interval history).
# Shape: gaps-and-islands — LAG marks change points, a running SUM numbers
# runs, one aggregation per (user, run), LEAD closes each interval with the
# next run's start. Exchanges: one on user_id for the numbering windows,
# one on (user_id, run) for the run aggregation — which consumes the
# RUN-sized relation (transitions, not events), and the closing LEAD
# re-partitions that same reduced relation. Ties inside a timestamp are
# totally ordered by event_id so both engines build identical runs.
# --------------------------------------------------------------------------


@register(
    "k12_scd2_user_state",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_id IS NOT NULL AND event_type IS NOT NULL),
    flagged AS (
      SELECT *,
             CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
    runs AS (
      SELECT *,
             CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
      FROM flagged),
    grouped AS (
      SELECT user_id, run_id,
             MIN(event_type) AS state,
             MIN(ts_us) AS valid_from_us,
             CAST(COUNT(*) AS BIGINT) AS n_events_in_state
      FROM runs GROUP BY 1, 2),
    closed AS (
      SELECT user_id, state, valid_from_us,
             LEAD(valid_from_us) OVER (
               PARTITION BY user_id ORDER BY run_id) AS valid_to_us,
             n_events_in_state
      FROM grouped)
    SELECT user_id, state, valid_from_us, valid_to_us,
           valid_to_us IS NULL AS is_current,
           n_events_in_state
    FROM closed
    ORDER BY user_id, valid_from_us
    """,
    tags=("K12",),
)
def k12_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K12: SCD Type-2 state history per user (block comment above) —
    consecutive same-type runs as half-open validity intervals."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_id").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    prev = F.lag("event_type").over(w)
    chg = F.when(
        prev.isNull() | (prev != F.col("event_type")), F.lit(1)
    ).otherwise(F.lit(0))
    runs = ev.select(
        "user_id",
        "event_type",
        "ts_us",
        F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("run_id"),
    )
    grouped = runs.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("state"),
        F.min("ts_us").alias("valid_from_us"),
        F.count(F.lit(1)).cast("long").alias("n_events_in_state"),
    )
    wrun = Window.partitionBy("user_id").orderBy("run_id")
    return (
        grouped.select(
            "user_id",
            "state",
            "valid_from_us",
            F.lead("valid_from_us").over(wrun).alias("valid_to_us"),
            "n_events_in_state",
        )
        .select(
            "user_id",
            "state",
            "valid_from_us",
            "valid_to_us",
            F.col("valid_to_us").isNull().alias("is_current"),
            "n_events_in_state",
        )
        .orderBy("user_id", "valid_from_us")
    )
