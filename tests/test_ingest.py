"""Ingest-equivalence tests (SURVEY §5.3): HHS/CMS-shaped fixtures through the
Spark load path, asserting the semantics encoded at helper_load_hhs.py:55-67
and load-quality.py:158-189.
"""

from __future__ import annotations

import os

import pytest

from hhs_and_cms_data_pipeline_spark.operators.ingest import (
    cms_location_lookup,
    normalize_cms,
    prep_hhs,
    split_hospital,
    split_location,
    split_weekly_report,
)
from hhs_and_cms_data_pipeline_spark.sources.csvsrc import (
    read_cms_quality,
    read_hhs_weekly,
)
from tests.plan_audit import formatted_plan

HHS_HEADER = (
    "hospital_pk,state,hospital_name,address,city,zip,fips_code,"
    "geocoded_hospital_address,collection_week,"
    "all_adult_hospital_beds_7_day_avg,all_pediatric_inpatient_beds_7_day_avg,"
    "all_adult_hospital_inpatient_bed_occupied_7_day_avg,"
    "all_pediatric_inpatient_bed_occupied_7_day_avg,total_icu_beds_7_day_avg,"
    "icu_beds_used_7_day_avg,inpatient_beds_used_covid_7_day_avg,"
    "staffed_icu_adult_patients_confirmed_covid_7_day_avg"
)

HHS_ROWS = [
    # duplicate pk (H1) -> dedup keeps earliest week; sentinel + empty metrics
    'H1,CA,Alpha Hosp,1 Main St,LA,90001,06037,"POINT (-118.25 34.05)",2023-01-06,'
    "100.0,-999999,20.0,1.0,30.0,10.0,5.0,2.0",
    'H1,CA,Alpha Hosp,1 Main St,LA,90001,06037,"POINT (-118.25 34.05)",2023-01-13,'
    "101.0,11.0,21.0,2.0,31.0,11.0,6.0,3.0",
    "H2,TX,Beta Hosp,2 Oak Ave,Houston,77001,48201,,2023-01-06,"
    "50.0,5.0,-999999,0.0,15.0,5.0,1.0,0.0",
    'H3,CA,Gamma Hosp,3 Pine Rd,LA,90002,06037,"POINT (-118.3 34.1)",2023-01-06,'
    ",,,,,,,",
]

CMS_HEADER = (
    '"Facility ID","Facility Name","City","State","ZIP Code",'
    '"Hospital Ownership","Emergency Services","Hospital Type",'
    '"Hospital overall rating"'
)

CMS_ROWS = [
    '"H1","Alpha Hosp","LA","CA","90001","Proprietary","Yes","Acute Care","4"',
    '"H2","Beta Hosp","Houston","TX","77001","Government - Federal","yes ","Acute Care","Not Available"',
    '"H3","Gamma Hosp","LA","CA","90002","Proprietary","NO","Acute Care","6"',
    '"H9","Absent Hosp","Miami","FL","33101","Proprietary","","Acute Care","abc"',
]


@pytest.fixture(scope="module")
def hhs_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("hhs") / "weekly.csv"
    p.write_text(HHS_HEADER + "\n" + "\n".join(HHS_ROWS) + "\n")
    return str(p)


@pytest.fixture(scope="module")
def cms_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("cms") / "quality.csv"
    p.write_text(CMS_HEADER + "\n" + "\n".join(CMS_ROWS) + "\n")
    return str(p)


def test_prep_hhs_semantics(spark, hhs_csv):
    prepped = prep_hhs(read_hhs_weekly(spark, hhs_csv))
    rows = {r["hospital_pk"]: r for r in prepped.collect()}

    # dedup first-wins: H1 keeps the 2023-01-06 row (helper_load_hhs.py:65)
    assert len(rows) == 3
    assert str(rows["H1"]["collection_week"]) == "2023-01-06"
    # sentinel scrub (helper:58)
    assert rows["H1"]["all_pediatric_inpatient_beds_7_day_avg"] is None
    assert rows["H2"]["all_adult_hospital_inpatient_bed_occupied_7_day_avg"] is None
    # WKT parse, correct lon/lat order (fixes reference swap bug, SURVEY §7.6)
    assert rows["H1"]["longitude"] == pytest.approx(-118.25)
    assert rows["H1"]["latitude"] == pytest.approx(34.05)
    assert rows["H2"]["longitude"] is None  # null geocode passes through
    # empty numeric fields -> NULL (pandas NaN -> None, helper:85-89)
    assert rows["H3"]["total_icu_beds_7_day_avg"] is None


def test_hhs_split_tables(spark, hhs_csv):
    prepped = prep_hhs(read_hhs_weekly(spark, hhs_csv))
    loc = split_location(prepped)
    hosp = split_hospital(prepped, loc)
    weekly = split_weekly_report(prepped)

    assert loc.count() == 3  # three distinct natural keys
    # surrogate keys deterministic + unique
    ids = [r["id"] for r in loc.collect()]
    assert len(set(ids)) == 3
    ids2 = [r["id"] for r in split_location(prepped).collect()]
    assert sorted(ids) == sorted(ids2)

    h = {r["hospital_pk"]: r for r in hosp.collect()}
    assert set(h) == {"H1", "H2", "H3"}
    assert all(r["location_id"] is not None for r in h.values())

    assert weekly.count() == 3
    assert "hospital_weekly_id" in weekly.columns

    # the splits read the staged batch: the CSV is parsed once, by prep_hhs
    # (EXPLAIN FORMATTED names the scan node "Scan csv", simple mode "FileScan csv")
    for split in (loc, hosp, weekly):
        assert "Scan csv" not in formatted_plan(split)


def test_cms_normalize_semantics(spark, cms_csv):
    norm = normalize_cms(read_cms_quality(spark, cms_csv), "2023-02-01")
    rows = {r["facility_id"]: r for r in norm.collect()}

    # rating parse (load-quality.py:158-174)
    assert rows["H1"]["quality_rating"] == 4
    assert rows["H2"]["quality_rating"] is None  # 'Not Available'
    assert rows["H3"]["quality_rating"] is None  # out of range '6'
    assert rows["H9"]["quality_rating"] is None  # 'abc'
    # boolean parse (load-quality.py:177-189)
    assert rows["H1"]["provides_emergency_services"] is True
    assert rows["H2"]["provides_emergency_services"] is True  # 'yes ' trims
    assert rows["H3"]["provides_emergency_services"] is False  # 'NO'
    assert str(rows["H1"]["rating_date"]) == "2023-02-01"


def test_cms_location_lookup(spark, hhs_csv, cms_csv):
    prepped = prep_hhs(read_hhs_weekly(spark, hhs_csv))
    loc = split_location(prepped)
    norm = normalize_cms(read_cms_quality(spark, cms_csv), "2023-02-01")
    looked = cms_location_lookup(norm, loc)
    rows = {r["facility_id"]: r for r in looked.collect()}
    assert rows["H1"]["location_id"] is not None
    assert rows["H9"]["location_id"] is None  # no matching (city,state,zip)


def test_idempotent_reload(spark, hhs_csv, tmp_path):
    """K3 re-load is a no-op, and an append is a version commit: the
    zero-row replay publishes nothing, and a later append carries the
    current files by hardlink and leaves the previous version readable."""
    import glob

    from pyspark.sql import functions as F

    from hhs_and_cms_data_pipeline_spark.sinks import (
        append_new_keys,
        read_published_version,
    )

    prepped = prep_hhs(read_hhs_weekly(spark, hhs_csv))
    weekly = split_weekly_report(prepped)
    path = str(tmp_path / "weekly_report")
    keys = ["hospital_weekly_id", "collection_week"]

    n1 = append_new_keys(spark, weekly, path, keys, partition_by=["collection_week"])
    versions = glob.glob(f"{path}.__v__*")
    n2 = append_new_keys(spark, weekly, path, keys, partition_by=["collection_week"])
    assert n1 == 3 and n2 == 0  # re-load is a no-op (K3)
    assert spark.read.parquet(path).count() == 3
    # partition layout: one dir per collection_week (pruning at read)
    assert any(d.startswith("collection_week=") for d in os.listdir(path))
    assert os.path.islink(path)
    assert glob.glob(f"{path}.__v__*") == versions  # the replay published nothing

    later = weekly.withColumn("collection_week", F.date_add("collection_week", 7))
    assert append_new_keys(spark, later, path, keys, partition_by=["collection_week"]) == 3
    first = os.path.realpath(versions[0])
    carried = glob.glob(os.path.join(first, "*", "*.parquet"))
    assert carried
    for f in carried:
        shared = os.path.join(os.path.realpath(path), os.path.relpath(f, first))
        assert os.stat(shared).st_nlink >= 2, f"{shared} was copied, not hardlinked"
    key_rows = lambda df: sorted(  # noqa: E731
        (r["hospital_weekly_id"], str(r["collection_week"])) for r in df.collect()
    )
    assert key_rows(read_published_version(spark, path, 1)) == key_rows(weekly)


def test_idempotent_reload_null_safe_keys(spark, tmp_path):
    """Regression pin (adversarial-gate finding, r11): a NULL-keyed row
    used to be re-appended on EVERY re-load because the plain equi
    anti-join never matches NULL — the exact non-idempotence K1/K3 exist
    to prevent. The upsert key equality is null-safe (<=>), so a re-load
    is a no-op for NULL-keyed rows too, including multi-column keys with
    only one NULL component."""
    from hhs_and_cms_data_pipeline_spark.sinks import append_new_keys

    df = spark.createDataFrame(
        [(1, "a", 1.0), (None, "b", 2.0), (2, None, 3.0), (None, None, 4.0)],
        "k1 int, k2 string, v double",
    )
    path = str(tmp_path / "tbl")
    n1 = append_new_keys(spark, df, path, ["k1", "k2"])
    n2 = append_new_keys(spark, df, path, ["k1", "k2"])
    assert (n1, n2) == (4, 0)
    assert spark.read.parquet(path).count() == 4
    # a genuinely new row (distinct only in its NULL pattern) still appends
    extra = spark.createDataFrame([(2, "b", 5.0)], "k1 int, k2 string, v double")
    assert append_new_keys(spark, extra, path, ["k1", "k2"]) == 1


def test_append_refuses_incompatible_key_type(spark, tmp_path):
    """A key type its files cannot be read as (a string key onto an int
    table) is refused with a ``ValueError`` before anything is written:
    nothing is published, and the table still reads back its rows. An
    inferred read compared the keys across types and published string
    files beside int32 ones, and the table no longer read back."""
    import glob

    from hhs_and_cms_data_pipeline_spark.sinks import append_new_keys

    path = str(tmp_path / "tbl")
    ints = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, v double")
    assert append_new_keys(spark, ints, path, ["k"]) == 2
    published, versions = os.path.realpath(path), glob.glob(f"{path}.__v__*")

    strings = spark.createDataFrame([("3", 3.0)], "k string, v double")
    with pytest.raises(ValueError, match="column types"):
        append_new_keys(spark, strings, path, ["k"])
    assert os.path.realpath(path) == published
    assert glob.glob(f"{path}.__v__*") == versions
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == [(1, 1.0), (2, 2.0)]


def test_append_refuses_widening_key_type(spark, tmp_path):
    """A key type the files CAN be read as but that differs from the
    table's (a bigint key onto an int table) is refused too, before anything
    is written. Reading the current version with the batch's schema let it
    through (int32 files read fine as bigint), and the append published a
    version with int32 and int64 files for one column."""
    import glob

    import pyarrow.parquet as pq

    from hhs_and_cms_data_pipeline_spark.sinks import append_new_keys

    path = str(tmp_path / "tbl")
    ints = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, v double")
    assert append_new_keys(spark, ints, path, ["k"]) == 2
    published, versions = os.path.realpath(path), glob.glob(f"{path}.__v__*")

    longs = spark.createDataFrame([(3, 3.0)], "k bigint, v double")
    with pytest.raises(ValueError, match=r"column types.*'k': \('int', 'bigint'\)"):
        append_new_keys(spark, longs, path, ["k"])
    assert os.path.realpath(path) == published
    assert glob.glob(f"{path}.__v__*") == versions
    files = glob.glob(os.path.join(published, "*.parquet"))
    assert {str(pq.read_schema(f).field("k").type) for f in files} == {"int32"}


def _assert_refused(spark, path, commit, match):
    """`commit` raises ValueError(match) before any Spark job, publishes
    nothing and leaves no version dir behind."""
    import glob

    from tests.spark_jobs import job_ids

    published, versions = os.path.realpath(path), sorted(glob.glob(f"{path}.__v__*"))
    jobs = job_ids(spark)
    with pytest.raises(ValueError, match=match):
        commit()
    assert job_ids(spark) == jobs
    assert os.path.realpath(path) == published
    assert sorted(glob.glob(f"{path}.__v__*")) == versions


def test_append_refuses_widening_value_type(spark, tmp_path):
    """The schema check covers every column, not only the keys: a bigint
    `v` appended onto an int `v` published int32 and int64 files for it."""
    import glob

    import pyarrow.parquet as pq

    from hhs_and_cms_data_pipeline_spark.sinks import append_new_keys

    path = str(tmp_path / "tbl")
    ints = spark.createDataFrame([(1, 1), (2, 2)], "k int, v int")
    assert append_new_keys(spark, ints, path, ["k"]) == 2
    longs = spark.createDataFrame([(3, 3)], "k int, v bigint")
    _assert_refused(
        spark, path, lambda: append_new_keys(spark, longs, path, ["k"]),
        r"column types.*'v': \('int', 'bigint'\)",
    )
    files = glob.glob(os.path.join(os.path.realpath(path), "*.parquet"))
    assert {str(pq.read_schema(f).field("v").type) for f in files} == {"int32"}


def test_append_refuses_an_extra_column(spark, tmp_path):
    """A batch with a column the table lacks published its rows while the
    table still read back without that column: its values were lost."""
    from hhs_and_cms_data_pipeline_spark.sinks import append_new_keys, read_published

    path = str(tmp_path / "tbl")
    table = spark.createDataFrame([(1, 1), (2, 2)], "k int, v int")
    assert append_new_keys(spark, table, path, ["k"]) == 2
    wide = spark.createDataFrame([(3, 3, "x"), (4, 4, "y")], "k int, v int, w string")
    _assert_refused(
        spark, path, lambda: append_new_keys(spark, wide, path, ["k"]),
        r"adds columns \['w'\]",
    )
    back = read_published(spark, path)
    assert back.columns == ["k", "v"]
    assert sorted(tuple(r) for r in back.collect()) == [(1, 1), (2, 2)]


def test_atomic_write(spark, tmp_path, monkeypatch):
    from hhs_and_cms_data_pipeline_spark import sinks
    from hhs_and_cms_data_pipeline_spark.sinks import write_parquet_atomic

    df = spark.range(10).withColumnRenamed("id", "k")
    path = str(tmp_path / "tbl")
    write_parquet_atomic(df, path)
    assert spark.read.parquet(path).count() == 10
    # overwrite fully replaces; the published path is an atomic symlink
    write_parquet_atomic(spark.range(5).withColumnRenamed("id", "k"), path)
    assert spark.read.parquet(path).count() == 5
    assert os.path.islink(path)
    # expired-retention GC keeps current + previous version dirs only
    monkeypatch.setattr(sinks, "_GC_GRACE_SECONDS", 0)
    write_parquet_atomic(spark.range(7).withColumnRenamed("id", "k"), path)
    versions = [d for d in os.listdir(tmp_path) if "__v__" in d]
    assert len(versions) == 2
    assert not [d for d in os.listdir(tmp_path) if "__link__" in d]


def test_atomic_write_relative_path(spark, tmp_path, monkeypatch):
    """Regression (round-2 ADVICE): a RELATIVE path with a directory
    component used to produce a symlink whose relative target resolved
    against the link's parent ('out/out/tbl.__v__...'), breaking every
    read. The link target must be absolute."""
    from hhs_and_cms_data_pipeline_spark.sinks import write_parquet_atomic

    monkeypatch.chdir(tmp_path)
    os.makedirs("out", exist_ok=True)
    write_parquet_atomic(spark.range(10).withColumnRenamed("id", "k"), "out/tbl")
    assert os.path.isdir("out/tbl")  # the symlink must resolve
    assert spark.read.parquet(str(tmp_path / "out" / "tbl")).count() == 10


def test_atomic_write_failure_keeps_published(spark, tmp_path):
    """A writer that dies mid-job must leave the published table untouched
    and no half-written version behind (rollback semantics)."""
    import pytest
    from pyspark.sql import functions as F

    from hhs_and_cms_data_pipeline_spark.sinks import write_parquet_atomic

    path = str(tmp_path / "tbl")
    write_parquet_atomic(spark.range(10).withColumnRenamed("id", "k"), path)
    bad = spark.range(10).select(
        F.assert_true(F.col("id") < 5).alias("boom"), F.col("id").alias("k")
    )
    with pytest.raises(Exception):
        write_parquet_atomic(bad, path)
    assert spark.read.parquet(path).count() == 10
    # failed version dir cleaned up; only the published one (+prev) remains
    assert all(
        os.path.islink(os.path.join(tmp_path, d)) or "__v__" in d
        for d in os.listdir(tmp_path)
    )


def test_atomic_write_concurrent_writers_never_torn(spark, tmp_path):
    """Two interleaved writers: every read through the published path sees a
    COMPLETE copy of one writer's table (count 25 or 5), never a mix, never
    a missing table. Last writer wins whole."""
    import threading

    from hhs_and_cms_data_pipeline_spark.sinks import read_published, write_parquet_atomic

    path = str(tmp_path / "tbl")
    a = spark.range(25).withColumnRenamed("id", "k")
    b = spark.range(5).withColumnRenamed("id", "k")
    write_parquet_atomic(a, path)

    errors: list[Exception] = []

    def publish(df):
        try:
            for _ in range(2):
                # default retention grace protects the other writer's
                # in-progress dir and in-flight snapshot readers
                write_parquet_atomic(df, path)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=publish, args=(d,)) for d in (a, b)]
    for t in threads:
        t.start()
    seen = set()
    while any(t.is_alive() for t in threads):
        seen.add(read_published(spark, path).count())
    for t in threads:
        t.join()
    assert not errors
    assert seen <= {25, 5}
    assert read_published(spark, path).count() in (25, 5)


def test_geojson_parse_stats(spark, tmp_path):
    """GeoJSON FeatureCollection parse (S4 variant): ring/vertex counts and
    bounding boxes from nested-array expressions, against the synthetic
    fixture's known geometry (unit squares at lon=-120+3i, lat=30+i; every
    third state gains an island ring 2 degrees west)."""
    from hhs_and_cms_data_pipeline_spark.sources.geojson import (
        read_geojson_features,
        write_synthetic_geojson,
    )

    path = write_synthetic_geojson(str(tmp_path / "states.geojson"))
    rows = {r["state_id"]: r for r in read_geojson_features(spark, path).collect()}
    assert len(rows) == 12
    isle = rows["S00"]  # i=0: has the island ring
    assert isle["n_rings"] == 2 and isle["n_vertices"] == 8
    assert (isle["min_lon"], isle["max_lon"]) == (-122.0, -119.0)
    plain = rows["S01"]  # i=1: single square at lon=-117, lat=31
    assert plain["n_rings"] == 1 and plain["n_vertices"] == 4
    assert (plain["min_lat"], plain["max_lat"]) == (31.0, 32.0)
    assert all(r["geom_type"] == "Polygon" for r in rows.values())


def test_geojson_datasource_fanout_and_loud_failures(spark, tmp_path):
    """S10: the Python Data Source maps one URL to one input partition
    (the scale axis for one-document-per-URL APIs), unions disjoint
    shards with provenance, and fails LOUDLY per-task on a non-JSON
    payload or a non-Polygon geometry — never silently emitting rows."""
    import json

    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    from hhs_and_cms_data_pipeline_spark.sources.geojson import (
        write_synthetic_geojson,
    )
    from hhs_and_cms_data_pipeline_spark.sources.geojson_datasource import (
        GeoJsonFeaturesDataSource,
    )

    spark.dataSource.register(GeoJsonFeaturesDataSource)
    a = write_synthetic_geojson(str(tmp_path / "a.geojson"), n_states=3, start=0)
    b = write_synthetic_geojson(str(tmp_path / "b.geojson"), n_states=2, start=3)

    def load(*paths):
        urls = ";".join(f"file://{p}" for p in paths)
        return (
            spark.read.format("geojson_features").option("urls", urls).load()
        )

    raw = load(a, b)
    assert raw.rdd.getNumPartitions() == 2, "one partition per URL"
    rows = raw.collect()
    assert sorted(r["state_id"] for r in rows) == [f"S{i:02d}" for i in range(5)]
    by_url = {r["state_id"]: r["source_url"] for r in rows}
    assert by_url["S00"].endswith("a.geojson")
    assert by_url["S04"].endswith("b.geojson")

    # the read path is ARROW-BATCHED (r8 VERDICT ask): read() yields one
    # pyarrow.RecordBatch per document, never per-feature Python tuples
    import pyarrow as pa

    from hhs_and_cms_data_pipeline_spark.sources.geojson_datasource import (
        GeoJsonFeaturesReader,
        _UrlPartition,
    )

    batches = list(
        GeoJsonFeaturesReader([f"file://{a}"]).read(_UrlPartition(f"file://{a}"))
    )
    assert batches and all(isinstance(x, pa.RecordBatch) for x in batches)
    assert sum(x.num_rows for x in batches) == 3

    bad_json = tmp_path / "error_page.html"
    bad_json.write_text("<html>503 Service Unavailable</html>")
    with pytest.raises((PythonException, Py4JJavaError), match="non-JSON"):
        load(str(bad_json)).collect()

    multi = tmp_path / "multi.geojson"
    multi.write_text(
        json.dumps(
            {
                "type": "FeatureCollection",
                "features": [
                    {
                        "type": "Feature",
                        "id": "MP",
                        "properties": {"name": "Multi"},
                        "geometry": {
                            "type": "MultiPolygon",
                            "coordinates": [[[[0.0, 0.0], [1.0, 0.0], [0.0, 1.0], [0.0, 0.0]]]],
                        },
                    }
                ],
            }
        )
    )
    with pytest.raises((PythonException, Py4JJavaError), match="not a Polygon"):
        load(str(multi)).collect()


def test_permissive_csv_quarantines_bad_lines(spark):
    """S5: both malformed lines (type error, wrong arity) land in the
    corrupt-record column VERBATIM; good rows parse typed; nothing is
    silently dropped (25 + 2 lines accounted for)."""
    from hhs_and_cms_data_pipeline_spark.operators.sources_sinks import (
        _BAD_LINES,
        messy_csv_frame,
    )
    from tests.conftest import SF_SMOKE

    df = messy_csv_frame(spark, SF_SMOKE).cache()
    try:
        bad = [r["_corrupt"] for r in df.filter(df._corrupt.isNotNull()).collect()]
        assert sorted(bad) == sorted(_BAD_LINES)
        good = df.filter(df._corrupt.isNull())
        assert good.count() == 25
        assert good.filter(good.n_nationkey.isNull()).count() == 0
    finally:
        df.unpersist()


def test_compaction_reduces_file_count_losslessly(spark):
    """K4: the fragmented layout really has ~25 files, the compacted publish
    has 1, and content is identical (the oracle only checks content)."""
    import glob
    import os

    from hhs_and_cms_data_pipeline_spark.operators.sources_sinks import (
        _tagged_io_path,
        k4_compact_small_files,
    )
    from tests.conftest import SF_SMOKE

    out = k4_compact_small_files(spark, SF_SMOKE)
    assert out.count() == 25
    n_frag = len(glob.glob(os.path.join(_tagged_io_path("k4_fragmented", SF_SMOKE), "*.parquet")))
    pub = os.path.realpath(_tagged_io_path("k4_compacted", SF_SMOKE))
    n_comp = len(glob.glob(os.path.join(pub, "*.parquet")))
    # 25 keys hash into 25 partitions with collisions; empty partitions
    # write no file, so "many" is ~16 — the point is many -> 1
    assert n_frag >= 10 and n_comp == 1


def test_manifest_sink_orphans_invisible_and_commit_atomic(spark, tmp_path):
    """K10 visibility contract: (a) a stray part file in the directory —
    the debris a failed/speculative task leaves — is NOT read because the
    manifest doesn't name it; (b) .mode("append") MERGES — the prior
    job's committed parts stay visible next to the new job's; (b2)
    .mode("overwrite") replaces the manifest AND deletes the superseded
    part files (no invisible debris left on disk); (c) abort() removes
    the aborted job's files but leaves the committed manifest intact."""
    import json
    import os

    from pyspark.sql import functions as F

    from hhs_and_cms_data_pipeline_spark.sources.manifest_sink import (
        MANIFEST_NAME,
        ManifestJsonlWriter,
        PartCommit,
        manifest_files,
        register_manifest_sink,
    )

    register_manifest_sink(spark)
    path = str(tmp_path / "sink")
    df = spark.range(5).select(
        F.concat(F.lit("t"), F.col("id")).alias("event_type"),
        F.lit(1).alias("n_events"),
        F.lit(0.5).alias("sum_value"),
    )
    df.write.format("manifest_jsonl").option("path", path).mode("append").save()
    committed = set(manifest_files(path))
    # (a) orphan debris is invisible
    orphan = os.path.join(path, "part-deadbeef.jsonl")
    with open(orphan, "w") as f:
        f.write(json.dumps({"event_type": "GHOST", "n_events": 9}) + "\n")
    assert orphan not in set(manifest_files(path))
    got = spark.read.json(manifest_files(path))
    assert got.filter(got.event_type == "GHOST").count() == 0
    assert got.count() == 5
    # (b) append merges: the first job's parts stay visible
    df.limit(2).write.format("manifest_jsonl").option("path", path).mode(
        "append"
    ).save()
    second = set(manifest_files(path))
    assert committed < second
    assert spark.read.json(list(second)).count() == 7
    # (b2) overwrite replaces the manifest and (with zero retention grace)
    # deletes superseded parts; default-grace tombstoning is covered by
    # test_manifest_overwrite_retention_grace
    df.limit(3).write.format("manifest_jsonl").option("path", path).option(
        "gc_grace_seconds", "0"
    ).mode("overwrite").save()
    third = set(manifest_files(path))
    assert not (third & second)
    assert spark.read.json(list(third)).count() == 3
    for stale in second:
        assert not os.path.exists(stale)
    assert os.path.exists(orphan)  # unmanifested debris is not ours to delete
    # (c) abort removes the aborted job's files, manifest untouched
    w = ManifestJsonlWriter({"path": path})
    msg = w.write(iter(df.limit(1).collect()))
    assert os.path.exists(os.path.join(path, msg.filename))
    before = open(os.path.join(path, MANIFEST_NAME)).read()
    w.abort([msg, None])
    assert not os.path.exists(os.path.join(path, msg.filename))
    assert open(os.path.join(path, MANIFEST_NAME)).read() == before
    assert isinstance(msg, PartCommit) and msg.n_rows == 1


def test_manifest_overwrite_retention_grace(spark, tmp_path):
    """K10 retention contract (r8 VERDICT ask #2): an overwrite TOMBSTONES
    the superseded parts instead of deleting them, so a reader that pinned
    the prior manifest can still open every file it names within the
    gc_grace_seconds window; tombstones past the grace are reclaimed on a
    later commit (VACUUM semantics, mirroring sinks.py)."""
    import json
    import os

    from pyspark.sql import functions as F

    from hhs_and_cms_data_pipeline_spark.sources.manifest_sink import (
        MANIFEST_NAME,
        manifest_files,
        register_manifest_sink,
    )

    register_manifest_sink(spark)
    path = str(tmp_path / "sink")
    df = spark.range(5).select(F.col("id").alias("v"))
    df.write.format("manifest_jsonl").option("path", path).mode("append").save()
    pinned = manifest_files(path)  # a reader's snapshot of the old manifest
    # overwrite with the DEFAULT grace (60s): supersede, don't delete
    df.limit(2).write.format("manifest_jsonl").option("path", path).mode(
        "overwrite"
    ).save()
    assert not (set(manifest_files(path)) & set(pinned))  # invisible...
    for p in pinned:
        assert os.path.exists(p)  # ...but still on disk within the grace
    # the pinned reader can still scan its complete snapshot
    assert spark.read.schema("v long").json(pinned).count() == 5
    manifest = json.load(open(os.path.join(path, MANIFEST_NAME)))
    assert {t["file"] for t in manifest["gc"]} == {
        os.path.basename(p) for p in pinned
    }
    # a later commit with zero grace reaps every expired tombstone
    df.limit(1).write.format("manifest_jsonl").option("path", path).option(
        "gc_grace_seconds", "0"
    ).mode("overwrite").save()
    for p in pinned:
        assert not os.path.exists(p)
    manifest = json.load(open(os.path.join(path, MANIFEST_NAME)))
    assert "gc" not in manifest


def test_manifest_append_commits_are_serialized(tmp_path):
    """ADVICE r8: append-mode commit is a read-modify-write of
    MANIFEST.json — concurrent committers must not lose each other's
    parts. The commit lock serializes them; a stale lock left by a
    crashed driver is broken rather than deadlocking."""
    import json
    import os
    import threading

    from hhs_and_cms_data_pipeline_spark.sources.manifest_sink import (
        LOCK_NAME,
        MANIFEST_NAME,
        ManifestJsonlWriter,
        PartCommit,
    )

    path = str(tmp_path / "sink")
    os.makedirs(path)
    errors: list[str] = []

    def committer(tag: str) -> None:
        try:
            w = ManifestJsonlWriter({"path": path})
            for i in range(20):
                w.commit(
                    [PartCommit(filename=f"part-{tag}{i}.jsonl", n_rows=1,
                                value_sum="0")]
                )
        except Exception as e:  # pragma: no cover - surfaced via errors
            errors.append(str(e))

    threads = [threading.Thread(target=committer, args=(t,)) for t in "abcd"]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    manifest = json.load(open(os.path.join(path, MANIFEST_NAME)))
    assert len(manifest["parts"]) == 80, "a concurrent commit was lost"
    assert manifest["n_rows"] == 80
    # stale-lock recovery: a lock file older than stale_after is broken
    lock = os.path.join(path, LOCK_NAME)
    open(lock, "w").write("{}")
    os.utime(lock, (1, 1))  # epoch-old: crashed holder
    ManifestJsonlWriter({"path": path}).commit(
        [PartCommit(filename="part-after-stale.jsonl", n_rows=1, value_sum="0")]
    )
    manifest = json.load(open(os.path.join(path, MANIFEST_NAME)))
    assert len(manifest["parts"]) == 81


def test_stream_manifest_warns_when_query_id_unresolvable(tmp_path):
    """ADVICE r8: if the target manifest carries a query_id but THIS
    query's checkpoint id can't be resolved (checkpointLocation not passed
    as a sink option), batchId-only dedup silently reintroduces the
    fresh-checkpoint batch-0 drop — the sink must warn loudly."""
    import json
    import os

    import pytest

    from hhs_and_cms_data_pipeline_spark.sources.manifest_sink import (
        ManifestJsonlStreamWriter,
        PartCommit,
    )

    path = str(tmp_path / "sink")
    cp = str(tmp_path / "cp")
    os.makedirs(path)
    os.makedirs(cp)
    with open(os.path.join(cp, "metadata"), "w") as f:
        json.dump({"id": "query-aaa"}, f)
    w1 = ManifestJsonlStreamWriter({"path": path, "checkpointlocation": cp})
    w1.commit([PartCommit(filename="part-a.jsonl", n_rows=1, value_sum="0")],
              batchId=0)
    # identity-less writer against an identity-carrying manifest: warn,
    # and (documented degraded mode) batchId-only dedup drops batch 0
    w2 = ManifestJsonlStreamWriter({"path": path})
    with pytest.warns(UserWarning, match="checkpoint id"):
        w2.commit([PartCommit(filename="part-b.jsonl", n_rows=1, value_sum="0")],
                  batchId=0)


def test_manifest_stream_writer_resolves_session_conf_checkpoint(spark, tmp_path):
    """The engine-side writer helper resolves a session-conf-default
    checkpoint into an explicit sink option, so the manifest carries the
    query id (exactly-once keying) even when the user never passed
    checkpointLocation to the sink. In-sink resolution is impossible by
    construction — the Python Data Source runner process has no
    SparkSession and Spark materializes the conf default as a random-uuid
    subdirectory the sink cannot discover — so resolution happens at
    stream-build time in manifest_stream_writer."""
    import json
    import os

    from hhs_and_cms_data_pipeline_spark.sources.manifest_sink import (
        MANIFEST_NAME,
        manifest_stream_writer,
    )

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.json").write_text('{"x": 1}\n')
    sink = str(tmp_path / "sink")
    conf_root = str(tmp_path / "cp_root")
    spark.conf.set("spark.sql.streaming.checkpointLocation", conf_root)
    try:
        df = spark.readStream.schema("x long").json(str(src))
        q = (
            manifest_stream_writer(df, sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        manifest = json.load(open(os.path.join(sink, MANIFEST_NAME)))
        # the helper placed the checkpoint under the conf root ...
        subdirs = os.listdir(conf_root)
        assert len(subdirs) == 1, subdirs
        # ... and the sink resolved the query id through it
        assert manifest.get("query_id") == str(q.id)
        # deterministic re-resolution: same path -> same checkpoint subdir
        df2 = spark.readStream.schema("x long").json(str(src))
        w2 = manifest_stream_writer(df2, sink)
        assert os.listdir(conf_root) == subdirs
    finally:
        spark.conf.unset("spark.sql.streaming.checkpointLocation")


def test_manifest_stream_writer_pops_both_checkpoint_spellings(spark, tmp_path):
    """Regression pin (ADVICE r10): passing BOTH `checkpointLocation` and
    `checkpointlocation` used to short-circuit — the lowercase variant was
    left in **options and forwarded as a duplicate, conflicting sink
    option. Both spellings must be consumed, canonical case wins, and the
    checkpoint must land under the canonical path only."""
    import json
    import os

    from hhs_and_cms_data_pipeline_spark.sources.manifest_sink import (
        MANIFEST_NAME,
        manifest_stream_writer,
    )

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.json").write_text('{"x": 1}\n')
    sink = str(tmp_path / "sink")
    cp_win = str(tmp_path / "cp_canonical")
    cp_lose = str(tmp_path / "cp_lowercase")
    df = spark.readStream.schema("x long").json(str(src))
    q = (
        manifest_stream_writer(
            df, sink, checkpointLocation=cp_win, checkpointlocation=cp_lose
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert os.path.isdir(cp_win)
    assert not os.path.exists(cp_lose)
    manifest = json.load(open(os.path.join(sink, MANIFEST_NAME)))
    assert manifest.get("query_id") == str(q.id)


def test_stream_manifest_commit_idempotent_on_batch_id(tmp_path):
    """ST22 exactly-once hinge: after a driver restart Spark re-commits
    the last micro-batch; re-registering its parts would double-count
    every row. A second commit with the same batchId must be a byte-level
    no-op on the manifest, and a later batch must still append."""
    import json
    import os

    from hhs_and_cms_data_pipeline_spark.sources.manifest_sink import (
        MANIFEST_NAME,
        ManifestJsonlStreamWriter,
        PartCommit,
        manifest_files,
    )

    path = str(tmp_path / "sink")
    os.makedirs(path)
    w = ManifestJsonlStreamWriter({"path": path})
    m0 = PartCommit(filename="part-b0.jsonl", n_rows=3, value_sum="1.5")
    w.commit([m0], batchId=0)
    before = open(os.path.join(path, MANIFEST_NAME)).read()
    w.commit([m0], batchId=0)  # replayed after restart
    assert open(os.path.join(path, MANIFEST_NAME)).read() == before
    w.commit([PartCommit(filename="part-b1.jsonl", n_rows=2, value_sum="0")],
             batchId=1)
    files = [os.path.basename(p) for p in manifest_files(path)]
    assert files == ["part-b0.jsonl", "part-b1.jsonl"]
    batches = json.load(open(os.path.join(path, MANIFEST_NAME)))["batches"]
    assert [b["batch_id"] for b in batches] == [0, 1]


def test_stream_manifest_fresh_checkpoint_resets_stale_batches(tmp_path):
    """A RESTARTED query with a FRESH checkpoint writing to an existing
    target restarts its batch ids at 0; keyed on batchId alone its new
    batch 0 would collide with the stale manifest's batch 0 and be
    silently dropped (data loss). Keyed on the checkpoint's stable query
    id, the same-checkpoint replay still dedups while a new checkpoint
    supersedes the stale manifest entirely (old parts deleted)."""
    import json
    import os

    from hhs_and_cms_data_pipeline_spark.sources.manifest_sink import (
        MANIFEST_NAME,
        ManifestJsonlStreamWriter,
        PartCommit,
        manifest_files,
    )

    path = str(tmp_path / "sink")
    os.makedirs(path)

    def checkpoint(name, qid):
        cp = str(tmp_path / name)
        os.makedirs(cp)
        with open(os.path.join(cp, "metadata"), "w") as f:
            json.dump({"id": qid}, f)
        return cp

    cp1 = checkpoint("cp1", "query-aaa")
    w1 = ManifestJsonlStreamWriter({"path": path, "checkpointlocation": cp1})
    old_part = os.path.join(path, "part-old0.jsonl")
    open(old_part, "w").write('{"x": 1}\n')
    w1.commit([PartCommit(filename="part-old0.jsonl", n_rows=1, value_sum="0")],
              batchId=0)
    # same checkpoint, replayed batch 0: still a no-op
    before = open(os.path.join(path, MANIFEST_NAME)).read()
    w1.commit([PartCommit(filename="part-old0.jsonl", n_rows=1, value_sum="0")],
              batchId=0)
    assert open(os.path.join(path, MANIFEST_NAME)).read() == before
    # FRESH checkpoint (new query id), batch 0 again: must COMMIT, not drop
    cp2 = checkpoint("cp2", "query-bbb")
    w2 = ManifestJsonlStreamWriter(
        {"path": path, "checkpointlocation": cp2, "gc_grace_seconds": "0"}
    )
    new_part = os.path.join(path, "part-new0.jsonl")
    open(new_part, "w").write('{"x": 2}\n')
    w2.commit([PartCommit(filename="part-new0.jsonl", n_rows=1, value_sum="0")],
              batchId=0)
    files = [os.path.basename(p) for p in manifest_files(path)]
    assert files == ["part-new0.jsonl"]
    manifest = json.load(open(os.path.join(path, MANIFEST_NAME)))
    assert manifest["query_id"] == "query-bbb"
    assert [b["batch_id"] for b in manifest["batches"]] == [0]
    assert not os.path.exists(old_part)  # superseded part deleted


def test_csv_binds_by_header_name_not_position(spark, tmp_path):
    """Regression: a file with reordered + extra columns must still land
    every value in its declared column (positional schema binding silently
    scrambled real-world HHS drops, whose column order differs from ours)."""
    import textwrap

    from hhs_and_cms_data_pipeline_spark.sources.csvsrc import read_hhs_weekly

    p = str(tmp_path / "scrambled.csv")
    with open(p, "w") as f:
        f.write(
            textwrap.dedent(
                """\
                collection_week,junk_col,state,hospital_pk,hospital_name,address,city,zip,fips_code,geocoded_hospital_address,all_adult_hospital_beds_7_day_avg,all_pediatric_inpatient_beds_7_day_avg,all_adult_hospital_inpatient_bed_occupied_7_day_avg,all_pediatric_inpatient_bed_occupied_7_day_avg,total_icu_beds_7_day_avg,icu_beds_used_7_day_avg,inpatient_beds_used_covid_7_day_avg,staffed_icu_adult_patients_confirmed_covid_7_day_avg
                2023-01-06,IGNORED,CA,H1,Alpha,1 Main,LA,90001,06037,,10.0,1.0,2.0,0.5,3.0,1.5,0.5,0.25
                """
            )
        )
    row = read_hhs_weekly(spark, p).head()
    assert row["hospital_pk"] == "H1"
    assert row["state"] == "CA"
    assert row["collection_week"] == "2023-01-06"
    assert row["all_adult_hospital_beds_7_day_avg"] == 10.0

    import pytest

    with open(p, "w") as f:
        f.write("hospital_pk,state\nH1,CA\n")
    with pytest.raises(ValueError, match="lacks declared columns"):
        read_hhs_weekly(spark, p)


def _hhs_row(header: list[str], **values: str) -> str:
    return ",".join(values.get(h, "") for h in header)


def test_csv_header_name_with_a_quoted_comma(spark, tmp_path):
    """A quoted header name holding a comma is one column, and undeclared
    columns may be unnamed or named twice: the declared columns after them
    keep their own values."""
    names = HHS_HEADER.split(",")
    p = tmp_path / "quoted.csv"
    p.write_text(
        '"note, free text",,extra,EXTRA,' + HHS_HEADER + "\n"
        + '"a, b",x,y,z,' + _hhs_row(names, hospital_pk="H1", state="CA",
                                     all_adult_hospital_beds_7_day_avg="10.0") + "\n"
    )
    row = read_hhs_weekly(spark, str(p)).head()
    assert (row["hospital_pk"], row["state"]) == ("H1", "CA")
    assert row["all_adult_hospital_beds_7_day_avg"] == 10.0


def test_csv_header_after_a_utf8_bom(spark, tmp_path):
    """A byte-order mark before the header does not rename its first
    column: ``hospital_pk`` still binds."""
    names = HHS_HEADER.split(",")
    p = tmp_path / "bom.csv"
    p.write_bytes(
        b"\xef\xbb\xbf"
        + (HHS_HEADER + "\n" + _hhs_row(names, hospital_pk="H1", state="CA") + "\n").encode()
    )
    row = read_hhs_weekly(spark, str(p)).head()
    assert (row["hospital_pk"], row["state"]) == ("H1", "CA")


def test_csv_refuses_a_repeated_declared_column(spark, tmp_path):
    """A declared column named twice has no one column to bind to."""
    p = tmp_path / "twice.csv"
    p.write_text(HHS_HEADER + ",state\n" + ",".join(["x"] * 18) + "\n")
    with pytest.raises(ValueError, match=r"repeats declared columns \['state'\]"):
        read_hhs_weekly(spark, str(p))


def test_csv_refuses_a_directory(spark, tmp_path):
    d = tmp_path / "weekly.csv"
    d.mkdir()
    with pytest.raises(ValueError, match=f"{d} is not a regular file"):
        read_hhs_weekly(spark, str(d))


def test_csv_read_launches_no_job(spark, hhs_csv, cms_csv):
    """Binding by header name reads the header on the driver: building the
    reads runs no Spark job."""
    from tests.spark_jobs import job_ids

    before = job_ids(spark)
    read_hhs_weekly(spark, hhs_csv)
    read_cms_quality(spark, cms_csv)
    assert job_ids(spark) - before == set()


def test_merge_rewrites_only_touched_partitions(spark):
    """K5 contract: the MERGE version dir rewrites exactly the batch's
    partitions; every other partition is carried over by per-file HARDLINK
    (st_nlink >= 2 against the donor version), so cost tracks the update
    batch — and GC of the donor can never dangle the current version."""
    from hhs_and_cms_data_pipeline_spark.operators.sources_sinks import (
        _MERGE_DAY,
        _tagged_io_path,
        k5_merge_partition_rewrite,
    )
    from tests.conftest import SF_SMOKE

    n_rows = k5_merge_partition_rewrite(spark, SF_SMOKE).count()
    assert n_rows > 0
    target = _tagged_io_path("k5_merge_target", SF_SMOKE)
    cur = os.path.realpath(target)
    parts = sorted(p for p in os.listdir(cur) if p.startswith("event_date="))
    assert f"event_date={_MERGE_DAY}" in parts
    assert len(parts) > 1, "fixture must span multiple partitions"
    for p in parts:
        files = [
            f for f in os.listdir(os.path.join(cur, p)) if f.endswith(".parquet")
        ]
        assert files, f"empty partition {p}"
        nlinks = {
            os.stat(os.path.join(cur, p, f)).st_nlink for f in files
        }
        if p == f"event_date={_MERGE_DAY}":
            # rewritten fresh: files are this version's own inodes
            assert nlinks == {1}, f"touched partition {p} was not rewritten"
        else:
            assert min(nlinks) >= 2, f"untouched partition {p} was copied, not hardlinked"


def test_time_travel_reads_dethroned_version(spark):
    """K6: steps_back=1 returns v1, steps_back=0 returns v2 (doubled), and
    asking past retention raises instead of guessing."""
    import pytest as _pytest

    from hhs_and_cms_data_pipeline_spark.operators.sources_sinks import (
        _tagged_io_path,
        k6_time_travel_read,
    )
    from hhs_and_cms_data_pipeline_spark.sinks import read_published_version
    from tests.conftest import SF_SMOKE

    v1 = {r["n_regionkey"]: r["n_nations"] for r in k6_time_travel_read(spark, SF_SMOKE).collect()}
    path = _tagged_io_path("k6_versions", SF_SMOKE)
    v2 = {
        r["n_regionkey"]: r["n_nations"]
        for r in read_published_version(spark, path, steps_back=0).collect()
    }
    assert v2 == {k: 2 * v for k, v in v1.items()}
    with _pytest.raises(ValueError, match="time travel"):
        read_published_version(spark, path, steps_back=5)


def test_atomic_publish_under_concurrent_writers_and_readers(spark, tmp_path, monkeypatch):
    """K2 commit protocol under contention: two writer threads republish the
    same table while a reader loops; every read must observe exactly one
    COMPLETE version (all rows share one tag and the tag's full row count)
    — never a mix of versions, never a partial directory. This is the
    multi-writer story merge_rewrite_partitions and the dashboards rely
    on, exercised rather than asserted in prose."""
    import threading

    from pyspark.sql import functions as F

    from hhs_and_cms_data_pipeline_spark import sinks
    from hhs_and_cms_data_pipeline_spark.sinks import (
        read_published,
        write_parquet_atomic,
    )

    monkeypatch.setattr(sinks, "_GC_GRACE_SECONDS", 120.0)
    path = str(tmp_path / "contended")
    counts = {tag: 40 + tag for tag in range(6)}

    def publish(tag: int) -> None:
        df = (
            spark.range(counts[tag])
            .select(F.lit(tag).alias("tag"), F.col("id"))
            .repartition(4)  # multi-file versions: partial reads would show
        )
        write_parquet_atomic(df, path)

    publish(0)
    errors: list[str] = []

    def writer(tags: list[int]) -> None:
        try:
            for t in tags:
                publish(t)
        except Exception as e:  # pragma: no cover - surfaced via errors
            errors.append(f"writer: {e}")

    threads = [
        threading.Thread(target=writer, args=([1, 3, 5],)),
        threading.Thread(target=writer, args=([2, 4],)),
    ]
    for th in threads:
        th.start()
    seen = set()
    for _ in range(12):
        rows = read_published(spark, path).collect()
        tags = {r["tag"] for r in rows}
        if len(tags) != 1:
            errors.append(f"mixed versions in one read: {sorted(tags)}")
            break
        tag = tags.pop()
        if len(rows) != counts[tag]:
            errors.append(f"partial version {tag}: {len(rows)}/{counts[tag]} rows")
            break
        seen.add(tag)
    for th in threads:
        th.join()
    assert not errors, errors
    # the final published state is one complete version too
    rows = read_published(spark, path).collect()
    assert len({r["tag"] for r in rows}) == 1
    assert seen, "reader never completed a read"


def test_merge_refuses_escaped_partition_values(spark, tmp_path):
    """Partition dir names are built as raw f"{col}={v}"; Spark escapes
    special characters (and spells NULL __HIVE_DEFAULT_PARTITION__), so a
    value the two sides name differently would silently duplicate rows.
    The merge must refuse such values loudly."""
    from pyspark.sql import functions as F

    from hhs_and_cms_data_pipeline_spark.sinks import (
        merge_rewrite_partitions,
        write_parquet_atomic,
    )

    path = str(tmp_path / "tbl")
    base = spark.range(4).select(
        F.col("id").alias("k"), F.lit("a").alias("p"), F.lit(0).alias("v")
    )
    write_parquet_atomic(base, path, partition_by=["p"])
    bad = spark.range(1).select(
        F.col("id").alias("k"), F.lit("a:b").alias("p"), F.lit(1).alias("v")
    )
    with pytest.raises(ValueError, match="unsupported partition value"):
        merge_rewrite_partitions(spark, bad, path, keys=["k"], partition_col="p")


def test_merge_refuses_a_batch_lacking_a_column(spark, tmp_path):
    """A touched partition is read with the batch's schema, so a batch
    without one of the table's columns must be refused before the rewrite,
    not drop that column's values from the partition."""
    from hhs_and_cms_data_pipeline_spark.sinks import (
        merge_rewrite_partitions,
        write_parquet_atomic,
    )

    path = str(tmp_path / "tbl")
    table = spark.createDataFrame(
        [(1, 0, 1.0, "a"), (2, 0, 2.0, "b")], "k int, p int, v double, note string"
    )
    write_parquet_atomic(table, path, partition_by=["p"])
    published = os.path.realpath(path)
    narrow = spark.createDataFrame([(1, 0, 9.0)], "k int, p int, v double")
    with pytest.raises(ValueError, match="lacks columns \\['note'\\]"):
        merge_rewrite_partitions(spark, narrow, path, ["k"], "p")
    assert os.path.realpath(path) == published
    assert sorted(r["note"] for r in spark.read.parquet(path).collect()) == ["a", "b"]


def test_merge_refuses_a_wider_column_type(spark, tmp_path):
    """A double `x` merged onto a float `x` left the rewritten partition
    double and the carried one float."""
    import glob

    import pyarrow.parquet as pq

    from hhs_and_cms_data_pipeline_spark.sinks import (
        merge_rewrite_partitions,
        write_parquet_atomic,
    )

    path = str(tmp_path / "tbl")
    table = spark.createDataFrame([(1, 0, 1.0), (2, 1, 2.0)], "k int, p int, x float")
    write_parquet_atomic(table, path, partition_by=["p"])
    doubles = spark.createDataFrame([(1, 0, 9.0)], "k int, p int, x double")
    _assert_refused(
        spark, path, lambda: merge_rewrite_partitions(spark, doubles, path, ["k"], "p"),
        r"column types.*'x': \('float', 'double'\)",
    )
    files = glob.glob(os.path.join(os.path.realpath(path), "p=*", "*.parquet"))
    assert {str(pq.read_schema(f).field("x").type) for f in files} == {"float"}


def test_time_travel_rejects_negative_steps(spark, tmp_path):
    from pyspark.sql import functions as F

    from hhs_and_cms_data_pipeline_spark.sinks import (
        read_published_version,
        write_parquet_atomic,
    )

    path = str(tmp_path / "tbl")
    write_parquet_atomic(spark.range(3), path)
    with pytest.raises(ValueError, match="steps_back"):
        read_published_version(spark, path, steps_back=-1)


def test_stream_manifest_e2e_fresh_checkpoint_supersedes(spark, tmp_path):
    """ADVICE r7 e2e: run a real writeStream through the manifest sink,
    then run a SECOND query (fresh checkpoint) into the SAME target
    without clearing it. Before the (queryId, batchId) keying, the second
    run's batch 0 collided with the stale manifest's batch 0 and its data
    silently vanished; now the new query supersedes the stale manifest
    and readers see exactly the second run's rows."""
    import json
    import os

    from pyspark.sql import functions as F

    from hhs_and_cms_data_pipeline_spark.sources.manifest_sink import (
        MANIFEST_NAME,
        manifest_files,
        register_manifest_sink,
    )

    register_manifest_sink(spark)
    target = str(tmp_path / "sink")
    src1 = str(tmp_path / "src1")
    src2 = str(tmp_path / "src2")
    spark.range(5).select(F.col("id").alias("v")).write.parquet(src1)
    spark.range(100, 103).select(F.col("id").alias("v")).write.parquet(src2)

    def drain(src: str, ckpt: str) -> None:
        q = (
            spark.readStream.schema("v long")
            .format("parquet")
            .load(src)
            .writeStream.format("manifest_jsonl")
            .option("path", target)
            .option("gc_grace_seconds", "0")  # immediate reclamation arm
            .option("checkpointLocation", str(tmp_path / ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain(src1, "ckpt1")
    first_parts = [os.path.basename(p) for p in manifest_files(target)]
    got1 = sorted(
        r.v for r in spark.read.schema("v long").json(manifest_files(target)).collect()
    )
    assert got1 == [0, 1, 2, 3, 4]
    # second query, FRESH checkpoint, same (uncleared) target
    drain(src2, "ckpt2")
    got2 = sorted(
        r.v for r in spark.read.schema("v long").json(manifest_files(target)).collect()
    )
    assert got2 == [100, 101, 102]  # not dropped, not mixed with run 1
    manifest = json.load(open(os.path.join(target, MANIFEST_NAME)))
    assert manifest.get("query_id")  # identity recorded
    for stale in first_parts:
        assert not os.path.exists(os.path.join(target, stale))
