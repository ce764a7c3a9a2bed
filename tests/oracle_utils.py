"""Local replica of the driver's DuckDB differential check (BASELINE.md).

Compares a Spark DataFrame against DuckDB running the oracle SQL over the
same parquet files: row count, column names, and order-insensitive values.
Float comparison is EXACT (bit equality) — the driver hashes values, so any
float divergence is treated as failure here too.
"""

from __future__ import annotations

import datetime as _dt
import math
from decimal import Decimal

import duckdb

from hhs_and_cms_data_pipeline_spark.sources.tables import TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _canon(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision — bit-exact comparison
    if isinstance(v, Decimal):
        return f"dec:{v}"
    if isinstance(v, _dt.datetime):
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return "b:" + bytes(v).hex()
    if isinstance(v, bool):
        return f"bool:{v}"
    return f"{type(v).__name__}:{v}"


def canon_rows(cols, rows) -> list[str]:
    """Each row as one canonical string, columns taken in name order, rows
    kept in their given order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ["|".join(_canon(r[i]) for i in order) for r in rows]


def _rowset(cols, rows):
    return sorted(canon_rows(cols, rows))


def assert_no_hugeint(con, oracle: str) -> None:
    """Flag DuckDB HUGEINT/UHUGEINT result columns in an oracle's output.

    DuckDB's SUM(BIGINT) returns HUGEINT; the Python fetchall() path converts
    it to int (so this module's value compare passes), but the driver's
    Arrow/pandas hashing path stringifies it differently than Spark's bigint —
    a silent hash mismatch class. Oracles must CAST(SUM(..) AS BIGINT).
    """
    desc = con.execute(f"DESCRIBE (\n{oracle}\n)").fetchall()
    bad = [(r[0], r[1]) for r in desc if "HUGEINT" in str(r[1]).upper()]
    assert not bad, f"oracle emits HUGEINT columns (cast to BIGINT): {bad}"


def assert_driver_hashable(spark_df, con=None, oracle: str | None = None) -> None:
    """Reject complex-typed (array/map/struct) output columns on BOTH sides.

    The driver's canonicalizer sorts the result frame with pandas
    ``sort_values``, which raises ``TypeError: unhashable type:
    'numpy.ndarray'`` on any array cell (CORRECTNESS_r11:
    text_inverted_index, mm_keyframe_select). This module's _canon
    historically tolerated lists, so the local replica passed what the
    driver failed — the replica must reject everything the driver's pandas
    canon would choke on. Serialize arrays with
    array_join/array_to_string, or explode to scalar rows.
    """
    from pyspark.sql import types as _T

    bad = [
        (f.name, f.dataType.simpleString())
        for f in spark_df.schema.fields
        if isinstance(f.dataType, (_T.ArrayType, _T.MapType, _T.StructType))
    ]
    assert not bad, (
        f"driver-unhashable complex-typed Spark output columns: {bad} "
        "(serialize with F.array_join / to_json, or explode to scalar rows)"
    )
    if con is not None and oracle is not None:
        desc = con.execute(f"DESCRIBE (\n{oracle}\n)").fetchall()
        bad_d = [
            (r[0], r[1])
            for r in desc
            if "[]" in str(r[1])
            or str(r[1]).upper().startswith(("STRUCT", "MAP(", "UNION"))
        ]
        assert not bad_d, (
            f"driver-unhashable complex-typed oracle output columns: {bad_d} "
            "(serialize with array_to_string / to_json)"
        )


def compare_spark_duckdb(spark_df, con, oracle: str) -> None:
    assert_no_hugeint(con, oracle)
    assert_driver_hashable(spark_df, con, oracle)
    s_cols = list(spark_df.columns)
    s_rows = [tuple(r) for r in spark_df.collect()]
    res = con.execute(oracle)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols), (
        f"column mismatch: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"row count mismatch: spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    s_set = _rowset(s_cols, s_rows)
    d_set = _rowset(d_cols, d_rows)
    if s_set != d_set:
        diffs = [
            f"  spark: {a}\n  duck : {b}"
            for a, b in zip(s_set, d_set)
            if a != b
        ][:5]
        raise AssertionError("value mismatch (first diffs):\n" + "\n".join(diffs))
