#!/usr/bin/env python
"""Replicate the driver's correctness gate locally.

Usage:
    PYTHONPATH=. python scripts/driver_check.py [name ...]

Runs `__spark_entry__.entry()` as a smoke, then for each requested query
name (default: a fixed 12-name spot sample, one of them a streaming drain,
one, r2, built on a memoized artifact, one, r4, sorted in one partition
instead of by a range exchange, and one, ING3, planned on the staged HHS
prep batch) executes the Spark builder AND
its DuckDB oracle at sf0.01 and compares bit-exactly — the same contract as tests/test_oracle_diff.py, packaged for
quick ad-hoc checks of freshly touched queries without a pytest session.

The session is deliberately foreign (America/Los_Angeles, AQE off), so the
check also proves that the registry sets up the session the driver hands it
(UTC, AQE, ``nanosAsLong``) rather than passing only because the host is UTC.

Comparison is DELEGATED to tests/oracle_utils.compare_spark_duckdb — the
same order-insensitive, bit-exact canonicalization the pytest gate uses —
so the repo has exactly ONE comparison implementation (r8 VERDICT ask #3:
the previous in-order pandas compare could false-fail, or luck-pass, a
query whose two engines return rows in different orders).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_SAMPLE = [
    "flagship_utilization",
    "r2_recent_weeks_summary",
    "r4_weekly_state_totals",
    "tpch_q1_pricing_summary",
    "dedup_minhash_lsh",
    "graph_pagerank",
    "text_bm25_topk",
    "sim_radius_search",
    "curation_hashed_linear_score",
    "u4_debounce_dedup",
    "stream_hll_registers",
    "ingest_to_report_e2e",
]


def main() -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from tests.oracle_utils import compare_spark_duckdb, duckdb_connection

    sf_dir = os.environ.get("SPARK_GRAFT_CHECK_SF", "/root/testdata/sf0.01")
    names = sys.argv[1:] or DEFAULT_SAMPLE

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "America/Los_Angeles")
        .config("spark.sql.adaptive.enabled", "false")
        .getOrCreate()
    )
    n = len(entrymod.entry(spark).collect())
    print(f"entry(): {n} rows")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    print(f"{len(qs)} queries, {len(oracles)} oracles")

    con = duckdb_connection(sf_dir)

    failed = []
    for name in names:
        if name not in qs:
            print(f"{name}: NOT REGISTERED")
            failed.append(name)
            continue
        df = qs[name](spark, sf_dir)
        try:
            if name in oracles:
                compare_spark_duckdb(df, con, oracles[name])
                print(f"{name}: OK ({df.count()} rows)")
            else:  # rows-only check, like the driver's weaker gate
                print(f"{name}: OK rows-only ({df.count()} rows, no oracle)")
        except AssertionError as e:
            print(f"{name}: MISMATCH — {str(e)[:200]}")
            failed.append(name)
    if failed:
        print(f"FAILED: {failed}")
        return 1
    print("all checks passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
