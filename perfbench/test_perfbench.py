"""Tests of the benchmark's own parts (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import math
import os
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from checks import Checker, load_oracle_utils  # noqa: E402
from tracer import Tracer  # noqa: E402


def _files(d) -> list[str]:
    return sorted(os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs)


def _same_files(a, b) -> bool:
    names = _files(a)
    if names != _files(b):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def _feed_files(out: str, seed: int) -> None:
    feed = gen.HhsFeed(out, seed, n_hospitals=300)
    feed.write_history(os.path.join(out, "history"), 3)
    for i in (3, 4):
        batch = feed.hhs_week(i)
        feed.cms_release(i)
    feed.hhs_correction(batch, 4)


def test_tables_same_seed_byte_identical(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 5, 0.001)
    gen.write_tables(str(tmp_path / "b"), 5, 0.001)
    gen.write_tables(str(tmp_path / "c"), 6, 0.001)
    assert _same_files(tmp_path / "a", tmp_path / "b")
    assert not _same_files(tmp_path / "a", tmp_path / "c")


def test_feed_same_seed_byte_identical(tmp_path):
    _feed_files(str(tmp_path / "a"), 5)
    _feed_files(str(tmp_path / "b"), 5)
    _feed_files(str(tmp_path / "c"), 6)
    assert len(_files(tmp_path / "a")) == 13
    assert _same_files(tmp_path / "a", tmp_path / "b")
    assert not _same_files(tmp_path / "a", tmp_path / "c")


def test_feed_has_the_dirty_cells_the_loader_must_handle(tmp_path):
    feed = gen.HhsFeed(str(tmp_path), 1, n_hospitals=2000)
    week = feed.hhs_week(0)
    text = open(week.path).read()
    assert gen.SENTINEL in text and ",NaN," in text and ",," in text
    assert week.rows > len(week.pks)  # same-week resubmissions
    assert any(loc[4] is None for loc in week.locations)  # blank WKT
    assert "Not Available" in open(feed.cms_release(0).path).read()
    fix = feed.hhs_correction(week, 0)
    assert fix.pks and fix.pks <= week.pks and fix.rows == len(fix.pks)


@pytest.fixture
def checker():
    return Checker(load_oracle_utils(run.ROOT)._rowset)


def test_corrupted_result_is_counted(checker):
    cols, rows = ["k", "v"], [(1, 0.1), (2, 0.2)]
    checker.reference["q"] = checker.digest(cols, rows)
    assert checker.against_reference("q", cols, list(reversed(rows)))  # order-insensitive
    assert checker.failed == 0
    assert not checker.against_reference("q", cols, [(1, 0.1), (2, math.nextafter(0.2, 1.0))])
    assert not checker.against_reference("q", cols, [(1, 0.1)])
    assert (checker.attempted, checker.failed) == (3, 2)
    assert checker.failed_frac == pytest.approx(2 / 3)


def test_oracle_diff_is_bit_exact(checker):
    con = duckdb.connect()
    sql = "SELECT 1 AS k, CAST(0.1 AS DOUBLE) AS v"
    assert checker.against_oracle("q", ["v", "k"], [(0.1, 1)], con, sql)
    assert not checker.against_oracle("q", ["k", "v"], [(1, math.nextafter(0.1, 1.0))], con, sql)
    assert (checker.attempted, checker.failed) == (2, 1)


def test_self_time_subtracts_children():
    tr = Tracer(True)
    tr.begin_op("page", True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    op = tr.end_op()
    outer, inner = tr.spans
    assert inner["parent"] == 0 and inner["op"] == op["id"] == 0
    self_t = tr.self_times()
    assert self_t["outer"] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"])
    )


def test_disabled_tracer_records_no_spans():
    tr = Tracer(False)
    tr.begin_op("page", True)
    with tr.span("outer"):
        tr.count("sinks.rows_appended", 3)
    assert tr.end_op()["wall_s"] >= 0 and tr.spans == []


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run._per_layer()
