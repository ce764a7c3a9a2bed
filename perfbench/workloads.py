"""The benchmark workloads and the curation pass traced dashboard runs add.

Each workload drives the program only through its public functions and
reads only the generated files. It has three phases:

* ``prepare`` — write the inputs (benchmark time, not set-up time);
* ``warm_up`` — the program's first operation of each kind, checked
  against an independent result; returns the program time spent, which
  counts into ``setup_s``;
* ``step`` — one timed operation, checked before the next one starts.

Operation times keep falling slowly for about a minute after warm-up (JIT
compilation in the JVM). The benchmark's time budget does not allow a
warm-up that long, so every run times the same number of operations
(``min_ops``; ``--seconds`` only adds more on a much faster program) and
with it the same early-warm stretch. ``op_s`` reports that stretch's
median operation.

``Run`` holds the per-run state the phases share.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time
from collections import defaultdict
from dataclasses import dataclass, field
from statistics import median

import pyarrow.parquet as pq

import gen
from checks import Checker
from tracer import Tracer


@dataclass
class Run:
    work: str
    seed: int
    tracer: Tracer
    checker: Checker
    oracle_utils: object
    spark: object = None
    specs: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# Query packs: the dashboard page and the curation pass
# ---------------------------------------------------------------------------


# The query packs read one fixed data set: with data drawn from --seed, the
# near-duplicate structure of the corpus (and with it the dedup work) varied
# enough from seed to seed to blur op_s. The seed shuffles query order.
DATA_SEED = 42


class QueryPack:
    """Runs a fixed list of registry queries as one operation, each as
    ``builder()`` (plan construction) then ``collect()`` (execution), in an
    order the seed shuffles. The first (cold) operation is diffed against
    DuckDB running each query's oracle SQL; every later one is compared by
    digest with that checked result.

    ``op_s`` is the sum over the queries of each one's median time
    (``builder()`` plus ``collect()``) over the timed operations: a pause
    that slows one query of one operation does not move it."""

    name: str
    op_kind: str
    queries: tuple[tuple[str, str], ...]  # (operators module, registry name)
    sf: float
    docs_sf: float
    min_ops = 4

    def prepare(self, run: Run) -> None:
        self.sf_dir = os.path.join(run.work, f"tables-{self.name}")
        gen.write_tables(self.sf_dir, DATA_SEED, self.sf, self.docs_sf)
        self.rng = random.Random(run.seed)
        self.times: dict[str, list[float]] = defaultdict(list)

    def _op(self, run: Run, timed: bool, con=None) -> float:
        tr, order = run.tracer, list(self.queries)
        self.rng.shuffle(order)
        results = []
        tr.begin_op(self.op_kind, timed)
        for module, q in order:
            layer = f"operators.{module}.{q}"
            t = time.perf_counter()
            try:
                with tr.span(f"{layer}.plan"):
                    df = run.specs[q].builder(run.spark, self.sf_dir)
                with tr.span(f"{layer}.exec"):
                    rows = [tuple(r) for r in df.collect()]
                results.append((q, df.columns, rows))
            except Exception as exc:  # noqa: BLE001 — a failing query is counted, not fatal
                results.append((q, None, repr(exc)))
            if timed:
                self.times[q].append(time.perf_counter() - t)
        wall = tr.end_op()["wall_s"]
        for q, cols, rows in results:
            if cols is None:
                run.checker.check(False, f"{q} raised {rows}")
            elif con is not None:
                run.checker.against_oracle(q, cols, rows, con, run.specs[q].oracle)
            else:
                run.checker.against_reference(q, cols, rows)
        return wall

    def warm_up(self, run: Run) -> float:
        con = run.oracle_utils.duckdb_connection(self.sf_dir)
        try:
            return self._op(run, timed=False, con=con)
        finally:
            con.close()

    def step(self, run: Run, i: int) -> None:
        self._op(run, timed=True)

    def op_s(self) -> float:
        return sum(median(v) for v in self.times.values())

    def metrics(self) -> dict[str, float]:
        return {}


class CorpusCuration(QueryPack):
    """The LLM-data curation pass. Not a workload of its own: a run of it
    costs as much as a dashboard run (a cold pass is about 23 s), which the
    benchmark's time budget does not allow. Traced dashboard runs add one
    cold and one timed pass, so its per-layer metrics are still measured."""

    name = "corpus_curation"
    op_kind = "pass"
    queries = (
        ("curation", "curation_end_to_end"), ("curation", "decontaminate_ngram_overlap"),
        ("dedup", "dedup_exact"), ("dedup", "dedup_minhash_lsh"),
        ("retrieval", "text_bm25_topk"), ("similarity", "sim_ivf_topk"),
        ("multimodal", "mm_frame_features"),
    )
    sf, docs_sf = 0.002, 0.01


class ReportDashboard(QueryPack):
    name = "report_dashboard"
    op_kind = "page"
    queries = tuple(("report", q) for q in (
        "r8_available_dates", "r1_weekly_count_trend", "r2_recent_weeks_summary",
        "r3_utilization_by_rating", "r4_weekly_state_totals", "r5_sum_by_state",
        "r6_bottom10_states", "r7_not_reporting", "flagship_utilization",
    ))
    sf, docs_sf = 0.01, 0.002
    traced_companion = CorpusCuration


# ---------------------------------------------------------------------------
# Weekly ingest
# ---------------------------------------------------------------------------

class WeeklyIngest:
    """The reference lifecycle (load-hhs + load-quality) on generated weekly
    CSVs, landing on a quarter of published history (a full year took 12 s
    of every run's set-up to publish).

    Warm-up publishes the history, loads one new week and replays it; the
    timed operations are ``STEPS``, then new weeks until the time is up:

    * new week — HHS CSV -> prep -> location/hospital appends -> MERGE of
      the weekly fact partition; then the CMS release of the same week ->
      normalize -> location lookup -> quality append;
    * replay — the same two files again: must append 0 rows anywhere;
    * correction — a re-issued subset of the last week: rewrites that one
      fact partition; the new values must read back through
      ``sinks.read_published``.

    The replay goes through the new week's code path, so it warms the timed
    new weeks too. ``op_s`` is the median new week.
    """

    name = "weekly_ingest"
    op_kind = "new_week"
    STEPS = ("new_week", "correction", "new_week", "new_week", "new_week", "new_week")
    HISTORY_WEEKS = 13
    HOSPITALS = 6000
    min_ops = len(STEPS)

    def prepare(self, run: Run) -> None:
        self.feed = gen.HhsFeed(os.path.join(run.work, "csv"), run.seed, self.HOSPITALS)
        self.history = os.path.join(run.work, "history")
        self.feed.write_history(self.history, self.HISTORY_WEEKS)
        lake = os.path.join(run.work, "lake")
        self.fact, self.loc, self.hosp, self.qual = (
            os.path.join(lake, t) for t in ("weekly_report", "location", "hospital", "hospital_quality")
        )
        self.lake = lake
        self.next_week = self.HISTORY_WEEKS
        self.known_pks: set[str] = set()
        self.known_locs: set[tuple] = set()
        self.last: tuple | None = None  # (week index, hhs batch, cms batch)
        self.stats: dict[str, list[float]] = {"new_week": [], "replay": [], "correction": [],
                                              "rows_per_s": [], "amplification": []}

    # -- program calls ---------------------------------------------------------

    def _load(self, run: Run, hhs: gen.Batch, cms: gen.Batch) -> tuple[int, int, int, list]:
        from hhs_and_cms_data_pipeline_spark import sinks
        from hhs_and_cms_data_pipeline_spark.operators import ingest
        from hhs_and_cms_data_pipeline_spark.sources import csvsrc

        spark, tr = run.spark, run.tracer
        with tr.span("sources.csvsrc.read"):
            raw = csvsrc.read_hhs_weekly(spark, hhs.path)
        with tr.span("operators.ingest.plan"):
            prepped = ingest.prep_hhs(raw)
            loc = ingest.split_location(prepped)
            hosp = ingest.split_hospital(prepped, loc)
            fact = ingest.split_weekly_report(prepped)
        with tr.span("sinks.append_new_keys"):
            n_loc = sinks.append_new_keys(
                spark, loc, self.loc, list(ingest.LOCATION_NATURAL_KEY)
            )
        with tr.span("sinks.append_new_keys"):
            n_hosp = sinks.append_new_keys(spark, hosp, self.hosp, ["hospital_pk"])
        with tr.span("sinks.merge_rewrite_partitions"):
            parts = sinks.merge_rewrite_partitions(
                spark, fact, self.fact, ["hospital_weekly_id"], "collection_week"
            )
        with tr.span("sources.csvsrc.read"):
            qraw = csvsrc.read_cms_quality(spark, cms.path)
        with tr.span("operators.ingest.plan"):
            quality = ingest.cms_location_lookup(
                ingest.normalize_cms(qraw, cms.week.isoformat()), spark.read.parquet(self.loc)
            )
        with tr.span("sinks.append_new_keys"):
            n_q = sinks.append_new_keys(spark, quality, self.qual, ["facility_id", "rating_date"])
        tr.count("sinks.rows_offered", len(hhs.locations) + len(hhs.pks) + len(cms.pks))
        tr.count("sinks.rows_appended", n_loc + n_hosp + n_q)
        tr.count("sinks.partitions_rewritten", len(parts))
        return n_loc, n_hosp, n_q, parts

    def _correct(self, run: Run, fix: gen.Batch) -> list:
        from hhs_and_cms_data_pipeline_spark import sinks
        from hhs_and_cms_data_pipeline_spark.operators import ingest
        from hhs_and_cms_data_pipeline_spark.sources import csvsrc

        spark, tr = run.spark, run.tracer
        with tr.span("sources.csvsrc.read"):
            raw = csvsrc.read_hhs_weekly(spark, fix.path)
        with tr.span("operators.ingest.plan"):
            fact = ingest.split_weekly_report(ingest.prep_hhs(raw))
        with tr.span("sinks.merge_rewrite_partitions"):
            parts = sinks.merge_rewrite_partitions(
                spark, fact, self.fact, ["hospital_weekly_id"], "collection_week"
            )
        tr.count("sinks.partitions_rewritten", len(parts))
        return parts

    # -- read-back checks (benchmark side, untimed) ------------------------------

    def _week_rows(self, week: dt.date | None = None) -> int:
        """Rows of the published weekly fact (one week partition, or all),
        read from the Parquet footers on disk — independent of Spark."""
        base = os.path.realpath(self.fact)
        parts = [f"collection_week={week.isoformat()}"] if week else [
            d for d in os.listdir(base) if d.startswith("collection_week=")
        ]
        return sum(
            pq.ParquetFile(os.path.join(base, d, f)).metadata.num_rows
            for d in parts
            for f in os.listdir(os.path.join(base, d))
            if f.endswith(".parquet")
        )

    def _corrected_values(self, run: Run, fix: gen.Batch) -> dict[str, tuple]:
        from pyspark.sql import functions as F

        from hhs_and_cms_data_pipeline_spark import sinks
        from hhs_and_cms_data_pipeline_spark.sources.csvsrc import HHS_BED_METRICS

        rows = (
            sinks.read_published(run.spark, self.fact)
            .filter((F.col("collection_week") == F.lit(fix.week))
                    & F.col("hospital_weekly_id").isin(sorted(fix.metrics)))
            .select("hospital_weekly_id", *HHS_BED_METRICS)
            .collect()
        )
        return {r[0]: tuple(r[1:]) for r in rows}

    # -- operations ----------------------------------------------------------------

    def _run_op(self, run: Run, kind: str, timed: bool, fn, csv_bytes: int = 0):
        """Time ``fn()`` as one operation; returns (wall seconds, result or
        None, error repr or None). Also counts the data files the operation
        added to the lake (hardlinked carry-overs of untouched partitions
        share an inode and are not new)."""
        before = self._lake_files()
        run.tracer.begin_op(kind, timed)
        try:
            res, err = fn(), None
        except Exception as exc:  # noqa: BLE001 — counted as a failed operation
            res, err = None, repr(exc)
        op = run.tracer.end_op()
        new = {ino: size for ino, size in self._lake_files().items() if ino not in before}
        op["counters"]["sinks.files_written"] = len(new)
        op["counters"]["sinks.bytes_written"] = sum(new.values())
        if timed and csv_bytes:
            self.stats["amplification"].append(sum(new.values()) / csv_bytes)
        return op["wall_s"], res, err

    def _new_week(self, run: Run, timed: bool) -> float:
        i = self.next_week
        self.next_week += 1
        hhs, cms = self.feed.hhs_week(i), self.feed.cms_release(i)
        wall, res, err = self._run_op(run, "new_week", timed, lambda: self._load(run, hhs, cms),
                                      hhs.nbytes + cms.nbytes)
        want = (len(hhs.locations - self.known_locs), len(hhs.pks - self.known_pks), len(cms.pks))
        if err is None:
            rows = self._week_rows(hhs.week)
            ok = res == (*want, [hhs.week.isoformat()]) and rows == len(hhs.pks)
            run.checker.check(ok, f"new week {i}: appended/partitions {res} want {want}; "
                                  f"week rows {rows} want {len(hhs.pks)}")
            if timed:
                self.stats["new_week"].append(wall)
                self.stats["rows_per_s"].append((hhs.rows + cms.rows) / wall)
        else:
            run.checker.check(False, f"new week {i} raised {err}")
        self.known_pks |= hhs.pks
        self.known_locs |= hhs.locations
        self.last = (i, hhs, cms)
        return wall

    def _replay(self, run: Run, timed: bool) -> float:
        i, hhs, cms = self.last
        wall, res, err = self._run_op(run, "replay", timed, lambda: self._load(run, hhs, cms))
        if err is None:
            rows = self._week_rows(hhs.week)
            run.checker.check(res[:3] == (0, 0, 0) and rows == len(hhs.pks),
                              f"replay of week {i}: appended {res[:3]}, week rows {rows}")
        else:
            run.checker.check(False, f"replay of week {i} raised {err}")
        self.stats["replay"].append(wall)
        return wall

    def _correction(self, run: Run, timed: bool) -> float:
        i, hhs, _ = self.last
        fix = self.feed.hhs_correction(hhs, i)
        wall, parts, err = self._run_op(run, "correction", timed, lambda: self._correct(run, fix))
        if err is None:
            rows = self._week_rows(hhs.week)
            seen = self._corrected_values(run, fix)
            ok = parts == [hhs.week.isoformat()] and rows == len(hhs.pks) and seen == fix.metrics
            run.checker.check(ok, f"correction of week {i}: partitions {parts}, week rows "
                                  f"{rows}, corrected values visible: {seen == fix.metrics}")
        else:
            run.checker.check(False, f"correction of week {i} raised {err}")
        self.stats["correction"].append(wall)
        return wall

    def _lake_files(self) -> dict[int, int]:
        """inode -> size of every data file under the lake (hardlinked
        carry-overs of untouched partitions share an inode)."""
        out = {}
        for d, _, files in os.walk(self.lake):
            for f in files:
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(d, f))
                    out[st.st_ino] = st.st_size
        return out

    # -- phases ----------------------------------------------------------------------

    def warm_up(self, run: Run) -> float:
        from hhs_and_cms_data_pipeline_spark import sinks

        with run.tracer.span("sinks.write_parquet_atomic"):
            t = time.perf_counter()
            sinks.write_parquet_atomic(
                run.spark.read.parquet(self.history), self.fact, partition_by=["collection_week"]
            )
            spent = time.perf_counter() - t
        rows = self._week_rows()
        run.checker.check(rows == self.feed.history_rows, f"published history has {rows} rows, "
                                                          f"want {self.feed.history_rows}")
        self.write_s = spent
        return spent + self._new_week(run, False) + self._replay(run, False)

    def step(self, run: Run, i: int) -> None:
        if i < len(self.STEPS) and self.STEPS[i] == "correction":
            self._correction(run, True)
        else:
            self._new_week(run, True)

    def op_s(self) -> float:
        return median(self.stats["new_week"])

    def metrics(self) -> dict[str, float]:
        med = {k: (median(v) if v else 0.0) for k, v in self.stats.items()}
        return {
            "ingest.replay_s": med["replay"],
            "ingest.correction_s": med["correction"],
            "ingest.rows_per_s": med["rows_per_s"],
            "sinks.storage_amplification": med["amplification"],
        }


WORKLOADS = {w.name: w for w in (ReportDashboard, WeeklyIngest)}
