"""Spans and counters recorded from the benchmark's side of each call into
the program, plus Spark's own job/stage/task counters read from outside the
program (``SparkContext.statusTracker()`` and the app status store).

A disabled ``Tracer`` records nothing: ``span`` yields at once and ``end_op``
only keeps the operation's wall time, so untraced runs pay no tracing cost.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from statistics import median

EXEC_COUNTERS = (
    "exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks",
    "exec.input_bytes", "exec.shuffle_write_bytes", "exec.busy_core_s",
    "exec.core_util",
)


class SparkCounters:
    """Counts the Spark jobs that finished since the previous ``take``.

    Job ids come from the status tracker; each job's stages are read from
    the status store (``lastStageAttempt``). Skipped stages — shuffle output
    reused from an earlier job — did no work and are not counted."""

    def __init__(self, spark, cores: int):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._cores = cores
        self._seen = set(self._job_ids())

    def _job_ids(self) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(None))

    def take(self, wall_s: float) -> dict[str, float]:
        self._jsc.listenerBus().waitUntilEmpty()
        tracker, store = self._sc.statusTracker(), self._jsc.statusStore()
        new = [j for j in self._job_ids() if j not in self._seen]
        self._seen.update(new)
        out = dict.fromkeys(EXEC_COUNTERS, 0.0)
        out["exec.jobs"] = len(new)
        stages = set()
        for j in new:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        run_ms = 0
        for s in stages:
            try:
                st = store.lastStageAttempt(s)
            except Exception:  # noqa: BLE001 — py4j error: stage never attempted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += st.numCompleteTasks() + st.numFailedTasks() + st.numKilledTasks()
            out["exec.failed_tasks"] += st.numFailedTasks()
            out["exec.input_bytes"] += st.inputBytes()
            out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
            run_ms += st.executorRunTime()
        out["exec.busy_core_s"] = run_ms / 1000.0
        out["exec.core_util"] = out["exec.busy_core_s"] / (wall_s * self._cores) if wall_s else 0.0
        return out


class Tracer:
    """Spans (name, start, end, parent, op id) and per-operation counters.

    Operations are the units a workload times (a page, a batch, a pass);
    every span opened inside ``begin_op``/``end_op`` carries that op's id.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[int] = []
        self._op: dict | None = None
        self._counters: SparkCounters | None = None

    def attach(self, spark, cores: int) -> None:
        if self.enabled:
            t = time.perf_counter()
            self._counters = SparkCounters(spark, cores)
            self.overhead_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append({
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op["id"] if self._op else None,
        })
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        if self.enabled and self._op is not None:
            c = self._op["counters"]
            c[name] = c.get(name, 0) + value

    def begin_op(self, kind: str, timed: bool) -> None:
        self._op = {"id": len(self.ops), "kind": kind, "timed": timed,
                    "start": time.perf_counter(), "counters": {}}

    def end_op(self) -> dict:
        """Close the current op; returns its record (``wall_s`` included).
        Exec counters are read after the wall time is taken."""
        op = self._op
        op["wall_s"] = time.perf_counter() - op["start"]
        if self._counters is not None:
            t = time.perf_counter()
            op["counters"].update(self._counters.take(op["wall_s"]))
            self.overhead_s += time.perf_counter() - t
        self.ops.append(op)
        self._op = None
        return op

    # -- summaries -----------------------------------------------------------

    def layer_medians(self, kinds: set[str]) -> dict[str, float]:
        """Per timed op of the given kinds, the summed duration of each span
        name; returns the median over those ops (0 if a layer never ran)."""
        per_op: dict[str, list[float]] = defaultdict(list)
        ops = [o for o in self.ops if o["timed"] and o["kind"] in kinds]
        for o in ops:
            totals: dict[str, float] = defaultdict(float)
            for s in self.spans:
                if s["op"] == o["id"]:
                    totals[s["name"]] += s["end"] - s["start"]
            for name, v in totals.items():
                per_op[name].append(v)
        return {n: median(v + [0.0] * (len(ops) - len(v))) for n, v in per_op.items()}

    def counter_medians(self, kinds: set[str]) -> dict[str, float]:
        ops = [o for o in self.ops if o["timed"] and o["kind"] in kinds]
        names = {n for o in ops for n in o["counters"]}
        return {n: median(o["counters"].get(n, 0.0) for o in ops) for n in names}

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of that
        interval covered by its child spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def dump(self, path: str, meta: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        doc = {
            **meta,
            "tracing_overhead_s": self.overhead_s,
            "self_time_s": self.self_times(),
            "spans": [
                {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
            ],
            "ops": [
                {k: v for k, v in o.items() if k != "start"} for o in self.ops
            ],
        }
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)
