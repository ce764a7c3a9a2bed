"""Benchmark runner: one closed-loop client on ``local[<cores>]``.

    python3 perfbench/run.py --workload report_dashboard --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of this repository: the program is
imported from that checkout and every file it writes lives in a temporary
directory inside it, removed at exit. ``--workload all`` runs each
workload in its own process, one after another.

With ``--trace 0`` the final stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics (see README.md). The
lines before it print the same metrics, and the workload's own names for
them, one per line with their units.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "hhs_and_cms_data_pipeline_spark"

# name -> unit. Every run prints all of one list: end-to-end untraced,
# per-layer traced (0 where a workload does not use the layer).
END_TO_END = {"setup_s": "s", "op_s": "s"}
# Name each workload gives its timed operation's median (op_s).
OP_ALIAS = {
    "report_dashboard": "dashboard_page_s",
    "weekly_ingest": "ingest_batch_s",
}


def _per_layer() -> dict[str, str]:
    from tracer import EXEC_COUNTERS
    from workloads import CorpusCuration, ReportDashboard

    names = ["session.get_spark_s", "registry.all_specs_s", "warmup_s",
             "operators.report.plan_s", "operators.report.exec_s"]
    for module, q in ReportDashboard.queries + CorpusCuration.queries:
        names += [f"operators.{module}.{q}.plan_s", f"operators.{module}.{q}.exec_s"]
    names += ["sources.csvsrc.read_s", "operators.ingest.plan_s", "sinks.append_new_keys_s",
              "sinks.merge_rewrite_partitions_s", "sinks.write_parquet_atomic_s",
              "ingest.replay_s", "ingest.correction_s", "trace.op_s"]
    units = dict.fromkeys(names, "s")
    units.update({
        "sinks.files_written": "count", "sinks.bytes_written": "bytes",
        "sinks.partitions_rewritten": "count", "sinks.rows_offered": "count",
        "sinks.rows_appended": "count", "sinks.append_yield": "ratio",
        "sinks.storage_amplification": "ratio", "ingest.rows_per_s": "1/s",
    })
    units.update(dict.fromkeys(EXEC_COUNTERS, "count"))
    units.update({"exec.input_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
                  "exec.busy_core_s": "s", "exec.core_util": "ratio",
                  "failed_ops_frac": "ratio", "trace.overhead_frac": "ratio",
                  "peak_rss_mb": "MB"})
    return units


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _hermetic_env(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python workers
    into ``work`` and make the checkout importable by Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_cores()))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}"),
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "pyspark-shell",
    ])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _layer_metrics(tracer, wl, setup: dict[str, float], extra: dict[str, float]) -> dict[str, float]:
    # span medians over the timed operations of each kind (a page's spans
    # over pages, a companion pass's over passes); exec counters per
    # operation of the workload's own kind
    spans: dict[str, float] = {}
    for kind in {o["kind"] for o in tracer.ops if o["timed"]}:
        spans.update(tracer.layer_medians({kind}))
    # the page's per-query spans also roll up to operators.report.plan|exec
    per_op: dict[str, float] = {"operators.report.plan_s": 0.0, "operators.report.exec_s": 0.0}
    for name, v in spans.items():
        per_op[f"{name}_s"] = v
        parts = name.split(".")
        if parts[:2] == ["operators", "report"] and len(parts) == 4:
            per_op[f"operators.report.{parts[3]}_s"] += v
    out = {**setup, **per_op, **tracer.counter_medians({wl.op_kind}), **extra}
    offered = sum(o["counters"].get("sinks.rows_offered", 0) for o in tracer.ops if o["timed"])
    appended = sum(o["counters"].get("sinks.rows_appended", 0) for o in tracer.ops if o["timed"])
    out["sinks.append_yield"] = appended / offered if offered else 0.0
    out["trace.op_s"] = wl.op_s()
    timed_wall = sum(o["wall_s"] for o in tracer.ops if o["timed"])
    out["trace.overhead_frac"] = tracer.overhead_s / timed_wall if timed_wall else 0.0
    return {name: float(out.get(name, 0.0)) for name in _per_layer()}


def run_workload(name: str, seed: int, seconds: float, trace: bool, trace_out: str | None) -> dict:
    import workloads
    from checks import Checker, load_oracle_utils
    from tracer import Tracer

    wl = workloads.WORKLOADS[name]()
    tracer = Tracer(trace)
    scratch = os.path.join(ROOT, ".perfbench-tmp")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{name}-", dir=scratch)
    spark = None
    try:
        _hermetic_env(work)
        oracle_utils = load_oracle_utils(ROOT)
        checker = Checker(oracle_utils._rowset)
        run = workloads.Run(work, seed, tracer, checker, oracle_utils)
        t = time.perf_counter()
        wl.prepare(run)
        prepare_s = time.perf_counter() - t

        # -- set-up: program import, session, registry, warm-up -----------------
        t = time.perf_counter()
        from hhs_and_cms_data_pipeline_spark import registry, session

        import_s = time.perf_counter() - t
        with tracer.span("session.get_spark"):
            t = time.perf_counter()
            spark = session.get_spark("perfbench")
            get_spark_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        run.spark = spark
        with tracer.span("registry.all_specs"):
            t = time.perf_counter()
            run.specs = registry.all_specs()
            all_specs_s = time.perf_counter() - t
        tracer.attach(spark, int(os.environ["SPARK_GRAFT_CPUS"]))
        warmup_s = wl.warm_up(run)
        setup_s = import_s + get_spark_s + all_specs_s + warmup_s

        # -- timed operations ------------------------------------------------------
        deadline = time.perf_counter() + seconds
        i = 0
        while i < wl.min_ops or time.perf_counter() < deadline:
            wl.step(run, i)
            i += 1
        op_times = [o["wall_s"] for o in tracer.ops if o["timed"] and o["kind"] == wl.op_kind]
        op_s = wl.op_s()
        # the workload's own names for op_s, plus metrics reported but not
        # bounded (peak RSS varies by ~20% from run to run with JVM heap growth)
        extra = {
            OP_ALIAS[name]: op_s,
            "failed_ops_frac": checker.failed_frac,
            "peak_rss_mb": _vm_hwm_mb("self") + _vm_hwm_mb(spark.sparkContext._gateway.proc.pid),
            **wl.metrics(),
        }
        companion = getattr(wl, "traced_companion", None)
        if trace and companion is not None:
            # a cold and a timed operation of the companion, for its layers
            other = companion()
            other.prepare(run)
            other.warm_up(run)
            other.step(run, 0)
        if trace:
            setup = {
                "session.get_spark_s": get_spark_s,
                "registry.all_specs_s": all_specs_s,
                "warmup_s": warmup_s,
                "sinks.write_parquet_atomic_s": getattr(wl, "write_s", 0.0),
            }
            metrics = _layer_metrics(tracer, wl, setup, extra)
            for span, v in sorted(tracer.self_times().items()):
                print(f"self_time {span} {v:.6g} s")
            if trace_out:
                tracer.dump(trace_out, {"workload": name, "seed": seed, "metrics": metrics})
        else:
            metrics = {"setup_s": setup_s, "op_s": op_s}
        times = " ".join(f"{v:.2f}" for v in op_times)
        print(f"[perfbench] {name}: inputs {prepare_s:.2f}s, set-up {setup_s:.2f}s, "
              f"{len(op_times)} timed {wl.op_kind} ops ({times} s), "
              f"{checker.attempted} checked, {checker.failed} failed", file=sys.stderr)
        return {"checker": checker, "metrics": metrics, "extra": extra}
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(scratch)
            except OSError:
                pass  # another run still uses it


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — a call cut short by SIGTERM leaves py4j unusable
        proc.kill()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _units(name: str) -> str:
    return {**END_TO_END, **_per_layer(), "failed_ops_frac": "ratio"}.get(name, "s")


def _result_line(res: dict) -> dict:
    checker = res["checker"]
    return {
        "correct": checker.failed == 0,
        "attempted": checker.attempted,
        "failed": checker.failed,
        "metrics": {k: {"value": v, "unit": _units(k)} for k, v in res["metrics"].items()},
    }


def _run_all(args) -> int:
    """Each workload in its own process; prints their lines, then a summary."""
    from workloads import WORKLOADS

    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"[perfbench] {name} exited with {out.returncode}", file=sys.stderr)
            return out.returncode or 1
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        summary["correct"] &= res["correct"]
        summary["attempted"] += res["attempted"]
        summary["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            summary["metrics"][f"{name}.{k}"] = v
    print(json.dumps(summary))
    return 0


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=5.0,
                   help="minimum time measured; at least one operation is timed")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--trace-out", help="write the traced run's spans and counters to this JSON file")
    args = p.parse_args(argv)

    missing = [f for f in (f"{PACKAGE}/__init__.py", "tests/oracle_utils.py")
               if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"[perfbench] not a checkout of the program: {ROOT} lacks {missing}",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return _run_all(args)

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), args.trace_out)
    for k, v in {**res["extra"], **res["metrics"]}.items():
        print(f"{k} {v:.6g} {_units(k)}")
    print(json.dumps(_result_line(res)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
