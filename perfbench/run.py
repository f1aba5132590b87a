#!/usr/bin/env python3
"""Benchmark of the argostats_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload argo_batch --seed 1 --seconds 15 --trace 0

One process starts a SparkSession on ``local[<cores / 2>]`` and one
closed-loop client makes the workload's calls one after another. The
run prepares the inputs from ``--seed`` (three times; the median
counts), runs the set-up passes (the first also collects the outputs
for checking), then repeats timed passes until ``--seconds`` seconds
and the workload's pass count are both reached, and reports medians
over them. perfbench/NOTES.md describes the workloads and metrics. Outputs are checked outside the timed
passes; a failed call or check counts as a failed operation.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes, prints the per-layer metrics (from the
traced passes) and the tracing overhead (traced over untraced pass
wall time), and writes spans, per-stage status-store numbers and the
metrics to ``.perfbench_out/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Spark's own log and
any traceback go to ``.perfbench_work/<run>/run.log``, whose ERROR
lines are counted.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import re
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import workloads  # noqa: E402
from probes import (  # noqa: E402
    SparkProbe, host_context, tree_cpu_s, tree_peak_rss_mb, tree_pids,
)

PREPARE_REPEATS = 3
SPARK_CORES = max(1, (os.cpu_count() or 2) // 2)
MAX_TIMED_S = 100.0
CALL_METRICS = ("wall_s", "cpu_s", "jobs", "shuffle_write_mb", "spill_mb")

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "cpu_s": "s", "items_per_s": "1/s",
    "spark_jobs": "count",
}


def per_layer_units() -> dict[str, tuple[str, str]]:
    """Every per-layer metric name -> (unit, better). A traced run
    prints all of them; a layer the workload does not touch reads 0."""
    units = {"wall_s": "s", "cpu_s": "s", "build_s": "s", "run_s": "s",
             "jobs": "count", "build_jobs": "count", "run_jobs": "count",
             "shuffle_write_mb": "MB", "spill_mb": "MB"}
    out: dict[str, tuple[str, str]] = {}
    for call in workloads.ARGO_CALLS:
        for m in CALL_METRICS:
            out[f"{call}.{m}"] = (units[m], "lower")
    out["operators.atlas.pair_keep_frac"] = ("ratio", "higher")
    for q in workloads.RELATIONAL:
        for m in ("wall_s", "build_s", "build_jobs", "cpu_s", "jobs"):
            out[f"queries.{q}.{m}"] = (units[m], "lower")
    for m in ("build_s", "run_s", "build_jobs", "run_jobs"):
        out[f"queries.{m}"] = (units[m], "lower")
    out["session.get_spark.wall_s"] = ("s", "lower")
    out["sources.make_raw.wall_s"] = ("s", "lower")
    out["inputs.tables.wall_s"] = ("s", "lower")
    out["process.busy_frac"] = ("ratio", "higher")
    out["process.peak_rss_mb"] = ("MB", "lower")
    out["log.error_lines"] = ("count", "lower")
    out["trace.overhead_frac"] = ("ratio", "lower")
    return out


class PassFailed(Exception):
    pass


class Bench:
    """One run: session, inputs, set-up passes, timed passes, checks."""

    def __init__(self, args, work: str, log) -> None:
        self.args = args
        self.work = work
        self.log = log
        self.traced_pass = False
        self.pass_no = -1
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.records: dict[str, list[dict]] = {}   # call name -> per traced pass
        self.inject_failure = args.inject_failure

    # -- calls ---------------------------------------------------------
    def call(self, name: str, fn):
        self.attempted += 1
        traced = self.traced_pass
        if traced:
            group = f"p{self.pass_no}:{name}"
            self.probe.set_group(group)
            c0 = tree_cpu_s()
        start = time.perf_counter()
        try:
            if self.inject_failure and self.pass_no == self.wl.warmup_passes:
                self.inject_failure = False
                raise RuntimeError("injected failure")
            return fn()
        except Exception as exc:
            self.failed += 1
            self.errors.append(f"pass {self.pass_no} {name}: {type(exc).__name__}: {exc}"[:500])
            traceback.print_exc(file=self.log)
            raise PassFailed(name) from exc
        finally:
            end = time.perf_counter()
            if traced:
                self._record(name, group, start, end, c0)

    def _record(self, name, group, start, end, c0) -> None:
        cpu = tree_cpu_s() - c0
        self.probe.settle()
        jobs = self.probe.jobs(group)
        stages = self.probe.stages(jobs)
        self.spans.append({
            "name": name, "start": start - self.t0, "end": end - self.t0,
            "parent": f"pass{self.pass_no}" if self.pass_no >= 0 else "setup.prepare",
            "pass": self.pass_no,
        })
        self.records.setdefault(name, []).append({
            "pass": self.pass_no,
            "wall_s": end - start,
            "cpu_s": cpu,
            "jobs": len(jobs),
            "shuffle_write_mb": sum(s["shuffle_write_mb"] for s in stages),
            "spill_mb": sum(s["spill_mb"] for s in stages),
            "stages": stages,
            "operators": self.probe.operator_rows(jobs),
        })

    def span(self, name: str, start: float, parent: str = "run") -> None:
        self.spans.append({"name": name, "start": start - self.t0,
                           "end": time.perf_counter() - self.t0,
                           "parent": parent, "pass": self.pass_no})

    # -- passes --------------------------------------------------------
    def one_pass(self, traced: bool, checking: bool = False) -> dict | None:
        self.pass_no += 1
        self.traced_pass = traced
        group = f"p{self.pass_no}"
        self.probe.set_group(group)
        c0 = tree_cpu_s()
        start = time.perf_counter()
        try:
            self.wl.run_pass(self.call, checking)
        except PassFailed:
            return None
        finally:
            self.traced_pass = False
        wall = time.perf_counter() - start
        cpu = tree_cpu_s() - c0
        self.span("pass", start)
        self.probe.settle()
        if traced:
            jobs = sum(r[-1]["jobs"] for r in self.records.values()
                       if r and r[-1]["pass"] == self.pass_no)
        else:
            jobs = len(self.probe.jobs(group))
        self.attempted += 1
        errs = self.wl.check_pass(first=checking)
        if errs:
            self.failed += 1
            self.errors.extend(f"pass {self.pass_no} check: {e}" for e in errs)
        self._collect_garbage()
        return {"pass": self.pass_no, "traced": traced, "wall_s": wall,
                "cpu_s": cpu, "jobs": jobs}

    def _collect_garbage(self) -> None:
        """Between passes, untimed: drop the previous pass's Python and
        JVM handles (checkpointed RDDs, broadcast relations), so their
        clean-up is not charged to whichever later pass it lands in."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def run(self) -> dict:
        args = self.args
        from argostats_spark.session import get_spark

        start = time.perf_counter()
        spark = get_spark(app_name=f"perfbench_{args.workload}", extra_conf={
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        })
        session_s = time.perf_counter() - start
        self.span("session.get_spark", start)
        self.spark = spark
        self.spark_version = spark.version
        try:
            return self._run(spark, session_s)
        finally:
            spark.stop()

    def _run(self, spark, session_s: float) -> dict:
        args = self.args
        self.probe = SparkProbe(spark)
        self.wl = workloads.WORKLOADS[args.workload](args.size, self.work)
        prep = []
        self.traced_pass = bool(args.trace)
        for _ in range(PREPARE_REPEATS):
            start = time.perf_counter()
            try:
                self.wl.prepare(spark, args.seed, self.call)
            except PassFailed:
                return {}
            prep.append(time.perf_counter() - start)
            self.span("setup.prepare", start)
        self.traced_pass = False
        start = time.perf_counter()
        for i in range(self.wl.warmup_passes):
            self.one_pass(traced=False, checking=(i == 0))
        warm_s = time.perf_counter() - start
        self.span("setup.warmup", start)
        setup_s = session_s + statistics.median(prep) + warm_s

        timed: list[dict] = []
        start = time.perf_counter()
        # a traced run alternates untraced and traced passes
        min_passes = self.wl.timed_passes * (2 if args.trace else 1)
        while True:
            elapsed = time.perf_counter() - start
            if len(timed) >= min_passes and elapsed >= args.seconds or elapsed > MAX_TIMED_S:
                break
            p = self.one_pass(traced=bool(args.trace) and len(timed) % 2 == 1)
            if p is not None:
                timed.append(p)

        n_checks, errs = self._final_checks()
        self.attempted += n_checks
        self.failed += len(errs)
        self.errors.extend(errs)
        ratios = self.wl.ratios(self.records) if args.trace else {}
        peak_rss = tree_peak_rss_mb()
        return {"setup_s": setup_s, "session_s": session_s, "prepare_s": prep,
                "warmup_s": warm_s, "passes": timed, "ratios": ratios,
                "peak_rss_mb": peak_rss}

    def _final_checks(self) -> tuple[int, list[str]]:
        try:
            return self.wl.final_checks(os.path.join(self.work, "tmp"))
        except Exception as exc:  # a check that cannot run is a failed check
            traceback.print_exc(file=self.log)
            return 1, [f"final checks: {type(exc).__name__}: {exc}"[:500]]


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def end_to_end(res: dict, items: int) -> dict[str, float]:
    plain = [p for p in res["passes"] if not p["traced"]]
    return {
        "setup_s": res["setup_s"],
        "wall_s": _median([p["wall_s"] for p in plain]),
        "cpu_s": _median([p["cpu_s"] for p in plain]),
        "items_per_s": _median([items / p["wall_s"] for p in plain]),
        "spark_jobs": _median([p["jobs"] for p in plain]),
    }


def per_layer(bench: Bench, res: dict, error_lines: int) -> dict[str, float]:
    """Medians over the traced timed passes (set-up calls: over the
    set-up repeats); layers this workload does not touch read 0."""
    timed = {p["pass"] for p in res["passes"] if p["traced"]}
    recs = {name: [r for r in rs if r["pass"] in timed]
            for name, rs in bench.records.items()}
    out = {name: 0.0 for name in per_layer_units()}

    def med(name: str, metric: str) -> float:
        return _median([r[metric] for r in recs.get(name, [])])

    for call in workloads.ARGO_CALLS:
        for m in CALL_METRICS:
            out[f"{call}.{m}"] = med(call, m)
    sums = dict.fromkeys(("build_s", "run_s", "build_jobs", "run_jobs"), 0.0)
    for q in bench.wl.queries:
        b, r = f"queries.{q}.build", f"queries.{q}.run"
        vals = {
            "build_s": med(b, "wall_s"), "run_s": med(r, "wall_s"),
            "build_jobs": med(b, "jobs"), "run_jobs": med(r, "jobs"),
        }
        for k in sums:
            sums[k] += vals[k]
        out[f"queries.{q}.wall_s"] = vals["build_s"] + vals["run_s"]
        out[f"queries.{q}.build_s"] = vals["build_s"]
        out[f"queries.{q}.build_jobs"] = vals["build_jobs"]
        out[f"queries.{q}.cpu_s"] = med(b, "cpu_s") + med(r, "cpu_s")
        out[f"queries.{q}.jobs"] = vals["build_jobs"] + vals["run_jobs"]
    for k, v in sums.items():
        out[f"queries.{k}"] = v
    out.update(res["ratios"])
    out["session.get_spark.wall_s"] = res["session_s"]
    for call in ("sources.make_raw", "inputs.tables"):
        if call in bench.records:
            out[f"{call}.wall_s"] = _median([r["wall_s"] for r in bench.records[call]])
    ncores = os.cpu_count() or 1
    out["process.busy_frac"] = _median(
        [p["cpu_s"] / (p["wall_s"] * ncores) for p in res["passes"]])
    out["process.peak_rss_mb"] = res["peak_rss_mb"]
    out["log.error_lines"] = float(error_lines)
    traced = [p["wall_s"] for p in res["passes"] if p["traced"]]
    plain = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    if traced and plain:
        out["trace.overhead_frac"] = _median(traced) / _median(plain) - 1.0
    return out


def _count_error_lines(path: str) -> int:
    pat = re.compile(r"\bERROR\b")
    with open(path, errors="replace") as f:
        return sum(1 for line in f if pat.search(line))


def _stop_children(timeout_s: float = 30.0) -> None:
    """Close the Spark gateway JVM (it exits when its stdin closes) and
    wait until every process this run started has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout_s)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout_s
    while len(tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in tree_pids()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while len(tree_pids()) > 1:
        time.sleep(0.1)
        for pid in tree_pids()[1:]:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # smoke self-test only: tiny inputs, and one injected call failure
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help=argparse.SUPPRESS)
    ap.add_argument("--inject-failure", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "argostats_spark")):
        print("perfbench: run from the repository root "
              "(argostats_spark/ not found here)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # everything the run writes stays in the checkout; executors and
    # Python workers inherit these
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    # half the cores: the JVM, the driver's Python and the Python
    # workers then fit on the host without queueing for a core
    os.environ["SPARK_GRAFT_CPUS"] = str(SPARK_CORES)
    sys.path.insert(0, root)

    # Spark and worker output goes to the log; stdout keeps the result
    log_path = os.path.join(work, "run.log")
    out = os.fdopen(os.dup(1), "w")
    err = os.fdopen(os.dup(2), "w")
    log = open(log_path, "w", buffering=1)
    sys.stdout.flush()
    sys.stderr.flush()
    os.dup2(log.fileno(), 1)
    os.dup2(log.fileno(), 2)

    context = host_context(root)
    bench = Bench(args, work, log)
    res: dict = {}
    try:
        res = bench.run()
    except Exception:
        traceback.print_exc(file=log)
    finally:
        _stop_children()
        sys.stdout.flush()
        sys.stderr.flush()
        os.dup2(out.fileno(), 1)
        os.dup2(err.fileno(), 2)
        log.close()
    error_lines = _count_error_lines(log_path)
    if not res:
        with open(log_path, errors="replace") as f:
            err.write("".join(f.readlines()[-40:]))
        err.write("\nperfbench: the run did not complete; log kept at "
                  f"{log_path}\n" + "\n".join(bench.errors) + "\n")
        err.flush()
        return 1

    context["steal_jiffies_during_run"] = (
        host_context(root)["steal_jiffies"] - context["steal_jiffies"])
    context["spark"] = bench.spark_version
    items = bench.wl.items
    if args.trace:
        metrics = per_layer(bench, res, error_lines)
        units = per_layer_units()
        shown = {k: {"value": v, "unit": units[k][0]} for k, v in metrics.items()}
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        trace_path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "host": context,
                       "setup": {k: res[k] for k in ("setup_s", "session_s", "prepare_s", "warmup_s")},
                       "passes": res["passes"],
                       "spans": bench.spans,
                       "calls": {k: [{m: r[m] for m in ("pass", *CALL_METRICS, "stages")}
                                     for r in v] for k, v in bench.records.items()},
                       "metrics": metrics}, f, indent=1)
        out.write(f"# trace written to {os.path.relpath(trace_path, root)}\n")
    else:
        metrics = end_to_end(res, items)
        shown = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    out.write("# host " + json.dumps(context) + "\n")
    out.write("# passes " + json.dumps(res["passes"]) + "\n")
    for e in bench.errors:
        out.write(f"# error {e}\n")
    out.write(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": shown,
    }) + "\n")
    out.flush()
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
