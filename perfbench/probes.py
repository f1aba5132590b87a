"""Measurements taken from outside the program under test.

- process-tree CPU seconds and peak RSS, read from ``/proc`` for this
  process and every descendant (the Spark JVM, its Python daemon and
  the Python workers it forks);
- host context (steal jiffies, load average, core count, versions);
- Spark's own counters: jobs per job group from the status tracker,
  per-stage totals from the status store, and per-operator row counts
  from the SQL status store. All of these work with the UI disabled.
"""

from __future__ import annotations

import os
import re
import subprocess

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:  # exited while we walked the tree
            pass
    return seen


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rfind(")") + 2:].split()


def tree_cpu_s() -> float:
    """User+system CPU seconds of the process tree, including children
    that have already exited and been reaped (cutime/cstime), so short-
    lived Python workers are counted. Steal time is never in these."""
    total = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_peak_rss_mb() -> float:
    """Sum over the live process tree of each process's peak RSS
    (VmHWM): an upper bound on the tree's simultaneous peak."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def host_context(root: str) -> dict:
    import pyspark

    try:
        sha = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        sha = "unknown"  # the benchmark may run from a plain export
    return {
        "steal_jiffies": steal_jiffies(),
        "loadavg": list(os.getloadavg()),
        "nproc": os.cpu_count(),
        "pyspark": pyspark.__version__,
        "git_sha": sha,
    }


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


_ROWS = re.compile(r"^[\d,]+$")


class SparkProbe:
    """Reads Spark's status tracker and status stores for one session."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.seen_executions = 0

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event so far,
        so the stores below describe the calls that just returned."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def jobs(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def stages(self, job_ids: list[int]) -> list[dict]:
        """Last attempt of every stage the jobs ran (skipped stages,
        whose shuffle output was reused, report no tasks and are left
        out)."""
        out, seen = [], set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    s = self.store.lastStageAttempt(sid)
                except Exception:  # evicted or never submitted (skipped)
                    continue
                if s.numCompleteTasks() == 0:
                    continue
                out.append({
                    "stage": sid,
                    "job": j,
                    "name": s.name(),
                    "tasks": s.numCompleteTasks(),
                    "run_s": s.executorRunTime() / 1e3,
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "shuffle_read_mb": (s.shuffleRemoteBytesRead()
                                        + s.shuffleLocalBytesRead()) / 2**20,
                    "shuffle_write_mb": s.shuffleWriteBytes() / 2**20,
                    "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20,
                })
        return out

    def operator_rows(self, job_ids: list[int]) -> list[tuple[str, str, int]]:
        """(node name, node description, "number of output rows") for
        every plan node of the SQL executions that ran these jobs,
        among the executions that started since the previous call."""
        wanted = set(job_ids)
        rows = []
        total = self.sql_store.executionsCount()
        if total == self.seen_executions:
            return rows
        fresh = self.sql_store.executionsList(self.seen_executions, total - self.seen_executions)
        self.seen_executions = total
        for ex in _seq(fresh):
            ex_jobs = {int(k) for k in _seq(ex.jobs().keys().toSeq())}
            if not ex_jobs & wanted:
                continue
            eid = ex.executionId()
            values = self.sql_store.executionMetrics(eid)
            for node in _seq(self.sql_store.planGraph(eid).allNodes()):
                for m in _seq(node.metrics()):
                    if m.name() != "number of output rows":
                        continue
                    v = values.get(m.accumulatorId())
                    text = v.get() if v.isDefined() else ""
                    if _ROWS.match(text):
                        rows.append((node.name(), node.desc(), int(text.replace(",", ""))))
        return rows
