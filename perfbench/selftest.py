#!/usr/bin/env python3
"""Smoke self-test of the benchmark at tiny size (sf0.001 tables,
2 floats x 4 profiles). Run from the repository root:

    python3 perfbench/selftest.py

It checks that

- ``run.py --trace 0`` prints every end-to-end metric named in
  BENCHMARK.json, with its unit, and passes its output checks;
- ``run.py --trace 1`` prints every per-layer metric, with its unit;
- an injected call failure is counted (``failed`` >= 1, not correct);
- in a directory that holds only BENCHMARK.json and the benchmark's
  files, the command exits non-zero without printing a result.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args, "--seed", "7",
         "--seconds", "1"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return proc.returncode, None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems: list[str] = []

    def expect(ok: bool, what: str) -> None:
        if not ok:
            print("FAIL " + what, flush=True)
            problems.append(what)

    for wl in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res = run(["--workload", wl, "--trace", str(trace), "--size", "tiny"])
            print(f"{wl} --trace {trace}", flush=True)
            expect(code == 0 and res is not None, f"{wl} trace {trace}: exit 0 with a result")
            if res is None:
                continue
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{wl} trace {trace}: output checks pass")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                expect(got is not None and got["unit"] == m["unit"]
                       and isinstance(got["value"], (int, float)),
                       f"{wl} trace {trace}: {m['name']} [{m['unit']}]")

    code, res = run(["--workload", "relational_sql", "--trace", "0", "--size", "tiny",
                     "--inject-failure"])
    expect(code == 0 and res is not None and res["failed"] >= 1 and not res["correct"],
           "injected failure is counted")

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = subprocess.run(
            [*spec["command"], "--workload", spec["workloads"][0]["name"],
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
        expect(proc.returncode != 0 and '"metrics"' not in proc.stdout,
               "bare directory: non-zero exit, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
