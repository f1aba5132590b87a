"""bench.py line-emit guard (no Spark session needed).

bench.py prints one JSON line. BENCH_r10 was committed ``parsed: null``
when that line outgrew the ~2000-char stdout tail its reader kept
(COVERAGE delta r11 #2). `_emit_check` is the loud-failure gate in the
emit path — these tests pin its contract without starting Spark, and
check that every committed BENCH_r*.json line would still pass it.
"""

from __future__ import annotations

import importlib.util
import json
import sys

import pytest


def _load_bench():
    # bench.py lives at the repo root, not in the package; import it by
    # path so pytest rootdir layout doesn't matter
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py")
    spec = importlib.util.spec_from_file_location("_bench_under_test", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["_bench_under_test"] = mod
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def bench():
    return _load_bench()


def _ok_line(extra_len: int = 0) -> str:
    d = {
        "metric": "headline_queries_total",
        "value": 1.0,
        "queries": {"q1": 1.0},
    }
    if extra_len:
        d["pad"] = "x" * extra_len
    return json.dumps(d)


def test_emit_check_passes_and_returns_line(bench):
    line = _ok_line()
    assert bench._emit_check(line, 1900) == line


def test_emit_check_rejects_oversized_line(bench):
    with pytest.raises(SystemExit, match="budget"):
        bench._emit_check(_ok_line(extra_len=5000), 1900)


def test_emit_check_rejects_non_json(bench):
    with pytest.raises(json.JSONDecodeError):
        bench._emit_check("{not json", 1900)


def test_emit_check_rejects_missing_required_keys(bench):
    line = json.dumps({"metric": "m", "value": 1})  # no queries
    with pytest.raises(SystemExit, match="queries"):
        bench._emit_check(line, 1900)


def test_emit_check_rejects_embedded_newline(bench):
    d = json.loads(_ok_line())
    line = json.dumps(d, indent=1)  # newlines: wraps past the window
    with pytest.raises(SystemExit, match="newline"):
        bench._emit_check(line, 1900)


def test_committed_artifact_lines_would_pass(bench):
    """Every committed BENCH_r*.json whose line the driver parsed must
    satisfy the gate retroactively (regression anchor: the gate must
    not reject artifacts the driver accepted)."""
    import glob
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    checked = 0
    for path in sorted(glob.glob(os.path.join(root, "BENCH_r*.json"))):
        with open(path) as f:
            doc = json.load(f)
        payload = doc.get("parsed", doc)
        if not isinstance(payload, dict) or "queries" not in payload:
            continue  # the r10 null-parse casualty or non-line artifact
        bench._emit_check(json.dumps(payload), 4000)
        checked += 1
    assert checked >= 1
