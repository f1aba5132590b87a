#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is materialized with a cheap count-style action (the driver's
correctness gate does the full collect; here we measure engine execution
time, not pandas conversion). A warmup query amortizes JVM/codegen
startup out of the numbers.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from argostats_spark.queries import QUERIES  # noqa: E402
from argostats_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPO_DIR = os.path.dirname(os.path.abspath(__file__))


def _prev_bench(sf_val) -> tuple[int, dict[str, float]] | None:
    """Per-query timings from the newest BENCH_r{N}.json at the same sf —
    the baseline for the perf-regression tripwire (VERDICT r4 item 8).
    Also consults BENCH_scale_*.json checkpoints (raw bench output, not
    driver-wrapped), so the sf1 scaling run trips the same 1.5x+0.25s
    gate against its previous-round self (VERDICT r6 item 8) — those
    carry the bench_round recorded inside the artifact (VERDICT r7
    item 6; pre-r8 checkpoints without one fall back to 0), so
    regression_baseline_round always names the actual compared
    round."""
    import glob
    import re

    # sort key: (round, mtime) — two checkpoints at the same round+sf
    # tie-break to the NEWEST file, not whichever the glob returned
    # first (filesystem-order nondeterminism)
    best: tuple[tuple[int, float], dict[str, float]] | None = None
    for path in glob.glob(os.path.join(REPO_DIR, "BENCH_*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if not m and not os.path.basename(path).startswith("BENCH_scale_"):
            continue
        try:
            with open(path) as f:
                raw = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        parsed = raw.get("parsed") if isinstance(raw.get("parsed"), dict) else raw
        if parsed.get("sf") != sf_val or not parsed.get("queries"):
            continue
        rnd = int(m.group(1)) if m else int(parsed.get("bench_round", 0))
        key = (rnd, os.path.getmtime(path))
        if best is None or key > best[0]:
            best = (key, parsed["queries"])
    return (best[0][0], best[1]) if best else None


def _current_round() -> int:
    """The round this bench run belongs to: the driver writes
    BENCH_r{N}.json as round N ENDS, so the newest one + 1 is the round
    in flight. Recorded in the output as ``bench_round`` so ad-hoc
    checkpoints (BENCH_scale_*.json) can be round-attributed."""
    import glob
    import re

    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(REPO_DIR, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return max(rounds, default=0) + 1

# Per-limb attribution for the >=3-limb suite queries (VERDICT r6 item
# 5): when a suite's total moves, the artifact must say WHICH limb. Two
# shapes: "tag" suites are tagged unions — filtering on the tag literal
# constant-folds every other union child to an empty relation, so the
# noop write executes that limb's subplan alone; "columns" suites
# (text_suite) compute limbs as feature columns of one row-per-doc
# select — projecting a column group lets Catalyst prune the other
# groups' expressions. One run per limb (attribution, not a tripwire —
# the suite's own headline row stays the min-of-3 gate).
LIMB_SPECS: dict[str, dict] = {
    "text_suite": {
        "mode": "columns",
        "key": ["doc_id"],
        "groups": {
            "counts": ["n_tokens", "n_unique", "n_chars_actual"],
            "quality": ["quality"],
            "fingerprint": ["fp60", "shard", "norm_hash", "norm_len"],
            "langid": ["pred"],
            "gopher": [
                "top_tok_frac", "dup_2gram_frac", "dup_3gram_frac", "repetitive",
            ],
        },
    },
    "tfidf_lm_suite": {
        "mode": "tag", "col": "part",
        "values": ["tfidf", "lm_decile", "vocab"],
    },
    "stats_suite": {
        "mode": "tag", "col": "which",
        "values": ["minmax", "quantile", "stats", "profile", "aggstate",
                   "manifest", "blend", "hll", "lm_ap", "bm25",
                   "qmerge", "bksample", "overlap", "topkfold",
                   "topkmerge", "dsir_xxh"],
    },
    # round 11 (VERDICT r10 item 2): the ANN family gets limb
    # attribution so the hybrid (BM25+dense RRF) limb carries its own
    # scaling evidence at sf0.1 AND the sf1 checkpoint; hybrid_nl is
    # the same fused frame projected to the corroboration count, so it
    # measures the checkpoint-shared cost, not a second funnel
    "ann_suite": {
        "mode": "tag", "col": "method",
        "values": ["ivf", "pq", "sq8", "mrl32", "hybrid", "hybrid_nl"],
    },
}


# Headline set: one per operator family — scan/agg, joins, windows,
# spatial kernel join, dedup, similarity, text.
HEADLINE = [
    "q1_pricing_summary",
    "filter_project",
    "join_multiway",
    "join_asof",
    "window_suite",
    "topk_suite",
    "clim_kernel_grid",
    "events_hourly_window",
    # dedup_groups_lsh strictly contains the dedup_minhash_lsh plan
    # (shingles → signatures → bucket join → jaccard verify) and adds
    # connected components + corpus keep flags — the full curation
    # pipeline as one headline number.
    "dedup_groups_lsh",
    # dedup_ngram_jaccard (and dedup_components, which consumes its
    # edges) is the deliberately-quadratic exact baseline —
    # correctness-checked at sf0.01, not a headline scale number.
    "cosine_topk",
    "text_suite",
    # corpus-level curation analytics (round 6): TF-IDF top terms +
    # unigram-LM quality deciles — explode/broadcast/window family
    "tfidf_lm_suite",
    # targeted data selection (round 6): hashed-ngram importance model
    # fit + score + Gumbel top-k — the feature-explode/broadcast-model/
    # TakeOrdered family
    "dsir_select",
    # multimodal family: real PGM construction + mapInPandas decode +
    # grid featurization over every document payload
    "multimodal_features",
]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _measure_single(row: str) -> dict:
    """Measure ONE row in THIS process — the unit the serialized
    fresh-JVM remeasure protocol runs per flagged row (VERDICT r9
    item 1; generalizes scripts/bench_remeasure_r9.py to every
    headline row). Same protocol as the main pass: the row's own
    warm-up preamble, one untimed warm run, warm min-of-3 noop
    writes. 1-min load is recorded before and after so the artifact
    shows whether the box was quiet."""
    _ARGO_ROWS = {
        "argo_summary_build_30k", "argo_interp_30k_profiles",
        "argo_atlas_global_5deg", "argo_eape_regional_5deg",
        "argo_eape_t25_regional_5deg",
    }
    if row not in QUERIES and row not in _ARGO_ROWS:
        raise SystemExit(f"_measure_single: unknown row {row!r}")
    load_before = os.getloadavg()
    steal_before = _steal_jiffies()
    spark = get_spark(app_name=f"bench_row_{row}")

    def warm_min(fn, runs: int = 3) -> float:
        fn()  # untimed warm
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        return best

    if row in QUERIES:
        for warm in ("events_hourly_window", "q1_pricing_summary"):
            try:
                QUERIES[warm](spark, SF_DIR).count()
                break
            except Exception:
                continue
        sec = warm_min(lambda: _noop(QUERIES[row](spark, SF_DIR)))
    else:
        # argo microbench rows: rebuild exactly the preamble chain the
        # main pass gives them (fixed 30k-profile synthetic input)
        from argostats_spark.operators.atlas import (
            choose_clim_ts_variant,
            clim_eape,
            clim_ts_auto,
            make_grid,
        )
        from argostats_spark.operators.interpolation import interpolate_profiles
        from argostats_spark.operators.summary import build_summary
        from argostats_spark.sources.synthetic import make_raw

        # The r13-ADVICE cross-run parquet preamble cache is GONE
        # (round 15, VERDICT r14 item 9): it saved ~0.5 s of UNTIMED
        # setup per argo child but made the timed stage's input layout
        # depend on whether a prior run left /tmp state (cache-hit
        # children consumed a repartition(n, "WMO") read-back, misses
        # make_raw's native layout) — a measurement-basis question
        # mark on all five argo rows. Every child now builds the same
        # deterministic make_raw frame the in-session pass uses: one
        # basis, no cross-run state.
        raw = make_raw(spark, n_wmos=240, profiles_per_wmo=125).cache()
        raw.count()
        if row == "argo_summary_build_30k":
            sec = warm_min(lambda: _noop(build_summary(raw)))
        else:
            _noop(interpolate_profiles(raw.sample(0.02, seed=1)))
            _noop(interpolate_profiles(raw))
            if row == "argo_interp_30k_profiles":
                sec = warm_min(lambda: _noop(interpolate_profiles(raw)))
            else:
                profiles = interpolate_profiles(raw).cache()
                profiles.count()
                if row == "argo_atlas_global_5deg":
                    _noop(clim_ts_auto(
                        make_grid(spark, (0.0, 20.0, -20.0, 0.0), reso_deg=5.0),
                        profiles, reso_deg=5.0, smoothing_factor=2.0,
                    ))
                    grid = make_grid(
                        spark, (-180.0, 180.0, -80.0, 80.0), reso_deg=5.0
                    )
                    variant = choose_clim_ts_variant(
                        grid, profiles, reso_deg=5.0, smoothing_factor=2.0
                    )
                    sec = warm_min(lambda: _noop(clim_ts_auto(
                        grid, profiles, reso_deg=5.0, smoothing_factor=2.0,
                        variant=variant,
                    )))
                elif row in (
                    "argo_eape_regional_5deg", "argo_eape_t25_regional_5deg"
                ):
                    algo = "T25" if "t25" in row else "R14"
                    egrid = make_grid(
                        spark, (-80.0, 20.0, -60.0, 10.0), reso_deg=5.0
                    )
                    sec = warm_min(lambda: _noop(clim_eape(
                        egrid, profiles, reso_deg=5.0, smoothing_factor=2.0,
                        algo=algo,
                    )))
                else:
                    raise SystemExit(f"_measure_single: unknown row {row!r}")
    load_after = os.getloadavg()
    spark.stop()
    return {
        "row": row,
        "sec": round(sec, 3),
        "load_before_1m": round(load_before[0], 2),
        "load_after_1m": round(load_after[0], 2),
        "steal_jiffies": _steal_jiffies() - steal_before,
    }


# The committed-artifact remeasure path (VERDICT r9 item 1): two rounds
# running, an in-session tripwire flag was later cleared by a serialized
# fresh-JVM re-measure (r8 atlas, r9 sf1 dsir — host contention, not
# plan regressions). That clearing protocol is now IN the artifact path:
# any row the in-session pass flags is re-measured in its own fresh JVM,
# serialized, load-checked, BEFORE the artifact is written. The
# committed number for a remeasured row is min(in-session, isolated) —
# the warm minimum a quiet box produces is the number the plan
# determines — and both numbers ship in the artifact's "remeasured"
# block, so a flag that SURVIVES isolation is a root-caused real
# regression, not an open question.
REMEASURE_PROTOCOL = (
    "tripwire-flagged rows re-measured serialized in a fresh JVM "
    "(one process per row, warm min-of-3, 1-min load recorded); "
    "committed row = min(in-session, isolated); a surviving flag is a "
    "'regression' only if its isolated run was quiet "
    "(load_before_1m <= SPARK_GRAFT_ADJUDICATE_LOAD, default 1.0), "
    "else 'unadjudicated_host'"
)


def _emit_check(line: str, budget: int) -> str:
    """Guard the printed artifact line (VERDICT r11 item 6): the driver
    records only the LAST ~2000 chars of stdout, and BENCH_r10 was
    committed ``parsed: null`` because the line outgrew that window —
    silently degrading the tripwire baseline one full round. Fail
    LOUDLY (non-zero exit, the driver sees the error) rather than
    print a line that will be committed unparseable: the line must
    round-trip through json.loads, fit the budget after the trim
    ladder, be newline-free (a wrapped line truncates the same way),
    and still carry the never-trimmed keys (metric/value/queries)."""
    parsed = json.loads(line)  # raises -> loud
    problems = []
    if len(line) > budget:
        problems.append(f"line {len(line)} chars > budget {budget}")
    if "\n" in line:
        problems.append("line contains a newline")
    for key in ("metric", "value", "queries"):
        if key not in parsed:
            problems.append(f"missing required key {key!r}")
    if problems:
        raise SystemExit(
            "bench emit self-check FAILED (refusing to print a line the "
            "driver would commit unparseable): " + "; ".join(problems)
        )
    return line


def _gate_config() -> tuple[float, float]:
    """ONE parse for the load-gate knobs (review finding r12: the
    main-pass and child gates parsed them separately and had already
    diverged on what disables the gate — any budget <= 0 disables,
    numerically, in both places)."""
    try:
        gate = float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "3.0"))
    except ValueError:
        gate = 3.0
    try:
        budget = float(os.environ.get("SPARK_GRAFT_LOAD_GATE_BUDGET", "600"))
    except ValueError:
        budget = 600.0
    return gate, budget


def _steal_gate_rate() -> float:
    """Idle-steal ceiling (jiffies/sec over the probe window) for the
    launch gate to call the box quiet. Ambient quiet windows measure
    ≤~10 jiffies/5 s on this host; windows where the hypervisor
    neighbor is active show 100-400/5 s even while WE are idle — and
    once our 32 threads are busy those same windows rob 10k-45k/5 s
    (the round-15 open baseline: every argo child 41k+). 15/s sits
    above quiet-ambient noise and below every observed robbed
    window."""
    try:
        return float(os.environ.get("SPARK_GRAFT_STEAL_GATE", "15"))
    except ValueError:
        return 15.0


def _await_quiet(threshold: float, cap_s: float) -> float:
    """Load + steal gate before each serialized child (round 12 load
    gate; round 15 adds the steal probe, VERDICT r14 item 2): a child
    launched into the previous window's load tail measures the BOX,
    not the plan — the round-12 preview run committed window_suite at
    4.6x its standalone number purely from launch timing — and a
    child launched into a hypervisor steal burst measures the
    NEIGHBOR (round-14 close: four refused refresh attempts, 81k-237k
    stolen jiffies per run). Loadavg cannot see steal (it counts our
    runnable threads, not theft), so the gate now also samples
    /proc/stat steal over 5 s windows and keeps waiting while the
    idle-steal rate exceeds SPARK_GRAFT_STEAL_GATE (default 15/s —
    steal observed while we are idle means the neighbor is busy and
    will rob a busy child far harder). Bounded by ``cap_s`` as
    before; returns the seconds actually waited."""
    t0 = time.time()
    rate_cap = _steal_gate_rate()
    while True:
        elapsed = time.time() - t0
        if elapsed >= cap_s:
            break
        if os.getloadavg()[0] > threshold:
            time.sleep(min(5.0, cap_s - elapsed))
            continue
        # load quiet: probe steal over one 5 s window (the probe IS
        # the wait when the box is being robbed)
        s0 = _steal_jiffies()
        time.sleep(min(5.0, max(0.1, cap_s - elapsed)))
        win = time.time() - t0 - elapsed
        if win <= 0 or (_steal_jiffies() - s0) / win <= rate_cap:
            break
    return round(time.time() - t0, 1)


def _remeasure_flagged(
    rows: list[str], gate: float = 3.0, budget: float = 600.0
) -> dict[str, dict]:
    """One fresh JVM per row, serialized, load-gated. Bounded by a
    WALL budget (SPARK_GRAFT_REMEASURE_WALL, default 1500 s, gates
    included): the serialized-all default must not be able to outgrow
    the driver's bench window on a degraded box — one hung child with
    the old flat 1800 s timeout could have cost the whole committed
    artifact (the r10 parsed-null failure mode, by timeout instead of
    line length). Rows skipped on expiry return {"wall_skipped"} and
    keep their in-session numbers; the caller lists them."""
    import subprocess

    try:
        wall = float(os.environ.get("SPARK_GRAFT_REMEASURE_WALL", "1500"))
    except ValueError:
        wall = 1500.0
    t_start = time.time()
    results: dict[str, dict] = {}
    for name in rows:
        remaining = wall - (time.time() - t_start)
        if remaining < 20:
            results[name] = {"wall_skipped": True}
            continue
        waited = 0.0
        gate_skipped = False
        if budget > 0:
            waited = _await_quiet(gate, min(120.0, budget, remaining / 2))
            budget -= waited
            remaining = wall - (time.time() - t_start)
        else:
            # budget exhausted: the row runs UNGATED and says so —
            # an ungated row must not be indistinguishable from one
            # that found a quiet box (review finding r12)
            gate_skipped = True
        # retry-until-quiet (round 15, VERDICT r14 item 2): a child
        # that ran through a steal burst measured the neighbor, not
        # the plan — classify_flags already refuses to adjudicate it,
        # so re-running it while wall budget remains is the only way
        # the committed artifact can carry a number that CAN convict
        # or clear a regression. Bounded: at most 1+SPARK_GRAFT_
        # STEAL_RETRIES attempts per row (default 2 retries), each
        # inside the shared wall; the kept attempt is the one with
        # the least steal.
        try:
            max_tries = 1 + int(
                os.environ.get("SPARK_GRAFT_STEAL_RETRIES", "2")
            )
        except ValueError:
            max_tries = 3
        best_r: dict | None = None
        attempts = 0
        while attempts < max_tries:
            remaining = wall - (time.time() - t_start)
            if remaining < 20:
                break
            if attempts and budget > 0:
                # re-gate between attempts: the burst that poisoned
                # the last attempt is usually still in progress
                w2 = _await_quiet(gate, min(120.0, budget, remaining / 2))
                budget -= w2
                waited += w2
                remaining = wall - (time.time() - t_start)
                if remaining < 20:
                    break
            attempts += 1
            try:
                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--row", name],
                    capture_output=True, text=True,
                    timeout=max(30.0, remaining),
                    cwd=REPO_DIR,
                )
                line = next(
                    (l for l in proc.stdout.splitlines()
                     if l.startswith("ROW_RESULT ")),
                    None,
                )
                if line is None:
                    r = {"error": (proc.stderr or proc.stdout)[-300:]}
                else:
                    r = json.loads(line[len("ROW_RESULT "):])
            except Exception as exc:
                r = {"error": f"{type(exc).__name__}: {exc}"[:300]}
            if best_r is None or (
                "sec" in r
                and (
                    "sec" not in best_r
                    or r.get("steal_jiffies", 0)
                    < best_r.get("steal_jiffies", 0)
                )
            ):
                best_r = r
            if (
                "sec" in r
                and r.get("steal_jiffies", 0) <= _adjudicate_steal()
                and r.get("load_before_1m", 99.0) <= _adjudicate_load()
            ):
                break  # quiet attempt: adjudicable, stop retrying
        results[name] = best_r if best_r is not None else {
            "wall_skipped": True
        }
        if attempts > 1:
            results[name]["attempts"] = attempts
        if waited:
            results[name]["gate_wait_s"] = waited
        if gate_skipped:
            results[name]["gate_skipped"] = True
    return results


def _steal_jiffies() -> int:
    """Cumulative stolen-CPU jiffies (column 9 of /proc/stat's cpu
    line). Round-14 close: the session's 'erratic stalls' were
    root-caused to hypervisor steal bursts (up to ~18k jiffies / 5 s —
    ~37 vCPU-equivalents), which NO load-average gate can see: loadavg
    counts this guest's runnable threads, not the hypervisor's theft.
    Each serialized child records its steal delta so classify_flags
    can refuse to blame a plan for a stolen-CPU window (SCALE.md
    'dsir per-doc checkpoint removed')."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, ValueError, IndexError):
        return 0


def _adjudicate_steal() -> int:
    """Steal ceiling (jiffies over the remeasure's whole run) for a
    remeasure to COUNT as adjudication. Default 1000 (= 10 stolen
    CPU-seconds): the measured quiet-window baseline is 1-550 per
    child; every observed contaminated child carried 12k-18k."""
    try:
        return int(os.environ.get("SPARK_GRAFT_ADJUDICATE_STEAL", "1000"))
    except ValueError:
        return 1000


def _adjudicate_load() -> float:
    """Load ceiling for a remeasure to COUNT as adjudication (VERDICT
    r12 item 2). Stricter than the 3.0 launch gate: the r12 artifact's
    six flagged rows ran isolated at 1-min loads 1.46-2.79 — under the
    launch gate, yet all six were host contention (untouched code,
    cleared by the same-tree quiet-box preview and by independent
    load<1 remeasures). The SCALE.md host-contention ledger's standing
    rule is load < ~1 before a number is plan-determined."""
    try:
        return float(os.environ.get("SPARK_GRAFT_ADJUDICATE_LOAD", "1.0"))
    except ValueError:
        return 1.0


def classify_flags(
    flagged: dict[str, dict],
    remeasured: dict[str, dict],
    adjudicate_load: float,
) -> tuple[dict[str, dict], dict[str, dict]]:
    """Split surviving tripwire flags into CONFIRMED regressions vs
    ``unadjudicated_host`` (VERDICT r12 item 2: the artifact must not
    call a load-contaminated flag a regression — BENCH_r12 shipped six
    untouched rows flagged at 1.7-4.3x whose isolated remeasures ran
    at recorded loads 1.46-2.79 after gate waits capped out; all six
    cleared on a quiet box). A flag is a confirmed regression ONLY if
    its isolated fresh-JVM remeasure ran on a quiet box
    (load_before_1m <= adjudicate_load, gate not skipped) and the
    committed number still trips the wire. Everything else is an open
    question the artifact names as such, with the reason. Pure
    function over artifact dicts so a test can replay any committed
    BENCH_detail_r*.json through it."""
    confirmed: dict[str, dict] = {}
    unadjudicated: dict[str, dict] = {}
    for name, info in flagged.items():
        r = remeasured.get(name) or {}
        load = r.get("load_before_1m")
        if not r:
            why = "never isolated (no remeasure entry)"
        elif r.get("wall_skipped"):
            why = "remeasure wall budget expired before this row"
        elif r.get("gate_skipped"):
            why = "remeasure ran ungated (load-gate budget exhausted)"
        elif "error" in r:
            why = f"remeasure errored: {r['error'][:120]}"
        elif load is None:
            why = "remeasure recorded no load reading"
        elif load > adjudicate_load:
            why = (
                f"isolated remeasure ran at 1-min load {load} > "
                f"adjudication ceiling {adjudicate_load} (box, not plan, "
                "until a quiet-box remeasure says otherwise)"
            )
        elif r.get("steal_jiffies", 0) > _adjudicate_steal():
            # round-14 close: hypervisor steal bursts are invisible to
            # loadavg; a remeasure that ran through one measured the
            # neighbor, not the plan. Older artifacts without the
            # field replay unchanged (missing -> 0 -> no new branch).
            why = (
                f"isolated remeasure ran through a CPU-steal burst "
                f"({r['steal_jiffies']} stolen jiffies > ceiling "
                f"{_adjudicate_steal()}; box, not plan)"
            )
        else:
            confirmed[name] = info
            continue
        unadjudicated[name] = {**info, "why": why}
    return confirmed, unadjudicated


def main() -> None:
    # same load gate as the serialized children (round 12): the main
    # in-session pass launched into a previous workload's load tail
    # measures the box, not the plans. Bounded (120 s), recorded, and
    # CHARGED against the same budget the children draw from, so
    # SPARK_GRAFT_LOAD_GATE_BUDGET really does bound total waiting.
    _gate, _gate_budget = _gate_config()
    start_gate_wait = (
        _await_quiet(_gate, min(120.0, _gate_budget))
        if _gate_budget > 0
        else 0.0
    )
    _gate_budget -= start_gate_wait
    spark = get_spark(app_name="argostats_bench")
    errors: dict[str, str] = {}

    # warmup: JVM, parquet footer caches, codegen. Fail-soft — a broken
    # warmup query must cost its own headline row below, not the whole
    # artifact (r3 lost every bench number to one analysis error here).
    for warm in ("events_hourly_window", "q1_pricing_summary"):
        try:
            QUERIES[warm](spark, SF_DIR).count()
            break
        except Exception:
            continue

    timings: dict[str, float] = {}
    for name in HEADLINE:
        # three runs, report the min: first-run codegen/JIT jitter masked
        # plan regressions in r2 (q1 2.11→2.81s with an unchanged pinned
        # plan), and a round-6 same-session probe of an UNCHANGED atlas
        # plan spread 1.47–8.29 s across six runs (GC/scheduler stalls)
        # — min-of-2 catches the stall often enough to fake a tripwire
        # hit, min-of-3 rarely does. The warm minimum is the number the
        # plan determines.
        best = float("inf")
        try:
            # one UNTIMED warm run first: queries with Python stages
            # (mapInPandas decode, pandas-UDF scorers) take several
            # invocations for worker pools / Arrow buffers to plateau —
            # a cold first run measured 2-7x the steady state, so
            # min-of-3-including-cold is really min-of-2 and flagged a
            # phantom 1.58x on an UNCHANGED multimodal row at sf1 (r8;
            # the same row re-measured 1.28x in isolation). The warm
            # minimum is the number the plan determines.
            QUERIES[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            for _ in range(3):
                t0 = time.perf_counter()
                df = QUERIES[name](spark, SF_DIR)
                # force full execution of every operator in the plan
                df.write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            timings[name] = round(best, 3)
        except Exception as exc:  # one broken query = one missing row
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
        # Isolate queries from each other's storage debris:
        # localCheckpointed RDDs (LSH edge lists, atlas pair sets) are
        # reclaimed only when the DRIVER GCs their handles and the
        # ContextCleaner runs — without this, blocks from an earlier
        # query tax a later one's executor memory and a min-of-3 can
        # come out uniformly slow (measured: atlas 6.8 s min-of-3 right
        # after dedup_groups_lsh vs 1.6 s in isolation, same plan).
        import gc as _gc

        spark.catalog.clearCache()
        _gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    # Reference-parity microbench: interpolation throughput (BASELINE.md
    # derived rate ~5e3 profiles/s on 28 cores). Python workers are warm
    # from the headline queries, matching the reference's steady state.
    from argostats_spark.operators.atlas import (
        choose_clim_ts_variant,
        clim_ts_auto,
        make_grid,
    )
    from argostats_spark.operators.interpolation import interpolate_profiles
    from argostats_spark.sources.synthetic import make_raw

    argo: dict[str, object] = {}
    try:
        # 30k profiles over 240 WMO groups: large enough that the measured
        # rate is steady-state kernel throughput, not Spark fixed overhead
        # (at 6k profiles the job-scheduling floor dominated and under-read
        # the rate ~2x), and enough groups that hash assignment to the 32
        # shuffle partitions is balanced. The kernel itself measures 1,125
        # profiles/s/core — the gap to 36k/s is Arrow+shuffle, amortized
        # further at real scale.
        raw = make_raw(spark, n_wmos=240, profiles_per_wmo=125).cache()
        n_raw = raw.count()

        # Summary build (BASELINE.md row 1: the reference's ~1e4 profiles/s
        # ingest-side headline, README.md:53) — one window shuffle over the
        # raw table plus the broadcast platform-dictionary join.
        from argostats_spark.operators.summary import build_summary

        def warm_min(fn, runs: int = 3) -> float:
            """Same warm-min policy as the headline rows — the argo rows
            were single-run and the atlas number swung ~2× between bench
            invocations (GC/page-cache jitter, not plan changes)."""
            best = float("inf")
            for _ in range(runs):
                t0 = time.perf_counter()
                fn()
                best = min(best, time.perf_counter() - t0)
            return best

        build_summary(raw).write.format("noop").mode("overwrite").save()  # warm
        summary_sec = warm_min(
            lambda: build_summary(raw).write.format("noop").mode("overwrite").save()
        )
        timings["argo_summary_build_30k"] = round(summary_sec, 3)
        argo.update(
            summary_sec=round(summary_sec, 3),
            summary_profiles_per_sec=round(n_raw / summary_sec, 1),
            baseline_reference_summary_profiles_per_sec=10000,
        )
        # spawn/warm the Python UDF daemons so the measurement reflects the
        # steady state (the reference's pool is likewise persistent); a
        # sample keeps all WMO groups → all shuffle partitions → all workers,
        # then ONE full-size warm run: the arrow kernel's Arrow-batch
        # buffers/worker threads take several full invocations to plateau
        # (r6 A/B: 1.84→1.24 s over 6 runs on unchanged code — the
        # r4→r5 "interp drift" was exactly this warm-up under-sampling,
        # steady state ≥27k profiles/s on both engines; SCALE.md)
        interpolate_profiles(raw.sample(0.02, seed=1)).write.format("noop").mode(
            "overwrite"
        ).save()
        interpolate_profiles(raw).write.format("noop").mode("overwrite").save()

        interp_sec = warm_min(
            lambda: interpolate_profiles(raw).write.format("noop").mode("overwrite").save()
        )
        profiles = interpolate_profiles(raw)
        timings["argo_interp_30k_profiles"] = round(interp_sec, 3)
        argo.update(
            interp_profiles_in=n_raw,
            interp_sec=round(interp_sec, 3),
            interp_profiles_per_sec=round(n_raw / interp_sec, 1),
            baseline_reference_profiles_per_sec=5000,
        )

        profiles = profiles.cache()
        profiles.count()
        # warm the cell-kernel worker pool on a small domain before timing;
        # the warmup also goes through the auto-router so its two-count
        # estimate is codegen-warm before the measured run
        clim_ts_auto(
            make_grid(spark, (0.0, 20.0, -20.0, 0.0), reso_deg=5.0),
            profiles, reso_deg=5.0, smoothing_factor=2.0,
        ).write.format("noop").mode("overwrite").save()
        # measured run goes through the variant router (clim_ts_auto), the
        # same entry a user calls; record which physical variant it picked
        # so the artifact shows the routing decision, not just the time
        grid = make_grid(spark, (-180.0, 180.0, -80.0, 80.0), reso_deg=5.0)
        atlas_variant = choose_clim_ts_variant(
            grid, profiles, reso_deg=5.0, smoothing_factor=2.0
        )
        argo["atlas_variant"] = atlas_variant
        timings["argo_atlas_global_5deg"] = round(
            warm_min(
                lambda: clim_ts_auto(
                    grid, profiles, reso_deg=5.0, smoothing_factor=2.0,
                    variant=atlas_variant,
                ).write.format("noop").mode("overwrite").save()
            ),
            3,
        )

        # EAPE (VERDICT r8 item 3): the reference's costliest
        # computation (reference atlas.py:439-448) was correctness-
        # covered but never timed — a plan regression in the EAPE
        # dataflow (pair exchange, then one kernel per cell: mean
        # profile, per-pair displacement, weighted mean) would never
        # trip a wire. Regional 5 deg box (100x70 deg, 280 cells), R14
        # kernel, same profiles/smoothing as the atlas row so the
        # numbers are comparable; pairs recomputed inside each run —
        # the measured time IS the full EAPE dataflow.
        from argostats_spark.operators.atlas import clim_eape

        egrid = make_grid(spark, (-80.0, 20.0, -60.0, 10.0), reso_deg=5.0)
        clim_eape(
            egrid, profiles, reso_deg=5.0, smoothing_factor=2.0
        ).write.format("noop").mode("overwrite").save()  # warm EAPE workers
        eape_sec = warm_min(
            lambda: clim_eape(
                egrid, profiles, reso_deg=5.0, smoothing_factor=2.0
            ).write.format("noop").mode("overwrite").save()
        )
        timings["argo_eape_regional_5deg"] = round(eape_sec, 3)
        argo.update(
            eape_algo="R14",
            eape_cells=int(egrid.count()),
            eape_sec=round(eape_sec, 3),
            eape_profiles_per_sec=round(n_raw / eape_sec, 1),
        )
        # T25 variant (same dataflow, gammat-bisection kernel — the
        # Tailleux-2025 displacement against the global Lorenz
        # profile): its per-pair cost is the bisection, so a kernel
        # regression shows here even when R14 is flat
        clim_eape(
            egrid, profiles, reso_deg=5.0, smoothing_factor=2.0,
            algo="T25",
        ).write.format("noop").mode("overwrite").save()
        t25_sec = warm_min(
            lambda: clim_eape(
                egrid, profiles, reso_deg=5.0, smoothing_factor=2.0,
                algo="T25",
            ).write.format("noop").mode("overwrite").save()
        )
        timings["argo_eape_t25_regional_5deg"] = round(t25_sec, 3)
        argo["eape_t25_sec"] = round(t25_sec, 3)
    except Exception as exc:  # partial argo numbers beat no artifact
        errors["argo_microbench"] = f"{type(exc).__name__}: {exc}"[:300]

    limbs: dict[str, dict[str, float]] = {}
    from pyspark.sql import functions as _F

    for name, spec in LIMB_SPECS.items():
        sub: dict[str, float] = {}
        try:
            # Build ONCE, untimed-per-limb: suite builders may run an
            # eager shared prefix (model fits, .first() totals, eager
            # localCheckpoints) at call time — timing it inside every
            # limb would charge the shared cost to each limb. It gets
            # its own "(build)" row instead; each limb row then times
            # only that limb's lazy subtree (tag filters constant-fold
            # the other union children away; column-group projects let
            # Catalyst prune the other groups' expressions).
            t0 = time.perf_counter()
            df = QUERIES[name](spark, SF_DIR)
            sub["(build)"] = round(time.perf_counter() - t0, 3)
            if spec["mode"] == "tag":
                items = [(v, df.filter(_F.col(spec["col"]) == v))
                         for v in spec["values"]]
            else:
                items = [(g, df.select(*spec["key"], *cols))
                         for g, cols in spec["groups"].items()]
            for limb, carved in items:
                t0 = time.perf_counter()
                carved.write.format("noop").mode("overwrite").save()
                sub[limb] = round(time.perf_counter() - t0, 3)
            limbs[name] = sub
        except Exception as exc:
            errors[f"limbs:{name}"] = f"{type(exc).__name__}: {exc}"[:300]

    # dedup_groups_lsh stage attribution (VERDICT r8 item 6): the
    # slowest headline row gets per-stage numbers so a drift names its
    # stage, not just the whole-query delta. Cumulative-prefix timing —
    # each limb is a fresh build of a strictly larger subplan ('sig' ⊂
    # 'pairs' ⊂ the headline row), so stage costs are the DELTAS
    # between rows (labeled cum_*); attribution only, not a tripwire.
    def _stage(fn):
        fn()  # warm
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    try:
        from argostats_spark.operators.graph import duplicate_groups
        from argostats_spark.queries_documents import (
            _exact_dup_fraction,
            _lsh_doc_signatures,
            _minhash_lsh_pairs_inline,
        )

        d_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        sub = {}
        t0 = time.perf_counter()
        dup_frac = _exact_dup_fraction(d_docs)
        sub["gate_probe"] = round(time.perf_counter() - t0, 3)
        sub["(dup_frac)"] = round(dup_frac, 4)

        sub["cum_sig"] = _stage(
            lambda: _lsh_doc_signatures(d_docs)
            .write.format("noop").mode("overwrite").save()
        )
        sub["cum_pairs"] = _stage(
            lambda: _minhash_lsh_pairs_inline(d_docs)
            .write.format("noop").mode("overwrite").save()
        )
        # CC + keep flags over a prebuilt edge list (pairs cost removed
        # so the CC limb is NOT cumulative: edges come from one
        # checkpointed build)
        edges = (
            _minhash_lsh_pairs_inline(d_docs).select("id_a", "id_b")
            .localCheckpoint(eager=True)
        )
        sub["cc_flags"] = _stage(
            lambda: duplicate_groups(d_docs, edges, id_col="doc_id")
            .write.format("noop").mode("overwrite").save()
        )
        limbs["dedup_groups_lsh"] = sub
        spark.catalog.clearCache()
    except Exception as exc:
        errors["limbs:dedup_groups_lsh"] = f"{type(exc).__name__}: {exc}"[:300]

    # dsir_select stage attribution (round 10; restructured round 12
    # with the fused fit; re-mirrored twice in round 14 — at the close
    # when the per-doc checkpoint was dropped, and in the continuation
    # when the shipped composition became the ONE-PLAN shared-exchange
    # form with the input spread, OPTIMIZATION_r14.md): 'cum_feats' is
    # the SCORING feature pass exactly as the row plans it (input
    # spread + doc_bucket_counts — the one corpus-keyed shuffle),
    # 'cum_lam' is the full λ fit standalone (in the row its raw side
    # rides the scoring exchange via stage reuse; standalone it pays
    # its own feature pass, so cum_feats + cum_lam > row is expected);
    # the headline row adds the broadcast-λ scoring join + Gumbel
    # TakeOrdered. Attribution only, not a tripwire; the limb names
    # keep their round-10 stage meanings (features / fit).
    try:
        from argostats_spark.operators.dsir import (
            doc_bucket_counts,
            dsir_logratio_shared,
        )
        from argostats_spark.session import spread_for_cpu
        from pyspark.sql import functions as _F2

        d_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        raw = spread_for_cpu(d_docs.where(_F2.col("source") != "src0"))
        tgt = spread_for_cpu(d_docs.where(_F2.col("source") == "src0"))
        sub = {}

        def _feats():
            # the scoring-side per-doc aggregate, exactly as the row
            # plans it (lazy, single consumer — noop materializes it)
            return doc_bucket_counts(raw, "text", "doc_id", 4096)

        def _lam():
            # mirrors the shipped dsir_select fit (round-14
            # continuation: dsir_logratio_shared over the scoring
            # pass's per-doc aggregate)
            return dsir_logratio_shared(
                doc_bucket_counts(raw, "text", "doc_id", 4096),
                tgt, "text", 4096, 1.0,
            )

        def _feats_xxh():
            # the PRODUCTION hash family (VERDICT r13 item 3): the
            # registry row keeps md5 (the oracle contract), so this
            # attribution row is where the committed artifact shows
            # the number users actually get at 100 TB
            return doc_bucket_counts(
                raw, "text", "doc_id", 4096, hasher="xxhash64"
            )

        sub["cum_feats"] = _stage(
            lambda: _feats().write.format("noop").mode("overwrite").save()
        )
        sub["cum_lam"] = _stage(
            lambda: _lam().write.format("noop").mode("overwrite").save()
        )
        sub["dsir_feats_xxh"] = _stage(
            lambda: _feats_xxh().write.format("noop").mode("overwrite")
            .save()
        )
        limbs["dsir_select"] = sub
        spark.catalog.clearCache()
    except Exception as exc:
        errors["limbs:dsir_select"] = f"{type(exc).__name__}: {exc}"[:300]

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "argo": argo,
        "limbs": limbs,
        "bench_round": _current_round(),
    }
    if start_gate_wait:
        out["start_gate_wait_s"] = start_gate_wait
    # perf-regression tripwire: any headline query >1.5× slower than the
    # newest same-sf BENCH_r{N}.json shows up IN the artifact, so a plan
    # change that hurts is visible at the round it lands, not one judge
    # diff later. The key is always present; empty = no regressions.
    def _flags(q: dict[str, float], prev_q: dict[str, float]) -> dict:
        flagged = {}
        for name, now in q.items():
            was = prev_q.get(name)
            # ratio gate + absolute floor: a 1.5× swing on a 0.25 s query
            # is scheduler/page-cache jitter, not a plan regression
            # (observed: untouched filter_project 0.27→0.41 s on a busy
            # box) — real plan damage moves both knobs
            if was and now > 1.5 * was and now - was > 0.25:
                flagged[name] = {
                    "prev_sec": was, "now_sec": now,
                    "ratio": round(now / was, 2),
                }
        return flagged

    prev = _prev_bench(sf_val)
    out["regressions"] = {}
    # --serialized-all: round-close mode — EVERY headline row gets its
    # own fresh-JVM serialized measurement and the committed number is
    # min(in-session, isolated). Use when the artifact must be
    # load-clean across the board (the VERDICT r10 finding: 13 of 19
    # rows drifted 1.1-1.36x under broad host load but only one crossed
    # the hard tripwire, so the committed artifact mixed one isolated
    # number with 18 load-inflated ones).
    # Round-close default (VERDICT r11 item 2): at the driver's basis
    # sf (0.1) EVERY row is serialized by default, so BENCH_r{N} is
    # load-clean by construction and round-over-round diffs compare one
    # measurement basis — the r10/r11 two-artifact split (committed
    # in-session + separate serialized preview) is over. Local
    # iteration at other sf keeps the fast in-session default;
    # --in-session opts out explicitly (and says so in the artifact).
    serialized_all = "--serialized-all" in sys.argv or (
        sf_val == 0.1 and "--in-session" not in sys.argv
    )
    if "--in-session" in sys.argv:
        serialized_all = False
        out["measurement_basis"] = "in-session (--in-session)"
    elif serialized_all:
        out["measurement_basis"] = "serialized-all (fresh JVM per row)"
    if prev is not None or serialized_all:
        prev_q: dict[str, float] = prev[1] if prev is not None else {}
        if prev is not None:
            out["regression_baseline_round"] = prev[0]
        flagged = _flags(timings, prev_q)
        # drift gate (VERDICT r10 item 1): the hard tripwire's 0.25 s
        # absolute floor let fast rows drift 1.3x forever without ever
        # earning an isolated measurement. Any row >1.25x its previous
        # committed number is re-measured too — no floor — so the
        # round-over-round comparison stays on one measurement basis.
        drift = {
            name: round(now / prev_q[name], 2)
            for name, now in timings.items()
            if prev_q.get(name) and now > 1.25 * prev_q[name]
        }
        if serialized_all:
            # flagged/drifted rows first: if the wall budget below runs
            # out, the rows that NEEDED isolation got it
            to_rm = sorted(
                timings,
                key=lambda n: (n not in flagged, n not in drift, n),
            )
        else:
            # wall-clock guard: a broad drift event must not spawn 19
            # fresh JVMs inside the driver's bench window by accident —
            # re-measure the WORST ratios up to a cap (env-tunable) and
            # say which rows were skipped, so the artifact stays honest
            # either way. Hard tripwire flags sort first.
            try:
                cap = int(os.environ.get("SPARK_GRAFT_REMEASURE_CAP", "12"))
            except ValueError:  # a bad env var must not cost the artifact
                cap = 12
            by_ratio = sorted(
                drift,
                key=lambda n: (n not in flagged, -drift[n]),
            )
            to_rm = sorted(by_ratio[:cap])
            if len(by_ratio) > cap:
                out["remeasure_skipped"] = sorted(by_ratio[cap:])
        if to_rm:
            # don't commit a contention number the standing protocol
            # would clear — re-measure each row in a fresh JVM,
            # serialized, before writing the artifact. The in-session
            # session must release the box first: clear caches and GC
            # so the children measure a quiet JVM-free machine (their
            # own load numbers are in the artifact).
            spark.catalog.clearCache()
            import gc as _gc

            _gc.collect()
            out["remeasure_protocol"] = REMEASURE_PROTOCOL
            if drift:
                out["drift_remeasured"] = drift
            rm = _remeasure_flagged(to_rm, gate=_gate, budget=_gate_budget)
            out["remeasured"] = {}
            for name, r in rm.items():
                entry = {"insession_sec": timings[name], **r}
                entry.pop("row", None)
                if "sec" in r:
                    entry["isolated_sec"] = entry.pop("sec")
                    entry["committed_sec"] = round(
                        min(timings[name], entry["isolated_sec"]), 3
                    )
                    timings[name] = entry["committed_sec"]
                out["remeasured"][name] = entry
            wall_skipped = sorted(
                n for n, r in rm.items() if r.get("wall_skipped")
            )
            if wall_skipped:
                # honest-skip rule: rows that kept their in-session
                # numbers because the wall budget expired are named
                out["remeasure_wall_skipped"] = wall_skipped
            out["value"] = round(sum(timings.values()), 3)
            # keep the derived argo block consistent with any replaced
            # argo row: sec + profiles/s re-derived from the committed
            # number (self-review, round 10 — a remeasured interp row
            # previously left interp_profiles_per_sec at the flagged
            # in-session value)
            n_raw_a = argo.get("interp_profiles_in")
            for rname, sec_key, rate_key in (
                ("argo_summary_build_30k", "summary_sec",
                 "summary_profiles_per_sec"),
                ("argo_interp_30k_profiles", "interp_sec",
                 "interp_profiles_per_sec"),
                ("argo_eape_regional_5deg", "eape_sec",
                 "eape_profiles_per_sec"),
                ("argo_eape_t25_regional_5deg", "eape_t25_sec", None),
            ):
                if rname in out.get("remeasured", {}) and rname in timings:
                    argo[sec_key] = timings[rname]
                    if rate_key and n_raw_a:
                        argo[rate_key] = round(n_raw_a / timings[rname], 1)
            flagged = _flags(timings, prev_q)
        # adjudication split (VERDICT r12 item 2): only flags whose
        # isolated remeasure ran on a quiet box are regressions; the
        # rest are named open questions, not verdicts
        confirmed, unadjudicated = classify_flags(
            flagged, out.get("remeasured", {}), _adjudicate_load()
        )
        out["regressions"] = confirmed
        if unadjudicated:
            out["unadjudicated_host"] = unadjudicated
    if errors:
        out["errors"] = errors
    # The driver records only the LAST ~2000 chars of stdout: the r10
    # artifact's line (limbs + remeasured blocks) grew past that and
    # was committed with parsed=null, silently degrading the tripwire
    # baseline to r9 (found round 11). The FULL artifact goes to a
    # detail file in the repo; the printed line is a compact subset
    # trimmed on a deterministic ladder until it fits — `queries` and
    # the headline total are never trimmed.
    detail_name = f"BENCH_detail_r{out['bench_round']}_sf{sf}.json"
    try:
        with open(os.path.join(REPO_DIR, detail_name), "w") as f:
            json.dump(out, f, indent=1)
    except OSError:
        detail_name = None
    slim = {
        k: out[k]
        for k in (
            "metric", "value", "unit", "queries", "sf", "bench_round",
            "measurement_basis",
            "regression_baseline_round", "regressions",
            "unadjudicated_host",
            "remeasure_skipped", "errors",
        )
        if k in out
    }
    if detail_name:
        slim["detail"] = detail_name
    if "unadjudicated_host" in slim:
        # compact form on the printed line (name -> ratio); the full
        # entries with reasons live in the detail file
        slim["unadjudicated_host"] = {
            n: e.get("ratio") for n, e in slim["unadjudicated_host"].items()
        }
    slim["argo"] = argo
    if "remeasured" in out:
        slim["remeasured"] = {
            n: {
                k: e[k]
                for k in ("insession_sec", "isolated_sec", "committed_sec")
                if k in e
            }
            for n, e in out["remeasured"].items()
        }
    _LINE_BUDGET = 1900
    for trim in ("argo", "remeasured", "remeasure_skipped", "errors"):
        if len(json.dumps(slim)) <= _LINE_BUDGET:
            break
        # only claim "in detail" for keys that were actually present
        # AND whose detail file actually wrote (review finding r12: a
        # failed detail write must not make the committed line assert
        # the existence of data that was dropped)
        if slim.pop(trim, None) is not None and detail_name:
            slim[f"{trim}_in_detail"] = True
    line = _emit_check(json.dumps(slim), _LINE_BUDGET)
    print(line)
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--row":
        print("ROW_RESULT " + json.dumps(_measure_single(sys.argv[2])))
    else:
        main()
