#!/usr/bin/env python
"""Headline timer: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ..., "argo": {...}, "errors": {...},
"detail": "BENCH_detail_sf{sf}.json"}. The detail file, written next to
this script, holds the same numbers plus the per-limb attribution
(``limbs``).

Each query is materialized with a noop write (full execution of every
operator, no collect), one untimed warm run and then the minimum of three
timed runs. A warmup query amortizes JVM/codegen startup out of the
numbers. This is a local timer; the paired parent/change comparison on
CPU seconds and Spark job counts is ``perfbench/run.py``.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from argostats_spark.queries import QUERIES  # noqa: E402
from argostats_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPO_DIR = os.path.dirname(os.path.abspath(__file__))
_LINE_BUDGET = 1900

# Per-limb attribution for the >=3-limb suite queries (VERDICT r6 item
# 5): when a suite's total moves, the artifact must say WHICH limb. Two
# shapes: "tag" suites are tagged unions — filtering on the tag literal
# constant-folds every other union child to an empty relation, so the
# noop write executes that limb's subplan alone; "columns" suites
# (text_suite) compute limbs as feature columns of one row-per-doc
# select — projecting a column group lets Catalyst prune the other
# groups' expressions. One run per limb (attribution only — the suite's
# own headline row stays the warm min-of-3 number).
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


def _min_of_3(fn, warm: bool = True) -> float:
    """Warm minimum of three timed runs of ``fn``.

    One untimed warm run first, unless the caller already warmed ``fn``
    on a smaller input: queries with Python stages (mapInPandas decode,
    pandas-UDF scorers, the Arrow argo kernels) take several invocations
    for worker pools and Arrow buffers to plateau — a cold first run
    measured 2-7x the steady state. Min of three, because first-run
    codegen/JIT jitter masked plan changes in r2 (q1 2.11→2.81 s with an
    unchanged pinned plan) and a round-6 same-session probe of an
    UNCHANGED atlas plan spread 1.47–8.29 s across six runs (GC/scheduler
    stalls). The warm minimum is the number the plan determines."""
    if warm:
        fn()
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def _emit_check(line: str, budget: int) -> str:
    """Guard the printed line (VERDICT r11 item 6): BENCH_r10 was
    committed ``parsed: null`` because the line outgrew the ~2000-char
    stdout tail its reader kept. Fail LOUDLY (non-zero exit) rather
    than print a line that will be recorded unparseable: the line must
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


def main() -> None:
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
        try:
            # the build runs inside the timed region: a builder's eager
            # prefix is part of what the row costs
            timings[name] = round(
                _min_of_3(lambda: _noop(QUERIES[name](spark, SF_DIR))), 3
            )
        except Exception as exc:  # one broken query = one missing row
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
        # Isolate queries from each other's storage debris:
        # localCheckpointed RDDs (e.g. LSH edge lists) are
        # reclaimed only when the DRIVER GCs their handles and the
        # ContextCleaner runs — without this, blocks from an earlier
        # query tax a later one's executor memory and a min-of-3 can
        # come out uniformly slow (measured: atlas 6.8 s min-of-3 right
        # after dedup_groups_lsh vs 1.6 s in isolation, same plan).
        spark.catalog.clearCache()
        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    # Reference-parity microbench: interpolation throughput (BASELINE.md
    # derived rate ~5e3 profiles/s on 28 cores). Python workers are warm
    # from the headline queries, matching the reference's steady state.
    from argostats_spark.operators.atlas import clim_eape, clim_ts, make_grid
    from argostats_spark.operators.interpolation import interpolate_profiles
    from argostats_spark.operators.summary import build_summary
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
        summary_sec = _min_of_3(lambda: _noop(build_summary(raw)))
        timings["argo_summary_build_30k"] = round(summary_sec, 3)
        argo.update(
            summary_sec=round(summary_sec, 3),
            summary_profiles_per_sec=round(n_raw / summary_sec, 1),
            baseline_reference_summary_profiles_per_sec=10000,
        )
        # spawn/warm the Python UDF daemons so the measurement reflects the
        # steady state (the reference's pool is likewise persistent); a
        # sample keeps all WMO groups → all shuffle partitions → all workers,
        # then ONE full-size warm run (inside _min_of_3): the arrow kernel's
        # Arrow-batch buffers/worker threads take several full invocations
        # to plateau (r6 A/B: 1.84→1.24 s over 6 runs on unchanged code —
        # the r4→r5 "interp drift" was exactly this warm-up under-sampling,
        # steady state ≥27k profiles/s on both engines; SCALE.md)
        _noop(interpolate_profiles(raw.sample(0.02, seed=1)))
        interp_sec = _min_of_3(lambda: _noop(interpolate_profiles(raw)))
        timings["argo_interp_30k_profiles"] = round(interp_sec, 3)
        argo.update(
            interp_profiles_in=n_raw,
            interp_sec=round(interp_sec, 3),
            interp_profiles_per_sec=round(n_raw / interp_sec, 1),
            baseline_reference_profiles_per_sec=5000,
        )

        profiles = interpolate_profiles(raw).cache()
        profiles.count()
        # warm the tile-kernel worker pool on a small domain before timing
        _noop(clim_ts(
            make_grid(spark, (0.0, 20.0, -20.0, 0.0), reso_deg=5.0),
            profiles, reso_deg=5.0, smoothing_factor=2.0,
        ))
        grid = make_grid(spark, (-180.0, 180.0, -80.0, 80.0), reso_deg=5.0)
        timings["argo_atlas_global_5deg"] = round(
            _min_of_3(
                lambda: _noop(clim_ts(
                    grid, profiles, reso_deg=5.0, smoothing_factor=2.0,
                )),
                warm=False,
            ),
            3,
        )

        # EAPE (VERDICT r8 item 3): the reference's costliest
        # computation (reference atlas.py:439-448). Regional 5 deg box
        # (100x70 deg, 280 cells), R14 kernel, same profiles/smoothing as
        # the atlas row so the numbers are comparable — the measured time
        # IS the full EAPE dataflow (one tile exchange, then per tile:
        # cell mean profiles, per-pair displacement, weighted mean).
        egrid = make_grid(spark, (-80.0, 20.0, -60.0, 10.0), reso_deg=5.0)
        eape_sec = _min_of_3(lambda: _noop(clim_eape(
            egrid, profiles, reso_deg=5.0, smoothing_factor=2.0
        )))
        timings["argo_eape_regional_5deg"] = round(eape_sec, 3)
        argo.update(
            eape_algo="R14",
            eape_cells=int(egrid.count()),
            eape_sec=round(eape_sec, 3),
            eape_profiles_per_sec=round(n_raw / eape_sec, 1),
        )
        # T25 variant (same dataflow, gammat-bisection kernel — the
        # Tailleux-2025 displacement against the global Lorenz
        # profile): its per-profile cost is the bisection, so a kernel
        # change shows here even when R14 is flat
        t25_sec = _min_of_3(lambda: _noop(clim_eape(
            egrid, profiles, reso_deg=5.0, smoothing_factor=2.0, algo="T25",
        )))
        timings["argo_eape_t25_regional_5deg"] = round(t25_sec, 3)
        argo["eape_t25_sec"] = round(t25_sec, 3)
    except Exception as exc:  # partial argo numbers beat no artifact
        errors["argo_microbench"] = f"{type(exc).__name__}: {exc}"[:300]

    limbs: dict[str, dict[str, float]] = {}
    from pyspark.sql import functions as F

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
                items = [(v, df.filter(F.col(spec["col"]) == v))
                         for v in spec["values"]]
            else:
                items = [(g, df.select(*spec["key"], *cols))
                         for g, cols in spec["groups"].items()]
            for limb, carved in items:
                t0 = time.perf_counter()
                _noop(carved)
                sub[limb] = round(time.perf_counter() - t0, 3)
            limbs[name] = sub
        except Exception as exc:
            errors[f"limbs:{name}"] = f"{type(exc).__name__}: {exc}"[:300]

    # dedup_groups_lsh stage attribution (VERDICT r8 item 6): the
    # slowest headline row gets per-stage numbers so a drift names its
    # stage, not just the whole-query delta. Cumulative-prefix timing —
    # each limb is a fresh build of a strictly larger subplan ('sig' ⊂
    # 'pairs' ⊂ the headline row), so stage costs are the DELTAS
    # between rows (labeled cum_*); attribution only.
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

        sub["cum_sig"] = round(
            _min_of_3(lambda: _noop(_lsh_doc_signatures(d_docs))), 3
        )
        sub["cum_pairs"] = round(
            _min_of_3(lambda: _noop(_minhash_lsh_pairs_inline(d_docs))), 3
        )
        # CC + keep flags over a prebuilt edge list (pairs cost removed
        # so the CC limb is NOT cumulative: edges come from one
        # checkpointed build)
        edges = (
            _minhash_lsh_pairs_inline(d_docs).select("id_a", "id_b")
            .localCheckpoint(eager=True)
        )
        sub["cc_flags"] = round(_min_of_3(lambda: _noop(
            duplicate_groups(d_docs, edges, id_col="doc_id")
        )), 3)
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
    # TakeOrdered. Attribution only; the limb names keep their
    # round-10 stage meanings (features / fit).
    try:
        from argostats_spark.operators.dsir import (
            doc_bucket_counts,
            dsir_logratio_shared,
        )
        from argostats_spark.session import spread_for_cpu

        d_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        raw = spread_for_cpu(d_docs.where(F.col("source") != "src0"))
        tgt = spread_for_cpu(d_docs.where(F.col("source") == "src0"))
        sub = {}
        # the scoring-side per-doc aggregate, exactly as the row plans
        # it (lazy, single consumer — noop materializes it)
        sub["cum_feats"] = round(_min_of_3(lambda: _noop(
            doc_bucket_counts(raw, "text", "doc_id", 4096)
        )), 3)
        # mirrors the shipped dsir_select fit (round-14 continuation:
        # dsir_logratio_shared over the scoring pass's per-doc aggregate)
        sub["cum_lam"] = round(_min_of_3(lambda: _noop(dsir_logratio_shared(
            doc_bucket_counts(raw, "text", "doc_id", 4096),
            tgt, "text", 4096, 1.0,
        ))), 3)
        # the PRODUCTION hash family (VERDICT r13 item 3): the registry
        # row keeps md5 (the oracle contract), so this attribution row
        # is where the artifact shows the number users actually get
        sub["dsir_feats_xxh"] = round(_min_of_3(lambda: _noop(
            doc_bucket_counts(raw, "text", "doc_id", 4096, hasher="xxhash64")
        )), 3)
        limbs["dsir_select"] = sub
        spark.catalog.clearCache()
    except Exception as exc:
        errors["limbs:dsir_select"] = f"{type(exc).__name__}: {exc}"[:300]

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    line = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "argo": argo,
        "errors": errors,
    }
    # The full record (line keys plus limbs) goes to a detail file; the
    # printed line leaves out limbs. Only a long errors map can still
    # push the line past the budget, so the ladder drops argo, then
    # errors, from the line (never queries or the total) and says the
    # dropped key is in the detail file.
    detail_name: str | None = f"BENCH_detail_sf{sf}.json"
    try:
        with open(os.path.join(REPO_DIR, detail_name), "w") as f:
            json.dump({**line, "limbs": limbs}, f, indent=1)
    except OSError:
        detail_name = None
    if detail_name:
        line["detail"] = detail_name
    for trim in ("argo", "errors"):
        if len(json.dumps(line)) <= _LINE_BUDGET:
            break
        # only claim "in detail" when the detail file actually wrote
        if line.pop(trim, None) is not None and detail_name:
            line[f"{trim}_in_detail"] = True
    print(_emit_check(json.dumps(line), _LINE_BUDGET))
    spark.stop()


if __name__ == "__main__":
    if sys.argv[1:]:
        raise SystemExit(
            "usage: [SPARK_GRAFT_SF_DIR=...] python bench.py (no arguments)"
        )
    main()
