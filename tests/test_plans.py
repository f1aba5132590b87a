"""Physical-plan regression tests (SURVEY.md §4): the optimizations the
reference does by hand (X1-X10) must actually show up in Catalyst's
plans — a refactor that silently drops a pushdown or broadcasts the
wrong side should fail here, not on a 100 TB run.
"""

from __future__ import annotations

import pytest

from argostats_spark.plans.explain import (
    assert_broadcast_join,
    assert_column_pruned,
    assert_filter_pushed,
    count_exchanges,
    physical_plan,
    pushed_filters,
    scan_read_schema,
)
from argostats_spark.queries import QUERIES


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


def test_filter_project_pushdown_and_pruning(spark, sf):
    """X2/X3: every predicate reaches the parquet scan; untouched columns
    (l_partkey, l_tax, ...) are not read."""
    df = QUERIES["filter_project"](spark, sf)
    for col in ["l_shipdate", "l_discount", "l_quantity"]:
        assert_filter_pushed(df, col)
    for col in ["l_partkey", "l_suppkey", "l_tax", "l_linestatus"]:
        assert_column_pruned(df, col)


def test_q1_single_exchange(spark, sf):
    """Partial+final aggregation: exactly one shuffle for the groupBy."""
    df = QUERIES["q1_pricing_summary"](spark, sf)
    assert count_exchanges(df) == 1
    assert "l_shipdate" in pushed_filters(df)


def test_multiway_join_broadcasts_dims(spark, sf):
    """X10: customer/nation/region broadcast — the orders fact side never
    shuffles for a join, only for the final aggregation."""
    df = QUERIES["join_multiway"](spark, sf)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    assert count_exchanges(df) == 1


def test_clim_kernel_grid_broadcast_and_one_exchange(spark, sf):
    """J2: exploded grid side broadcasts; the only shuffle is the final
    per-cell aggregation."""
    df = QUERIES["clim_kernel_grid"](spark, sf)
    assert_broadcast_join(df)
    assert count_exchanges(df) == 1


def test_topk_uses_take_ordered(spark, sf):
    """The merged topk_suite's global limb (ORDER BY + LIMIT) must still
    plan as TakeOrderedAndProject (no global sort materialization) —
    the union must not defeat the limit pushdown."""
    df = QUERIES["topk_suite"](spark, sf)
    assert "TakeOrderedAndProject" in physical_plan(df)


def test_semi_anti_plan_as_joins(spark, sf):
    """join_variants' semi/anti limbs keep their specialized join
    operators inside the union."""
    plan = physical_plan(QUERIES["join_variants"](spark, sf))
    for kind in ("LeftSemi", "LeftAnti"):
        assert kind in plan, f"join_variants lost its {kind} join:\n{plan[:800]}"


def test_events_scan_prunes_columns(spark, sf):
    """events_hourly_window (which absorbed group_count in round 6)
    touches ts/event_type/value/user_id — the scan must never read the
    wide props JSON column."""
    df = QUERIES["events_hourly_window"](spark, sf)
    rs = scan_read_schema(df)
    assert "props" not in rs


def test_interpolation_single_exchange(spark):
    """The interpolation pipeline's only shuffle is the groupBy(WMO)."""
    from argostats_spark.operators.interpolation import interpolate_profiles
    from argostats_spark.sources.synthetic import make_raw

    raw = make_raw(spark, n_wmos=2, profiles_per_wmo=3)
    prof = interpolate_profiles(raw)
    assert count_exchanges(prof) <= 1


def test_bucketed_join_has_no_shuffle(spark, tmp_path_factory):
    """Two tables bucketed on the same key join without any exchange —
    the SCALE.md at-rest co-location strategy for repeated atlas runs."""
    import pandas as pd
    from pyspark.sql import functions as F
    from argostats_spark.sources.tables import write_bucketed_table

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    a = spark.createDataFrame(
        pd.DataFrame({"WMO": list(range(100)) * 3, "x": range(300)})
    )
    b = spark.createDataFrame(
        pd.DataFrame({"WMO": list(range(100)), "y": range(100)})
    )
    write_bucketed_table(a, "bk_a", ["WMO"], n_buckets=8, sort_cols=["WMO"])
    write_bucketed_table(b, "bk_b", ["WMO"], n_buckets=8, sort_cols=["WMO"])
    try:
        j = spark.table("bk_a").join(spark.table("bk_b"), "WMO")
        # disable broadcast so the bucketed path is what's being tested
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j2 = spark.table("bk_a").join(spark.table("bk_b"), "WMO")
        assert count_exchanges(j2) == 0, physical_plan(j2)[:1500]
        assert j2.count() == 300
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_ocean_mask_is_broadcast_hash_join(spark):
    """J3: the mask gate must plan as a BroadcastHashJoin LeftSemi on the
    arithmetic indices — a BroadcastNestedLoopJoin here is the 100 TB
    scale-killer (6.5e12 comparisons at reference mask resolution)."""
    from argostats_spark.operators.atlas import apply_ocean_mask, make_grid
    from argostats_spark.sources.bathy import synthetic_ocean_mask

    grid = make_grid(spark, (-180.0, 180.0, -90.0, 90.0), reso_deg=5.0)
    mask = synthetic_ocean_mask(spark, reso_deg=0.5)
    kept = apply_ocean_mask(grid, mask, mask_reso_deg=0.5)
    plan = physical_plan(kept)
    # the only BNLJs allowed are the intentional tiny grid-axis cross
    # joins (72x36 / 720x360 range tables); the mask *gate* itself must
    # be a hash semi-join on the arithmetic indices
    semi_lines = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
    assert semi_lines, plan[:1500]
    assert all("BroadcastHashJoin" in ln for ln in semi_lines), "\n".join(semi_lines)
    assert not any("NestedLoop" in ln for ln in semi_lines), "\n".join(semi_lines)


def test_split_assign_zero_exchanges(spark, sf):
    """Content-addressed split is a pure row-local expression: no
    shuffle anywhere in the plan."""
    df = QUERIES["split_assign"](spark, sf)
    assert count_exchanges(df) == 0


def test_minhash_no_window_one_bigtable_exchange(spark, sf):
    """The restructured MinHash plan: shingles come from zip-slice
    explode (NO Window operator anywhere), and the signature aggregate
    is the only full-shingle-stream exchange; candidate verification
    happens behind broadcasts of checkpointed small tables."""
    df = QUERIES["dedup_minhash_lsh"](spark, sf)
    plan = physical_plan(df)
    # the big-table stages (shingle stream, signature agg, candidate
    # broadcast) are inside the eagerly-executed localCheckpoint
    # subplans; the visible tail must contain no Window (the old
    # shingle builder's full sort) and no cartesian anything
    assert "Window" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_quality_filter_broadcast_threshold(spark, sf):
    """The percentile threshold joins as a broadcast (1-row), never a
    shuffle of the corpus against it."""
    df = QUERIES["quality_filter"](spark, sf)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_sequences_single_window_exchange(spark, sf):
    """Exactly one stratum-partitioned window shuffle per PACKER limb
    (fixed running-total pack + bestfit rank window), nothing global:
    the round-8 cdc limb is pure row-local fold+explode (zero
    exchanges) and the bestfit slot table joins as a broadcast, never a
    shuffle of the items."""
    df = QUERIES["pack_sequences"](spark, sf)
    assert count_exchanges(df) == 2, physical_plan(df)[:1200]
    plan = physical_plan(df)
    assert plan.count("Window") == 2, plan[:1200]
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_salted_join_equivalence_and_shape(spark):
    """salted_join == plain join on a skewed input (inner and left,
    including unmatched-left preservation), and the physical plan joins
    on (key, salt) so a hot key spreads across n_salts sub-keys."""
    import pandas as pd

    from argostats_spark.operators.skew import salted_join

    # 90%-hot key + a key with no dim match (left-join coverage)
    big = spark.createDataFrame(
        pd.DataFrame({
            "k": ["hot"] * 900 + ["warm"] * 80 + ["orphan"] * 20,
            "v": range(1000),
        })
    )
    small = spark.createDataFrame(
        pd.DataFrame({"k": ["hot", "warm", "unused"], "w": [1.0, 2.0, 3.0]})
    )

    for how in ("inner", "left"):
        plain = big.join(small, ["k"], how).orderBy("v").toPandas()
        salted = salted_join(big, small, ["k"], n_salts=8, how=how)
        got = salted.orderBy("v").toPandas()
        pd.testing.assert_frame_equal(
            got[plain.columns.tolist()], plain, check_dtype=False
        )

    salted = salted_join(big, small, ["k"], n_salts=8)
    assert "__argostats_salt" not in salted.columns
    explained = salted._jdf.queryExecution().executedPlan().toString()
    assert "__argostats_salt" in explained  # the join really keys on the salt

    import pytest

    with pytest.raises(ValueError, match="inner/left"):
        salted_join(big, small, ["k"], how="full")


def test_registry_plans_free_of_antipatterns(spark, sf_dir):
    """Whole-registry plan audit: no query may compile to a
    CartesianProduct or a row-at-a-time Python UDF (BatchEvalPython) —
    the two silent scale-killers. BroadcastNestedLoopJoin is tolerated
    only for the named queries whose design IS a small broadcast side
    with a non-equi predicate (kernel-radius grid join, range bands,
    broadcast query/threshold tables); any new BNLJ must be added here
    consciously."""
    import __spark_entry__ as mod

    bnlj_by_design = {
        "clim_kernel_grid",      # broadcast exploded grid, radius predicate
        "join_range_bands",      # tiny bands dim, BETWEEN predicate
        "cosine_topk",           # broadcast query set, similarity predicate
        "embedding_near_pairs",  # broadcast candidate ids, cosine cutoff
        "ann_suite",             # sq8/mrl32 limbs: broadcast query set vs
                                 # corpus scan (the cosine_topk shape; r8)
        "ocean_mask_gate",       # broadcast scalar mask stats gate
        "quality_filter",        # broadcast 1-row percentile threshold
        "tfidf_lm_suite",        # broadcast 1-row LM smoothing totals
                                 # (T, V) onto the vocab table
        "histograms",            # skew limb: broadcast 1-row total onto
                                 # the 20-row top-k (key_skew_report; r8)
        "stats_suite",           # lm_ap limb: broadcast 1-row approx-
                                 # edge array onto the scored docs (the
                                 # constant join key folds away; r9).
                                 # overlap limb (r11): the pairwise
                                 # a<b self-join of the 3-row broadcast
                                 # theta STATE table — state-sized by
                                 # construction, never corpus-sized
    }
    offenders = {}
    for name, fn in mod.queries().items():
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        hits = [p for p in ("CartesianProduct", "BatchEvalPython") if p in plan]
        if "BroadcastNestedLoopJoin" in plan and name not in bnlj_by_design:
            hits.append("BroadcastNestedLoopJoin")
        if hits:
            offenders[name] = hits
    assert not offenders, f"scale antipatterns compiled into: {offenders}"


def test_atlas_plans_one_tile_exchange_no_broadcast(spark):
    """The tile-halo atlas (clim_ts, clim_eape R14 and T25) is one
    exchange hash-partitioned by tile, under ONE MapInArrow kernel (no
    per-cell FlatMapGroupsInArrow): the grid cells and the profiles'
    tile copies are computed by arithmetic and unioned, so there is no
    BroadcastExchange, no BroadcastHashJoin and no join of any kind."""
    from argostats_spark.operators.atlas import clim_eape, clim_ts, make_grid
    from argostats_spark.operators.interpolation import interpolate_profiles
    from argostats_spark.sources.synthetic import make_raw

    raw = make_raw(spark, n_wmos=4, profiles_per_wmo=5, seed=7)
    profiles = interpolate_profiles(raw)
    grid = make_grid(spark, (-180.0, 180.0, -60.0, 64.0), reso_deg=10.0)
    for df in (clim_ts(grid, profiles, 10.0, 2.0),
               clim_eape(grid, profiles, 10.0, 2.0, algo="R14"),
               clim_eape(grid, profiles, 10.0, 2.0, algo="T25")):
        plan = physical_plan(df)
        # the interpolation below it has its own exchange and kernel:
        # count the atlas part, above the interpolation's output
        atlas = plan.split("FlatMapGroupsInArrow")[0]
        for op in ("BroadcastExchange", "BroadcastHashJoin", "Join"):
            assert op not in plan, (op, plan)
        assert atlas.count("Exchange hashpartitioning(tile") == 1, atlas
        assert atlas.count("Exchange") == 1, atlas
        assert atlas.count("MapInArrow") == 1, atlas
        assert "Union" in atlas, atlas


def test_text_suite_is_pure_scan_project(spark, sf):
    """text_suite (incl. the round-6 staged repetition stats) is a
    single scan + projections: the COMPUTATION causes zero exchanges
    (no hash shuffle — every stat is row-local) and no Python
    operator; the staged with_repetition_stats columns must stay JVM
    expressions. The one allowed exchange is the round-12 input
    spread (RoundRobin over the raw scan, session.spread_for_cpu —
    measured -28..45%, SCALE.md "input spread"); any
    hashpartitioning exchange is still a regression."""
    df = QUERIES["text_suite"](spark, sf)
    plan = physical_plan(df)
    assert count_exchanges(df) <= 1, plan[:800]
    assert "hashpartitioning" not in plan, plan[:1200]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tfidf_lm_broadcasts_vocab_tables(spark, sf):
    """tfidf_lm_suite reshuffles the exploded corpus ONCE per branch
    (the (source,term) tf agg and the per-term vocab agg); the
    vocabulary-sized df/log-prob tables come back as broadcast hash
    joins, never a second corpus-wide sort-merge join."""
    df = QUERIES["tfidf_lm_suite"](spark, sf)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan[:800]
    assert "SortMergeJoin" not in plan, plan[:1200]


def test_dsir_take_ordered_and_broadcast_lambda(spark, sf):
    """dsir_select's selection must plan as TakeOrderedAndProject (a
    per-partition top-k heap + k-row merge — never a global sort of
    the scored corpus) and the B-row λ model must come back to the
    per-doc feature table as a broadcast hash join, never a corpus-
    side sort-merge."""
    df = QUERIES["dsir_select"](spark, sf)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan[:1200]
    assert "BroadcastHashJoin" in plan, plan[:1200]
    assert "SortMergeJoin" not in plan, plan[:1600]


def test_dsir_select_tokenizes_each_corpus_once(spark, sf):
    """Round-14 continuation: dsir_select's fit and scoring share ONE
    lazy per-doc feature subtree, and the whole row (selection + λ
    top-10) is one physical plan — AQE stage reuse must therefore run
    the raw-corpus gram pass ONCE and the target pass ONCE. The
    EXECUTED (final adaptive) plan is the contract: exactly two
    parquet scans / two explodes, and at least one ReusedExchange
    (the shared corpus exchange). A canonicalization drift — e.g. a
    join-pushed isnotnull(bucket) present in one copy of the subtree
    but not another (the exact bug the explicit filter in
    doc_bucket_counts guards) — re-tokenizes the corpus once per
    divergent copy and fails here.

    The pin is the FROM-PARQUET executed plan: an earlier module's
    still-cached read of the same table would substitute
    InMemoryTableScan for the parquet scans and fail the count for a
    reason that has nothing to do with this query's shape."""
    spark.catalog.clearCache()
    df = QUERIES["dsir_select"](spark, sf)
    # collect() (not a noop write, which plans its own QueryExecution)
    # so THIS df's adaptive plan is the one that finalizes
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan[:300]
    final = plan.split("Initial Plan")[0]
    assert final.count("Scan parquet") == 2, final[:2000]
    assert final.count("Generate") == 2, final[:2000]
    assert "ReusedExchange" in final, final[:2000]


def test_tfidf_lm_suite_tokenizes_corpus_once(spark, sf):
    """Round-14 continuation: the suite's tfidf, LM-decile and vocab
    parts all derive from ONE lazy per-(source, doc, tok) aggregate —
    the executed (final adaptive) plan must contain exactly one
    corpus parquet scan and one explode, with the shared exchange
    reused (the n_src scalar is a separate pruned scan outside this
    plan). The LM's T/V smoothing totals are a 1-row aggregate over
    the vocab table, broadcast back onto it; that aggregate must ride
    the vocab exchange too, not re-tokenize. The round-12 form
    tokenized the corpus twice (eager tf checkpoint + LM scoring
    pass). From-parquet contract: clear any
    cached reads of the corpus left by earlier modules (see the dsir
    pin above)."""
    spark.catalog.clearCache()
    df = QUERIES["tfidf_lm_suite"](spark, sf)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan[:300]
    final = plan.split("Initial Plan")[0]
    assert final.count("Scan parquet") == 1, final[:2000]
    assert final.count("Generate") == 1, final[:2000]
    assert "ReusedExchange" in final, final[:2000]


def test_bpe_encode_broadcasts_vocab(spark, sf):
    """bpe_subwords' encode path must join the corpus tokens against
    the trained word->subwords map as a broadcast hash join — never a
    corpus-side sort-merge (the vocab is the small side by
    construction; at a web-corpus vocabulary the documented fallback
    is broadcast_vocab=False, a plain shuffle join on the word)."""
    df = QUERIES["bpe_subwords"](spark, sf)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan[:1200]
    assert "SortMergeJoin" not in plan, plan[:1600]


def test_quality_score_rows_is_pure_expression(spark, sf):
    """quality_score_rows (the classifier's stream-safe scorer) must
    stay a single scan + projection: zero exchanges, no Python
    operator — the property that makes it a stateless streaming map."""
    from argostats_spark.operators.quality_classifier import quality_score_rows

    d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    df = quality_score_rows(d, [0.1] * 64, -0.2)
    plan = physical_plan(df)
    assert count_exchanges(df) == 0, plan[:800]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cdc_chunking_is_row_local(spark, sf):
    """chunk_documents_cdc: one scan, in-row fold + posexplode — zero
    exchanges, no Python operator (chunking at scan speed)."""
    from argostats_spark.operators.sampling import chunk_documents_cdc

    d = spark.read.parquet(f"{sf}/documents.parquet")
    df = chunk_documents_cdc(d, min_tokens=8, max_tokens=64, divisor=16)
    plan = physical_plan(df)
    assert count_exchanges(df) == 0, plan[:800]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Generate" in plan  # the posexplode emitting chunks


def test_lm_score_rows_literal_path_is_pure_expression(spark, sf):
    """lm_score_rows' literal-map transport: zero exchanges, no Python.
    (The >max_literal_vocab transport deliberately uses an Arrow-batched
    pandas UDF — ArrowEvalPython is its expected operator, asserted so
    the fallback never silently degrades to row-at-a-time Python.)"""
    from argostats_spark.operators.textstats import lm_score_rows, unigram_lm_fit

    d = spark.read.parquet(f"{sf}/documents.parquet").limit(50)
    vocab, t, v = unigram_lm_fit(d)
    lit = lm_score_rows(d, vocab, t, v)
    plan = physical_plan(lit)
    assert count_exchanges(lit) == 0, plan[:800]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    pd_path = lm_score_rows(d, vocab, t, v, max_literal_vocab=0)
    plan2 = physical_plan(pd_path)
    assert "ArrowEvalPython" in plan2 and "BatchEvalPython" not in plan2


def test_ann_ivf_pq_stages_stay_nested_loop_free(spark, sf_dir):
    """ann_suite sits on the BNLJ allowlist only for its by-design
    broadcast-query limbs (sq8/mrl32); the ivf and pq stages were
    previously protected by the query-level gate and must stay free of
    nested-loop shapes — pinned here at operator level."""
    from pyspark.sql import functions as F

    from argostats_spark.operators.pq import pq_encode, pq_topk, pq_train
    from argostats_spark.operators.similarity import (
        ivf_assign, ivf_topk_scalable, train_centroids,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    cents = train_centroids(e, n_centroids=4, sample_rows=200)
    ivf = ivf_topk_scalable(ivf_assign(e, cents), q, cents, k=3, nprobe=2)
    plan = physical_plan(ivf)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    books = pq_train(e, m=8, ksub=16, sample_rows=200, seed=3)
    pq = pq_topk(pq_encode(e.select("vec_id", "embedding"), books), q, books, k=3)
    plan = physical_plan(pq)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_global_window_sites_are_inventoried():
    """VERDICT r8 item 8: every no-partition window in the source maps
    to a KNOWN bounded input, so the bench tail's 'No Partition
    Defined' warnings are all accounted for and a future unbounded
    global window cannot hide among them. A new site anywhere changes
    a count and fails this test — classify it here (bounded: fine;
    unbounded: guard it like equi_depth_histogram's max_global_rows).

    Current inventory (all windows over bounded frames unless noted):
    - queries_documents.py (2): dsir bucket_rows (limit 10 → rank) and
      bpe sw_rows (limit 50 → rank);
    - queries.py (1): stats_suite lm_ap pop sum (<= 10 decile rows);
    - operators/dsir.py (2): top-k rank over a limit(k) frame, and
      the λ fit's corpus-totals window sums over the ≤B-row
      (bucket, ct, cr) aggregate (round-14 continuation — replaces
      the totals collect so the whole fit stays lazy in one plan);
    - operators/bpe.py: subword-id rank over the VOCABULARY table;
    - operators/profile.py (3): key_skew_report rank over limit(top)
      rows, plus equi_depth_histogram's two conditional by=None
      windows — guarded by max_global_rows since round 9 (the guard
      raises before either is planned past the bound);
    - operators/textstats.py: nll_deciles exact ntile — BOUNDED from
      every queries() path since round 10 (VERDICT r9 item 5): the
      stats_suite lm_ap anchor feeds it the capped slice
      doc_id < _LM_AP_SLICE_CAP, so the sort is <= CAP rows at any
      corpus size; the corpus-sized form remains reachable only by a
      direct exact=True call (documented demo/test usage; the scale
      path is exact=False — approx edges, zero windows)."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "argostats_spark"
    pat = re.compile(r"W\.partitionBy\(\)|(?<![.\w])W\.orderBy\(|Window\.orderBy\(")
    found: dict[str, int] = {}
    for p in sorted(pkg.rglob("*.py")):
        n = sum(len(pat.findall(line)) for line in p.read_text().splitlines()
                if not line.lstrip().startswith("#"))
        if n:
            found[str(p.relative_to(pkg))] = n
    assert found == {
        "operators/bpe.py": 1,
        "operators/dsir.py": 2,
        "operators/profile.py": 3,
        "operators/textstats.py": 1,
        "queries.py": 1,
        "queries_documents.py": 2,
    }, f"global-window inventory drifted: {found}"


def test_env_knobs_are_inventoried():
    """Every SPARK_GRAFT_* environment variable the package, bench.py or
    scripts/ reads is an option every test and benchmark configuration
    must cover, so the set is pinned: a new knob fails here until it is
    added on purpose.

    Current inventory: the package reads SPARK_GRAFT_CPUS (local thread
    count) and SPARK_GRAFT_DRIVER_MEM (driver heap); bench.py and
    scripts/ add SPARK_GRAFT_SF_DIR (the testdata directory they time or
    explain) — deployment settings, not behaviour switches."""
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    pat = re.compile(r"SPARK_GRAFT_[A-Z_]+")

    def knobs(paths):
        return {m for p in paths for m in pat.findall(p.read_text())}

    pkg = knobs((root / "argostats_spark").rglob("*.py"))
    tools = knobs([root / "bench.py", *(root / "scripts").glob("*.py")])
    assert pkg == {
        "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
    }, f"package env-knob inventory drifted: {sorted(pkg)}"
    assert pkg | tools == {
        "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_SF_DIR",
    }, f"env-knob inventory drifted: {sorted(pkg | tools)}"
