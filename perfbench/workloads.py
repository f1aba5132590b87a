"""The benchmark's workloads.

Each workload prepares its inputs from the seed, then runs one *pass*
(its fixed list of calls into the program's public functions) as many
times as the runner asks. Every call goes through ``call(name, fn)``,
which times it, groups its Spark jobs and, in a traced pass, records a
span. Call names are ``<module>.<call>`` and become the prefix of the
per-layer metric names.
"""

from __future__ import annotations

import os

# argo_batch input: floats x profiles per float, as make_raw takes them
ARGO_SIZE = {"full": (16, 50), "tiny": (2, 4)}
# relational_sql input: scale factor of the generated tables
RELATIONAL_SF = {"full": 0.01, "tiny": 0.001}

RESO_DEG = 5.0
SMOOTHING = 2.0
GLOBAL = (-180.0, 180.0, -80.0, 80.0)
REGIONAL = (-80.0, 20.0, -60.0, 10.0)

ARGO_CALLS = (
    "operators.summary.build_summary",
    "operators.interpolation.interpolate_profiles",
    "operators.interpolation.write_profiles",
    "operators.interpolation.read_profiles",
    "operators.atlas.choose_clim_ts_variant",
    "operators.atlas.clim_ts_auto",
    "operators.atlas.clim_eape_r14",
)
# outputs written and checked on every pass, under out/
ARGO_OUTPUTS = ("atlas", "eape_r14")

# JVM-side registry queries: Catalyst, codegen, shuffle and scan. A
# subset, so that one run stays under a minute on 4 cores; NOTES.md
# lists the queries left out.
RELATIONAL = ("q1_pricing_summary", "join_multiway", "window_suite")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class ArgoBatch:
    """The paper's three-stage pipeline: summary, interpolation with a
    partitioned write, then the gridded atlas and the R14 EAPE on the
    stored profiles."""

    name = "argo_batch"
    queries = ()
    warmup_passes = 3
    timed_passes = 3

    def __init__(self, size: str, work: str) -> None:
        self.n_wmos, self.per_wmo = ARGO_SIZE[size]
        self.items = self.n_wmos * self.per_wmo
        self.raw_path = os.path.join(work, "raw")
        self.store = os.path.join(work, "store")
        self.out = os.path.join(work, "out")
        self.expected: dict[str, tuple] | None = None
        self.pairs_in_bins: int | None = None
        self.spark = self.raw = None

    def prepare(self, spark, seed: int, call) -> None:
        from argostats_spark.sources.synthetic import make_raw

        call("sources.make_raw", lambda: make_raw(
            spark, n_wmos=self.n_wmos, profiles_per_wmo=self.per_wmo, seed=seed,
        ).write.mode("overwrite").parquet(self.raw_path))
        self.spark = spark
        self.raw = spark.read.parquet(self.raw_path)

    def run_pass(self, call, checking: bool) -> None:
        from argostats_spark.operators.atlas import (
            choose_clim_ts_variant, clim_eape, clim_ts_auto, make_grid,
        )
        from argostats_spark.operators.interpolation import (
            interpolate_profiles, write_profiles,
        )
        from argostats_spark.operators.summary import build_summary

        spark, raw = self.spark, self.raw
        grid = make_grid(spark, GLOBAL, reso_deg=RESO_DEG)
        egrid = make_grid(spark, REGIONAL, reso_deg=RESO_DEG)
        out = self.out

        def write(df, name):
            df.write.mode("overwrite").parquet(os.path.join(out, name))

        call(ARGO_CALLS[0], lambda: _noop(build_summary(raw)))
        prof = call(ARGO_CALLS[1], lambda: interpolate_profiles(raw))
        call(ARGO_CALLS[2], lambda: write_profiles(prof, self.store))
        stored = call(ARGO_CALLS[3], lambda: spark.read.parquet(self.store))
        variant = call(ARGO_CALLS[4], lambda: choose_clim_ts_variant(
            grid, stored, RESO_DEG, SMOOTHING))
        call(ARGO_CALLS[5], lambda: write(clim_ts_auto(
            grid, stored, RESO_DEG, SMOOTHING, variant=variant), "atlas"))
        call(ARGO_CALLS[6], lambda: write(clim_eape(
            egrid, stored, RESO_DEG, SMOOTHING, algo="R14"), "eape_r14"))

    def check_pass(self, first: bool) -> list[str]:
        """Fingerprint this pass's outputs: row hash, cell count and
        finite values per column. The first (set-up) pass records them;
        every later pass must match exactly."""
        from checks import parquet_fingerprint

        got = {name: parquet_fingerprint(os.path.join(self.out, name), ["glon", "glat"])
               for name in ARGO_OUTPUTS}
        if first or self.expected is None:
            self.expected = got
            return []
        return [f"{name}: {what} differs from the set-up pass"
                for name in got
                for what, a, b in zip(("row hash", "cell count", "finite count"),
                                      got[name], self.expected[name])
                if a != b]

    def final_checks(self, tmp: str) -> tuple[int, list[str]]:
        return 0, []

    def ratios(self, records: dict) -> dict[str, float]:
        """Pairs inside the kernel radius (rows out of the bin join,
        whose condition is the exact haversine test) over the
        candidates the bin join offers (sum over bins of grid cells
        times profiles, as estimate_pair_count counts them)."""
        from argostats_spark.operators.atlas import estimate_pair_count, make_grid

        if self.pairs_in_bins is None:
            stored = self.spark.read.parquet(self.store)
            grid = make_grid(self.spark, GLOBAL, reso_deg=RESO_DEG)
            self.pairs_in_bins = estimate_pair_count(grid, stored, RESO_DEG, SMOOTHING)
        kept = [max((r for name, desc, r in rec["operators"]
                     if name == "BroadcastHashJoin" and "SIN(" in desc), default=0)
                for rec in records.get("operators.atlas.clim_ts_auto", [])]
        if not kept or not self.pairs_in_bins:
            return {}
        return {"operators.atlas.pair_keep_frac": max(kept) / self.pairs_in_bins}


class RelationalSql:
    """Registry queries on generated tables: each query is built (the
    builder may run jobs) and then run with a ``noop`` write. The
    set-up pass collects the results instead, for the oracle check."""

    name = "relational_sql"
    queries = RELATIONAL
    items = len(RELATIONAL)
    warmup_passes = 8
    timed_passes = 6

    def __init__(self, size: str, work: str) -> None:
        self.sf = RELATIONAL_SF[size]
        self.tables = os.path.join(work, "tables")
        self.results: dict = {}
        self.spark = None

    def prepare(self, spark, seed: int, call) -> None:
        from datagen import write_tables

        call("inputs.tables", lambda: write_tables(self.tables, self.sf, seed))
        self.spark = spark

    def run_pass(self, call, checking: bool) -> None:
        from argostats_spark.queries import QUERIES

        for q in self.queries:
            df = call(f"queries.{q}.build", lambda q=q: QUERIES[q](self.spark, self.tables))
            if checking:
                self.results[q] = call(f"queries.{q}.run", df.toPandas)
            else:
                call(f"queries.{q}.run", lambda df=df: _noop(df))

    def check_pass(self, first: bool) -> list[str]:
        return []

    def final_checks(self, tmp: str) -> tuple[int, list[str]]:
        from argostats_spark.queries import ORACLES
        from checks import oracle_frame, parity_error
        from datagen import TABLES

        errors = []
        for q in self.queries:
            if q not in self.results:
                errors.append(f"{q}: no result from the set-up pass")
                continue
            want = oracle_frame(self.tables, TABLES, ORACLES[q], tmp)
            err = parity_error(self.results[q], want)
            if err:
                errors.append(f"{q}: {err}")
        return len(self.queries), errors

    def ratios(self, records: dict) -> dict[str, float]:
        return {}


WORKLOADS = {w.name: w for w in (ArgoBatch, RelationalSql)}
