#!/usr/bin/env python
"""Micro-benchmark: Arrow group-kernel weighted mean (clim_ts) vs
level-exploded expression aggregation (clim_ts_exploded) for the atlas core (SURVEY.md §7.3 'benchmark
both at sf0.1'). Synthetic profile cloud sized so the pair set is
O(500k) — comparable to a regional atlas at 1/4°.

Result (local[32], 2026-08): see ATLAS_BENCH note in operators/atlas.py.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np
import pandas as pd

from argostats_spark.operators.atlas import clim_ts, clim_ts_exploded, make_grid, match_pairs
from argostats_spark.schemas import NLEVELS, PROFILES_SCHEMA
from argostats_spark.session import get_spark


def synth_profiles(spark, n=10_000, seed=42, lon_hi=40.0, lat_lo=-40.0):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "WMO": rng.integers(2900000, 2900200, n),
            "DAC": np.zeros(n, dtype="i1"),
            "IPROF": np.arange(n) % 500,
            "JULD": pd.Timestamp("2020-01-01"),
            "LATITUDE": rng.uniform(lat_lo, 0, n).astype("f4"),
            "LONGITUDE": rng.uniform(0, lon_hi, n).astype("f4"),
            "DATA_MODE": np.ones(n, dtype="i1"),
            "FLAG": np.ones(n, dtype="i1"),
            "NVALUES": np.full(n, NLEVELS, dtype="i4"),
            "CT": [(20 - 15 * np.linspace(0, 1, NLEVELS) + rng.normal(0, 0.5, NLEVELS)).astype("f4").tolist() for _ in range(1)] * n,
            "SR": [[35.0] * NLEVELS] * n,
            "IDX": [[1] * NLEVELS] * n,
        }
    )
    return spark.createDataFrame(pdf, schema=PROFILES_SCHEMA)


def main():
    """Usage: bench_atlas.py [n_profiles] [reso_deg]

    Default (10k profiles, 2°): the regional 400-cell shape behind the
    ATLAS_BENCH note. ``bench_atlas.py 50000 0.25`` runs the ≥10⁵-cell
    shape (128k cells over 100°×80°), where a 1/4° global grid
    actually lives."""
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    reso = float(sys.argv[2]) if len(sys.argv) > 2 else 2.0
    spark = get_spark("bench_atlas")
    lon_hi, lat_lo = (100.0, -80.0) if reso < 1.0 else (40.0, -40.0)
    profiles = synth_profiles(spark, n=n, lon_hi=lon_hi, lat_lo=lat_lo).cache()
    profiles.count()
    grid = make_grid(spark, (0.0, lon_hi, lat_lo, 0.0), reso_deg=reso)
    n_cells = grid.count()
    pairs = match_pairs(grid, profiles, reso_deg=reso, smoothing_factor=4.0).cache()
    n_pairs = pairs.count()
    print(f"cells: {n_cells}  pairs: {n_pairs}")

    variants = [
        ("applyInArrow", lambda g, p, pr: clim_ts(g, p, reso, pairs=pr)),
        ("exploded", lambda g, p, pr: clim_ts_exploded(g, p, reso, pairs=pr)),
    ]
    for name, fn in variants:
        times = []
        for it in range(3):
            t0 = time.perf_counter()
            fn(grid, profiles, pairs).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        runs = " ".join(f"{t:.2f}s" for t in times)
        print(f"{name}: warm-min {min(times[1:]):.2f}s  (runs: {runs})", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
