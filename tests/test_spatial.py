"""Property test for the binned neighborhood join (SURVEY.md §7.4.1):
the bin cover must provably contain the kernel support, so
binned-join ≡ brute-force cross join + distance filter — including
longitude wraparound and high-latitude meridian convergence (the two
ways a fixed halo goes wrong; the reference hard-codes width=3°,
atlas.py:502).
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from argostats_spark.functions.geo import haversine_arg
from argostats_spark.operators.spatial import (
    explode_neighbor_bins,
    kernel_weighted_mean,
    neighborhood_join,
)


def _brute_force(spark, grid_pdf, pts_pdf, radius_deg):
    cutoff = math.sin(math.radians(radius_deg) / 2.0) ** 2
    g = spark.createDataFrame(grid_pdf)
    p = spark.createDataFrame(pts_pdf)
    return (
        g.crossJoin(p)
        .withColumn("hav", haversine_arg("glon", "glat", "lon", "lat"))
        .filter(F.col("hav") <= cutoff)
    )


@pytest.mark.parametrize(
    "case",
    [
        # (grid lat range, point lat range, radius) — mid-lat, polar, wrap
        ((-40, 40), (-50, 50), 5.0),
        ((60, 85), (55, 88), 8.0),     # meridian convergence
        ((-80, -60), (-85, -55), 12.0),
        ((84, 86), (80, 90), 10.0),    # lon reach wider than the ring
        ((-90, 90), (-90, 90), 10.0),  # cells and points at exactly ±90°
    ],
)
def test_binned_equals_brute_force(spark, case):
    (g_lo, g_hi), (p_lo, p_hi), radius = case
    rng = np.random.default_rng(hash(case) % 2**32)
    # each side also gets one row at each end of its latitude range, so
    # a range that reaches a pole has members at exactly the pole
    grid_pdf = pd.DataFrame({
        "glon": np.r_[rng.uniform(-180, 180, 40), 0.5, -90.5],
        "glat": np.r_[rng.uniform(g_lo, g_hi, 40), g_lo, g_hi],
        "cell_id": np.arange(42),
    })
    pts_pdf = pd.DataFrame({
        "lon": np.r_[rng.uniform(-180, 180, 300), 45.0, -135.0],
        "lat": np.r_[rng.uniform(p_lo, p_hi, 300), p_lo, p_hi],
        "pt_id": np.arange(302),
    })

    grid = spark.createDataFrame(grid_pdf)
    # the cover holds only latitude bins a point can occupy
    bin_deg = max(radius, 1.0)
    lo, hi = explode_neighbor_bins(grid, "glon", "glat", radius, bin_deg).agg(
        F.min("lat_bin"), F.max("lat_bin")
    ).first()
    assert 0 <= lo and hi <= math.ceil(180 / bin_deg) - 1, (lo, hi)

    brute = _brute_force(spark, grid_pdf, pts_pdf, radius)
    binned = neighborhood_join(grid, spark.createDataFrame(pts_pdf), radius_deg=radius)
    # multisets: a pair the join emits twice double-weights its point
    want = Counter((r.cell_id, r.pt_id) for r in brute.select("cell_id", "pt_id").collect())
    got = Counter((r.cell_id, r.pt_id) for r in binned.select("cell_id", "pt_id").collect())
    missing = want - got
    extra = got - want
    assert not missing, f"binned join dropped true pairs: {sorted(missing)[:10]}"
    assert not extra, f"binned join kept extra pairs: {sorted(extra)[:10]}"


def test_cross_pole_pair_emitted_once(spark):
    """Near a pole the longitude reach of the radius spans more than the
    whole bin ring (2·klon+1 > nlon): the cover must still hold each
    (cell, bin) once — 2 lat bins (the third would lie past the pole)
    × 36 lon bins — and the pair across the pole must come out once."""
    grid = spark.createDataFrame(pd.DataFrame({"glon": [0.5], "glat": [85.0]}))
    pts = spark.createDataFrame(pd.DataFrame({"lon": [-179.5], "lat": [87.0]}))
    cover = explode_neighbor_bins(grid, "glon", "glat", 10.0, 10.0)
    assert cover.count() == cover.distinct().count() == 72
    assert neighborhood_join(grid, pts, radius_deg=10.0).count() == 1


def test_wraparound_pair_found(spark):
    """A grid cell at lon=179.5 must see a point at lon=-179.5."""
    grid = spark.createDataFrame(pd.DataFrame({"glon": [179.5], "glat": [0.0]}))
    pts = spark.createDataFrame(pd.DataFrame({"lon": [-179.5], "lat": [0.0], "v": [1.0]}))
    out = neighborhood_join(grid, pts, radius_deg=2.0).collect()
    assert len(out) == 1


def test_kernel_weighted_mean_single_point(spark):
    """FIXTURES.md §5 golden (a): one point exactly at a grid center ⇒
    the cell mean equals that point's value, weight 1."""
    grid = spark.createDataFrame(pd.DataFrame({"glon": [10.0, 50.0], "glat": [0.0, 20.0]}))
    pts = spark.createDataFrame(
        pd.DataFrame({"lon": [10.0], "lat": [0.0], "val": [42.0]})
    )
    out = kernel_weighted_mean(grid, pts, ["val"], reso_deg=1.0, smoothing_factor=4.0)
    rows = out.collect()
    assert len(rows) == 1  # the far cell has no support
    r = rows[0]
    assert (r.glon, r.glat) == (10.0, 0.0)
    assert r.mean_val == pytest.approx(42.0)
    assert r.sum_w == pytest.approx(1.0)


def test_kernel_weighted_mean_symmetric_pair(spark):
    """FIXTURES.md §5 golden (b): two symmetric points ⇒ exact average."""
    grid = spark.createDataFrame(pd.DataFrame({"glon": [0.0], "glat": [0.0]}))
    pts = spark.createDataFrame(
        pd.DataFrame({"lon": [-1.0, 1.0], "lat": [0.0, 0.0], "val": [10.0, 30.0]})
    )
    out = kernel_weighted_mean(grid, pts, ["val"], reso_deg=1.0, smoothing_factor=4.0)
    r = out.collect()[0]
    assert r.mean_val == pytest.approx(20.0)
    assert r.n_points == 2
