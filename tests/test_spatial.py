"""Property tests for the binned neighborhood join and the atlas tile
cover (SURVEY.md §7.4.1): each cover must provably contain the kernel
support, so binned-join ≡ tile cover ≡ brute-force cross join +
distance filter — including longitude wraparound and high-latitude
meridian convergence (the two ways a fixed halo goes wrong; the
reference hard-codes width=3°, atlas.py:502).
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
    explode_disc_tiles,
    explode_neighbor_bins,
    kernel_weighted_mean,
    neighborhood_join,
    tile_layout,
    with_tile,
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


def _tile_pairs(spark, grid_pdf, pts_pdf, radius_deg):
    """(cell_id, pt_id) multiset of the atlas tile cover: cells in their
    own tile, points copied to every tile their disc can touch, joined
    on the tile and cut at the radius, as the atlas kernel does."""
    cutoff = math.sin(math.radians(radius_deg) / 2.0) ** 2
    cells = with_tile(spark.createDataFrame(grid_pdf), "glon", "glat", radius_deg)
    pts = explode_disc_tiles(spark.createDataFrame(pts_pdf), "lon", "lat", radius_deg)
    rows = (
        cells.join(pts, "tile")
        .withColumn("hav", haversine_arg("glon", "glat", "lon", "lat"))
        .filter(F.col("hav") <= cutoff)
        .select("cell_id", "pt_id").collect()
    )
    return Counter((r.cell_id, r.pt_id) for r in rows)


@pytest.mark.parametrize(
    "case",
    [
        # (grid lat range, point lat range, radius)
        ((-40, 40), (-50, 50), 5.0),
        ((60, 85), (55, 88), 8.0),     # meridian convergence
        ((-88, -60), (-90, -55), 12.0),
        ((85, 90), (80, 90), 10.0),    # polar cap
        ((80, 90), (75, 90), 5.0),     # 90°N on a tile edge: top row clipped
        ((-90, 90), (-90, 90), 2.0),   # narrow tiles, both poles
    ],
)
def test_tile_cover_equals_brute_force(spark, case):
    """Every (cell, profile) pair within radius meets in exactly one
    tile, and no other pair survives the cutoff: across the dateline
    (cells and points at ±179.9°), at |lat| >= 85° up to the poles
    themselves (the top tile row is clipped), and for cells that sit
    exactly on tile edges."""
    (g_lo, g_hi), (p_lo, p_hi), radius = case
    rng = np.random.default_rng(hash(case) % 2**32)
    width, _, _ = tile_layout(radius)
    # tile-edge cells: a corner of the tile lattice inside the band
    edge_lat = -90.0 + width * math.ceil((g_lo + 90.0) / width)
    edge_lat = min(max(edge_lat, g_lo), g_hi)
    glon = np.r_[rng.uniform(-180, 180, 40), 179.9, -179.9, -180.0 + width, 0.0, 180.0]
    glat = np.r_[rng.uniform(g_lo, g_hi, 40), g_lo, g_hi, edge_lat, edge_lat, g_hi]
    lon = np.r_[rng.uniform(-180, 180, 300), 179.95, -179.95, -180.0 + width, 45.0]
    lat = np.r_[rng.uniform(p_lo, p_hi, 300), p_lo, p_hi, edge_lat, p_hi]
    grid_pdf = pd.DataFrame({"glon": glon, "glat": glat, "cell_id": np.arange(len(glon))})
    pts_pdf = pd.DataFrame({"lon": lon, "lat": lat, "pt_id": np.arange(len(lon))})

    brute = _brute_force(spark, grid_pdf, pts_pdf, radius)
    want = Counter((r.cell_id, r.pt_id) for r in brute.select("cell_id", "pt_id").collect())
    assert want, "the case must hold pairs"
    got = _tile_pairs(spark, grid_pdf, pts_pdf, radius)
    missing, extra = want - got, got - want
    assert not missing, f"tile cover dropped true pairs: {sorted(missing)[:10]}"
    assert not extra, f"tile cover kept extra or doubled pairs: {sorted(extra)[:10]}"


def test_tile_cover_one_cell_support_spans_many_tiles(spark):
    """A one-cell grid near the pole: the profiles within its radius sit
    in at least 4 different tiles (the disc wraps the ring), and every
    one of them is copied to the cell's tile exactly once."""
    radius = 10.0
    grid_pdf = pd.DataFrame({"glon": [0.5], "glat": [85.0], "cell_id": [0]})
    lons = np.arange(-180.0, 180.0, 15.0)
    pts_pdf = pd.DataFrame({
        "lon": np.r_[lons, lons, 0.5],
        "lat": np.r_[np.full(len(lons), 87.0), np.full(len(lons), 89.5), 90.0],
    })
    pts_pdf["pt_id"] = np.arange(len(pts_pdf))

    brute = _brute_force(spark, grid_pdf, pts_pdf, radius)
    want = Counter((r.cell_id, r.pt_id) for r in brute.select("cell_id", "pt_id").collect())
    own = with_tile(spark.createDataFrame(pts_pdf), "lon", "lat", radius)
    support = own.filter(F.col("pt_id").isin([p for _, p in want]))
    assert support.select("tile").distinct().count() >= 4
    assert _tile_pairs(spark, grid_pdf, pts_pdf, radius) == want


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
