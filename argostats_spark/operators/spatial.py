"""Binned neighborhood join — the engine's spatial θ-join (SURVEY.md §2.3 J2).

The reference matches every output grid cell to all profiles within a
kernel cutoff radius by brute-force haversine against a tile-cropped
profile array, with a hard-coded 3° halo (reference: src/argostats/
atlas.py:99-113 select_data, 327-338 setup_tile, 502 width=3). That
halo is a correctness bug waiting to happen at high latitude (a fixed
lon halo under-covers where meridians converge) and the tile machinery
is single-node scheduling.

Here the same join is expressed scale-first:

1. Both sides get integer (lon_bin, lat_bin) cells of width >= the
   kernel cutoff radius (in arc degrees).
2. The *grid* side (small) explodes to its neighbor bins — ±1 bin in
   latitude, and in longitude an adaptive ±k(lat) where
   k = ceil(radius / (bin_deg · cos(|lat|+radius))), capped at half the
   ring — so meridian convergence near the poles is covered *exactly*,
   with longitude wraparound via modular bin arithmetic.
3. Equi-join on the bin pair (hash join; Spark broadcasts the exploded
   grid side when small), then the exact haversine cutoff filter.

Equivalence to the brute-force cross join is property-tested
(tests/test_spatial.py): the bin cover provably contains the kernel
support, and the exact filter removes the rest. At 100 TB the equi-join
on bins is the shuffle; the cross join it replaces is O(cells×rows).

The atlas does not build that pair set: it uses the reference's tiles
with halos, made exact — :func:`with_tile` puts each grid cell in its
own tile, :func:`explode_disc_tiles` copies each point to every tile
its radius disc can touch (the same adaptive halo, on the point side),
and the atlas kernel meets them per tile (operators/atlas.py). The
tile cover is property-tested against the same brute force.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.geo import haversine_arg


def with_bins(
    df: DataFrame, lon_col: str, lat_col: str, bin_deg: float,
    lon_bin: str = "lon_bin", lat_bin: str = "lat_bin",
) -> DataFrame:
    """Attach integer bin-cell coordinates. Longitude bins live on a
    modular ring of ``360/bin_deg`` bins; latitude bins are clipped to
    the top bin ``ceil(180/bin_deg) - 1``, so a point at exactly 90°N
    falls in it rather than in a bin past the pole."""
    nlon = int(round(360.0 / bin_deg))
    return df.withColumn(
        lon_bin,
        F.pmod(F.floor((F.col(lon_col) + F.lit(180.0)) / F.lit(bin_deg)).cast("int"), F.lit(nlon)),
    ).withColumn(
        lat_bin,
        F.least(
            F.floor((F.col(lat_col) + F.lit(90.0)) / F.lit(bin_deg)).cast("int"),
            F.lit(_top_lat_bin(bin_deg)),
        ),
    )


def _top_lat_bin(bin_deg: float) -> int:
    return int(math.ceil(180.0 / bin_deg)) - 1


def explode_neighbor_bins(
    grid: DataFrame, lon_col: str, lat_col: str, radius_deg: float, bin_deg: float,
) -> DataFrame:
    """Explode each grid row to every bin cell that can contain a point
    within ``radius_deg`` of arc — the scalable replacement for the
    reference's fixed 3° tile halo (atlas.py:502).

    Latitude: ±ceil(radius/bin) bins, cut to the bins a point can
    occupy (0 .. ceil(180/bin)-1, see with_bins). Longitude: adaptive
    per row — the longitude span of a ``radius_deg`` arc at latitude φ
    grows as 1/cos(|φ|+radius); near the poles the cap (half the ring)
    degrades gracefully to a full-ring scan of that latitude band only.
    """
    nlon = int(round(360.0 / bin_deg))
    klat = int(math.ceil(radius_deg / bin_deg))
    half_ring = nlon // 2 + 1

    g = with_bins(grid, lon_col, lat_col, bin_deg, "g_lon_bin", "g_lat_bin")

    # widest |lat| reachable by a point within radius of this cell
    reach = F.least(F.abs(F.col(lat_col)) + F.lit(radius_deg), F.lit(89.9))
    lon_span = F.lit(radius_deg) / F.cos(F.radians(reach))  # degrees of lon
    klon = F.least(
        F.ceil(lon_span / F.lit(bin_deg)).cast("int"), F.lit(half_ring)
    )

    # offsets -klon..klon, cut to one lap of the ring: where 2·klon+1
    # exceeds nlon a wider run would emit some (cell, bin) rows twice
    # and double-weight their points
    g = (
        g.withColumn("_klon", klon)
        .withColumn("lat_bin", F.explode(F.sequence(
            F.col("g_lat_bin") - F.lit(klat), F.col("g_lat_bin") + F.lit(klat)
        )))
        .filter(F.col("lat_bin").between(0, _top_lat_bin(bin_deg)))
        .withColumn("_dlon", F.explode(F.sequence(
            -F.col("_klon"), F.least(F.col("_klon"), F.lit(nlon - 1) - F.col("_klon"))
        )))
    )
    return (
        g.withColumn("lon_bin", F.pmod(F.col("g_lon_bin") + F.col("_dlon"), F.lit(nlon)))
        .drop("g_lon_bin", "g_lat_bin", "_dlon", "_klon")
    )


def tile_layout(radius_deg: float) -> tuple[float, int, int]:
    """Square tiles of at least 4·radius degrees whose width divides the
    360° ring: (width, tiles around a latitude ring, tile rows from pole
    to pole). A disc of that radius spans at most two tile rows and, off
    the poles, about two tile columns: (1 + 2r/width)² ≈ 2.25 copies per
    profile."""
    n_lon = max(1, int(360.0 // (4.0 * radius_deg)))
    width = 360.0 / n_lon
    return width, n_lon, int(math.ceil(180.0 / width))


def with_tile(df: DataFrame, lon_col: str, lat_col: str, radius_deg: float) -> DataFrame:
    """Attach the ``tile`` a position lies in (the with_bins arithmetic
    at tile width: modular longitude, top row clipped at 90°N)."""
    width, n_lon, _ = tile_layout(radius_deg)
    return with_bins(df, lon_col, lat_col, width, "_tcol", "_trow").withColumn(
        "tile", F.col("_trow") * n_lon + F.col("_tcol")
    ).drop("_tcol", "_trow")


def explode_disc_tiles(
    df: DataFrame, lon_col: str, lat_col: str, radius_deg: float,
) -> DataFrame:
    """One row per tile that a point's radius disc can touch, by
    arithmetic alone: the tile rows of [lat−r, lat+r] (cut to the
    globe) × the tile columns of [lon−s, lon+s] with
    explode_neighbor_bins' adaptive halo s = r/cos(|lat|+r), the whole
    ring where the disc reaches a pole, and modular wraparound. Every
    position within ``radius_deg`` of arc of the point lies in one of
    them (the longitude offset of such a position is at most
    asin(sin r / cos lat) ≤ s); a tiny pad keeps rounding at a tile edge
    from losing a row."""
    width, n_lon, n_lat = tile_layout(radius_deg)
    pad = 1e-9 * max(radius_deg, 1.0)
    r = radius_deg + pad
    lat, lon = F.col(lat_col), F.col(lon_col)
    reach = F.abs(lat) + F.lit(r)

    def row(x, off):  # tile row of latitude x + off, on the globe
        t = F.floor((x + F.lit(off + 90.0)) / width).cast("int")
        return F.greatest(F.least(t, F.lit(n_lat - 1)), F.lit(0))

    def col(x):  # unwrapped tile column of longitude x
        return F.floor((x + F.lit(180.0)) / width).cast("int")

    span = F.col("_span")
    west = col(lon - span)
    # at most one lap of the ring: a wider run would emit a tile twice
    east = F.least(col(lon + span), west + F.lit(n_lon - 1))
    return (
        df.withColumn("_span", F.when(
            reach < 90.0, F.lit(r) / F.cos(F.radians(reach))
        ).otherwise(360.0))
        .withColumn("_trow", F.explode(F.sequence(row(lat, -r), row(lat, r))))
        .withColumn("_tcol", F.explode(F.sequence(west, east)))
        .withColumn("tile", F.col("_trow") * n_lon + F.pmod(F.col("_tcol"), F.lit(n_lon)))
        .drop("_span", "_trow", "_tcol")
    )


def neighborhood_join(
    grid: DataFrame,
    points: DataFrame,
    radius_deg: float,
    bin_deg: float | None = None,
    grid_lon: str = "glon",
    grid_lat: str = "glat",
    point_lon: str = "lon",
    point_lat: str = "lat",
    broadcast_grid: bool = True,
) -> DataFrame:
    """grid ⋈_{dist<=radius} points, returning all grid and point columns
    plus ``hav`` (the haversine_arg of the pair).

    The exact predicate is on haversine_arg (monotone in distance):
    hav <= sin²(radians(radius)/2), matching the reference's cutoff form
    (atlas.py:311-313).
    """
    if bin_deg is None:
        bin_deg = max(radius_deg, 1.0)
    assert bin_deg >= radius_deg, "bin width must cover the kernel radius"

    cutoff = math.sin(math.radians(radius_deg) / 2.0) ** 2

    g = explode_neighbor_bins(grid, grid_lon, grid_lat, radius_deg, bin_deg)
    p = with_bins(points, point_lon, point_lat, bin_deg)
    if broadcast_grid:
        g = F.broadcast(g)

    hav = haversine_arg(grid_lon, grid_lat, point_lon, point_lat)
    return (
        g.join(p, on=["lon_bin", "lat_bin"])
        .withColumn("hav", hav)
        .filter(F.col("hav") <= F.lit(cutoff))
        .drop("lon_bin", "lat_bin")
    )


def kernel_weighted_mean(
    grid: DataFrame,
    points: DataFrame,
    value_cols: list[str],
    reso_deg: float,
    smoothing_factor: float = 4.0,
    grid_lon: str = "glon",
    grid_lat: str = "glat",
    point_lon: str = "lon",
    point_lat: str = "lat",
) -> DataFrame:
    """Gaussian-kernel-weighted mean of scalar columns per grid cell —
    the scalar-column form of the reference's climatology core
    (atlas.py:93-142: N=Σcoef, mean=Σ(x·coef)/N).

    Weight: w = exp(-hav/θ), θ = sin²(radians(sf·reso)/2); support
    cutoff at hav <= θ (w >= e⁻¹), the reference's dist_threshold form.

    Deliberate divergence: the reference's coef is exp(-dist)
    *unnormalized* (atlas.py:108) — with dist <= dcritical << 1 that is
    nearly uniform, so its kernel barely discriminates by distance. The
    θ-normalization here restores the intended falloff; the DuckDB
    oracle (clim_kernel_grid) brute-forces this same formula.
    """
    radius = smoothing_factor * reso_deg
    theta = math.sin(math.radians(radius) / 2.0) ** 2

    pairs = neighborhood_join(
        grid, points, radius_deg=radius,
        grid_lon=grid_lon, grid_lat=grid_lat,
        point_lon=point_lon, point_lat=point_lat,
    )
    w = F.exp(-F.col("hav") / F.lit(theta))
    aggs: list[Column] = [F.sum(w).alias("sum_w"), F.count(F.lit(1)).alias("n_points")]
    for c in value_cols:
        aggs.append(
            (F.sum(w * F.col(c)) / F.sum(w)).alias(f"mean_{c}")
        )
    return pairs.groupBy(grid_lon, grid_lat).agg(*aggs)
