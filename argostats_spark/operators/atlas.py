"""Gridded climatology ("atlas") — SURVEY.md §3.3 / M4+M5.

The reference builds lat/lon grids per domain, crops the profile array
to the domain, tiles it with ±3° halos, and computes per-grid-cell
gaussian-weighted means (and EAPE) in a multiprocessing pool
(reference: src/argostats/atlas.py:379-383, 497-526, 93-142, 152-231).

Spark-first re-expression:

- grid table from one spark.range over the cells, lon/lat by div/mod
  (F14, atlas.py:83-90) — no join, no job
- optional land-mask gate as a broadcast join *before* compute
  (P10/X9, atlas.py:266-272)
- the tiles with halos become one tile exchange: each grid cell goes to
  its own tile of at least 4× the kernel radius, each profile to every
  tile its kernel disc can touch, with a halo that widens towards the
  poles instead of the fixed 3° (operators/spatial.py; arithmetic, no
  broadcast, no join). The rows are repartitioned by tile once and
  sorted within partitions, and one mapInArrow call per Arrow batch
  computes every tile in it
- inside a tile, the cells × profiles haversine matrix cut at the
  kernel radius gives the weights, and each level's weighted sums are
  matrix products (A1-A3)
- EAPE (A4) needs only each cell's own mean profile, which the same
  kernel has just computed (rounded through f4, as the stored atlas
  is): TS, R14 and T25 come out of one call, with no means join-back.

Scale note: a profile is shipped once per tile its disc touches, about
(1 + 2r/width)² ≈ 2.25 times (more near the poles, where the halo
wraps the ring), not once per cell within radius as the pair set this
replaced was (k ≈ 50 cells per profile at 2° with smoothing 4, ≈117 at
1°; SCALE.md "Tile-halo atlas").
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.blas import limit_blas_threads
from ..functions.teos10 import compute_cf, eape_unit, rho, sound_speed
from ..schemas import DOMAINS, NLEVELS, pref64
from .spatial import (
    explode_disc_tiles,
    explode_neighbor_bins,
    neighborhood_join,
    with_bins,
    with_tile,
)

# ---------------------------------------------------------------------------
# Grid generation (F14)
# ---------------------------------------------------------------------------


def make_grid(
    spark: SparkSession,
    domain: str | tuple[float, float, float, float],
    reso_deg: float,
) -> DataFrame:
    """Cell-center grid table for a [lon_min, lon_max, lat_min, lat_max]
    domain at ``reso_deg`` (reference get_gridpos, atlas.py:83-90)."""
    if isinstance(domain, str):
        domain = DOMAINS[domain]
    lon_min, lon_max, lat_min, lat_max = domain
    nlon = int(round((lon_max - lon_min) / reso_deg))
    nlat = int(round((lat_max - lat_min) / reso_deg))
    half = reso_deg / 2.0
    # one range over the cells, lon-major: a cross join of two ranges
    # would cost a broadcast job per call
    i_lon, i_lat = F.expr(f"id div {nlat}"), F.col("id") % nlat
    return spark.range(nlon * nlat).select(
        (F.lit(lon_min) + i_lon * reso_deg + half).cast("double").alias("glon"),
        (F.lit(lat_min) + i_lat * reso_deg + half).cast("double").alias("glat"),
    )


def apply_ocean_mask(
    grid: DataFrame,
    mask: DataFrame | None,
    mask_reso_deg: float = 0.1,
) -> DataFrame:
    """P10 land gate: keep ocean cells only, via a broadcast left-semi
    *equi*-join on arithmetic mask-cell indices (J3, the reference's
    nearest-cell lookup re-expressed: bathy/bathy.py:38-50 ``Topo.msk``
    with the idx = (coord - origin)/reso convention of bathy.py:77-78).

    Both sides compute ``lat_idx = floor((lat+90)/reso)``, ``lon_idx =
    floor((lon+180)/reso)`` so Catalyst extracts equi-keys and plans a
    BroadcastHashJoin — O(|grid| + |mask|). A predicate mixing both
    sides in one expression (e.g. round(glon - lon) == 0) has no
    extractable keys and degrades to BroadcastNestedLoopJoin:
    ~6.5e12 comparisons at the reference's 1/10° mask × a 1/4° global
    grid. Plan shape is pinned by tests/test_plans.py.

    mask columns: lat, lon (cell centers), is_ocean — see
    sources/bathy.py.
    """
    if mask is None:
        return grid
    m = mask.filter(F.col("is_ocean") == 1).select(
        F.floor((F.col("lat") + 90.0) / mask_reso_deg).cast("long").alias("lat_idx"),
        F.floor((F.col("lon") + 180.0) / mask_reso_deg).cast("long").alias("lon_idx"),
    )
    g = grid.withColumns(
        {
            "lat_idx": F.floor((F.col("glat") + 90.0) / mask_reso_deg).cast("long"),
            "lon_idx": F.floor((F.col("glon") + 180.0) / mask_reso_deg).cast("long"),
        }
    )
    return g.join(F.broadcast(m), ["lat_idx", "lon_idx"], "left_semi").drop(
        "lat_idx", "lon_idx"
    )


# ---------------------------------------------------------------------------
# The tile kernel: weighted per-level means of CT/SR (A1-A3) and EAPE (A4)
# ---------------------------------------------------------------------------

def _schema(*arrays: str) -> T.StructType:
    return T.StructType([
        T.StructField("glon", T.DoubleType(), False),
        T.StructField("glat", T.DoubleType(), False),
        T.StructField("n_points", T.IntegerType(), False),
        *(T.StructField(a, T.ArrayType(T.FloatType()), False) for a in arrays),
    ])


def _arrays(eape: dict[str, str]) -> tuple[str, ...]:
    """The 64-level array columns of a clim_atlas row, in order."""
    return ("CT", "SR", "W", *(("RHO", *eape) if eape else ()))


def _levels(table, name: str) -> np.ndarray:
    """An Arrow list<float> column of 64-level arrays as an (n, 64) f8
    block."""
    return (
        table.column(name).combine_chunks().flatten().to_numpy(zero_copy_only=False)
        .astype("f8", copy=False).reshape(table.num_rows, NLEVELS)
    )


def _run_starts(table) -> np.ndarray:
    """First row of every tile run of a tile-sorted table."""
    tile = table.column("tile").to_numpy()
    return np.concatenate(([0], np.flatnonzero(tile[1:] != tile[:-1]) + 1))


def _by_tile_runs(rows: DataFrame, kernel, schema: T.StructType) -> DataFrame:
    """One exchange by tile, sorted within partitions — each tile's
    profile rows first (their null glon sorts first), in content order,
    then its cells — and one ``kernel(table, starts)`` call per Arrow
    batch over its complete tile runs. A batch's last run may continue
    in the next batch: it is held back as a list of chunks, concatenated
    once when it closes (O(rows) for any number of batches), and flushed
    after the last batch. The content order fixes each tile's summation
    order, so results do not depend on partitioning, batch cuts or the
    order the shuffle delivers rows in."""
    import pyarrow as pa

    def flush(chunks):
        table = pa.Table.from_batches(chunks)
        return kernel(table, _run_starts(table))

    def key(rb):  # the tile of a batch's first row
        return rb.column("tile")[0].as_py()

    def run(batches):
        limit_blas_threads()
        pending = []
        for rb in batches:
            if rb.num_rows == 0:
                continue
            last = int(_run_starts(rb)[-1])
            if last > 0:
                yield flush(pending + [rb.slice(0, last)])
                pending = []
            elif pending and key(pending[0]) != key(rb):
                yield flush(pending)
                pending = []
            pending.append(rb.slice(last))
        if pending:
            yield flush(pending)

    # pin parallelism for the Python stage (AQE coalescing targets
    # bytes, not UDF CPU — see interpolation.py note)
    n = rows.sparkSession.sparkContext.defaultParallelism
    return (
        rows.repartition(n, "tile")
        .sortWithinPartitions("tile", "glon", "glat", "lat", "lon", "CT", "SR", "IDX")
        .mapInArrow(run, schema)
    )


def _hav(glon, glat, lon, lat) -> np.ndarray:
    """functions.geo.haversine_arg of every (cell, profile) pair as a
    (cells × profiles) matrix, in the same operation order."""
    dphi = np.radians(lat[None, :] - glat[:, None]) / 2.0
    dlam = np.radians(lon[None, :] - glon[:, None]) / 2.0
    return (
        np.sin(dphi) * np.sin(dphi)
        + np.cos(np.radians(glat))[:, None] * np.cos(np.radians(lat))[None, :]
        * np.sin(dlam) * np.sin(dlam)
    )


def _eape_integrand(
    rho_i, sr, ct, rho_bar, ct_bar, sr_bar, pref, unit, algo: str
):
    """eape_i for one (profiles × 64) block: R14 against one cell's mean
    profile, T25 against the global Lorenz profile (the cell arguments
    unused)."""
    if algo == "R14":
        # displacement against the *local* cell-mean profile via
        # isopycnal lookup (atlas.py:184-191)
        cf = compute_cf(rho_bar, sound_speed(sr_bar, ct_bar, pref), pref)
        ref_curve = np.maximum.accumulate(rho_bar * cf)
        disp = np.interp(
            (rho_i * cf[None, :]).ravel(), ref_curve, pref
        ).reshape(rho_i.shape)
        return 0.5 * unit * (rho_i - rho_bar[None, :]) * (disp - pref[None, :])
    if algo == "T25":
        # displacement against the *global* analytic Lorenz profile
        # via gammat bisection (atlas.py:194-231, 300-304)
        from ..functions.lorenz import (
            gammat_analytic,
            lorenz_reference_density,
            pr_from_zref,
        )

        _, zref, _, _ = gammat_analytic(sr.ravel(), ct.ravel())
        disp = pr_from_zref(zref).reshape(rho_i.shape)
        rho_ref_here = lorenz_reference_density(pref)[None, :]
        return 0.5 * unit * (rho_i - rho_ref_here) * (disp - pref[None, :])
    raise ValueError(f"unknown EAPE algo {algo!r} (R14 or T25)")


def _atlas_kernel(theta: float, eape: dict[str, str]):
    """Every tile run of a batch: the cells × profiles haversine matrix,
    cut at the kernel radius (hav <= θ), gives the weights; each level's
    weighted sums are matrix products (A1-A3, atlas.py:93-142); then for
    each requested EAPE column the integrand against the cell's mean
    profile rounded through f4, as the stored atlas is (A4). R14 is per
    (cell, profile) pair; T25 is per profile. Only cells with at least
    one profile in radius come out."""
    import pyarrow as pa

    pref = pref64().astype("f8")
    unit = eape_unit()

    def mean(sums, n_lev):
        return np.divide(sums, n_lev, out=np.zeros_like(n_lev), where=n_lev > 0)

    def one_tile(prof, cells):
        glon, glat = (cells.column(c).to_numpy() for c in ("glon", "glat"))
        hav = _hav(glon, glat, *(prof.column(c).to_numpy() for c in ("lon", "lat")))
        near = hav <= theta
        n_points = near.sum(axis=1)
        keep = np.flatnonzero(n_points)
        if not len(keep):
            return None
        used = np.flatnonzero(near[keep].any(axis=0))
        near = near[np.ix_(keep, used)]
        w = np.where(near, np.exp(-hav[np.ix_(keep, used)] / theta), 0.0)
        idx, ct, sr = (_levels(prof, c)[used] for c in ("IDX", "CT", "SR"))
        # + 0.0: a level whose terms are all −0.0 sums to +0.0
        n_lev = w @ idx + 0.0
        ct_m, sr_m = (mean(w @ (idx * x) + 0.0, n_lev) for x in (ct, sr))
        out = {"glon": glon[keep], "glat": glat[keep], "n_points": n_points[keep],
               "CT": ct_m, "SR": sr_m, "W": n_lev}
        if not eape:
            return out
        ct_bar, sr_bar = (m.astype("f4").astype("f8") for m in (ct_m, sr_m))
        # mean-profile density (atlas.py:316-324) and profile densities
        out["RHO"] = rho_bar = rho(sr_bar, ct_bar, pref[None, :])
        rho_i = rho(sr, ct, pref[None, :])
        for name, algo in eape.items():
            if algo != "R14":
                e = _eape_integrand(rho_i, sr, ct, None, None, None, pref, unit, algo)
                out[name] = mean(w @ (idx * e) + 0.0, n_lev)
                continue
            sums = np.empty_like(n_lev)
            for j in range(len(keep)):
                sel = np.flatnonzero(near[j])
                e = _eape_integrand(
                    rho_i[sel], sr[sel], ct[sel], rho_bar[j], ct_bar[j], sr_bar[j],
                    pref, unit, algo,
                )
                sums[j] = w[j, sel] @ (idx[sel] * e) + 0.0
            out[name] = mean(sums, n_lev)
        return out

    def kernel(table, starts):
        tiles = []
        for a, b in zip(starts, np.append(starts[1:], table.num_rows)):
            run = table.slice(a, b - a)
            n_prof = run.column("glon").null_count
            if 0 < n_prof < run.num_rows:
                tiles.append(one_tile(run.slice(0, n_prof), run.slice(n_prof)))
        tiles = [t for t in tiles if t is not None]
        n = sum(len(t["glon"]) for t in tiles)
        offs = pa.array(np.arange(0, (n + 1) * NLEVELS, NLEVELS, dtype="i4"))

        def column(name):
            v = np.concatenate([t[name] for t in tiles]) if tiles else np.empty(0)
            if name in ("glon", "glat"):
                return pa.array(v.astype("f8"))
            if name == "n_points":
                return pa.array(v.astype("i4"))
            return pa.ListArray.from_arrays(offs, pa.array(v.astype("f4").ravel()))

        return pa.record_batch(
            {f: column(f) for f in ("glon", "glat", "n_points", *_arrays(eape))}
        )

    return kernel


def atlas_points(profiles: DataFrame, delayed_only: bool = True) -> DataFrame:
    """P5 quality gate (reference atlas.py:253; ``delayed_only``
    parameterizes its DATA_MODE test) → the (lon, lat, CT, SR, IDX)
    rows the atlas reads."""
    pred = F.col("FLAG") == 1
    if delayed_only:
        pred = pred & (F.col("DATA_MODE") == 1)
    return profiles.filter(pred).select(
        F.col("LONGITUDE").cast("double").alias("lon"),
        F.col("LATITUDE").cast("double").alias("lat"),
        "CT", "SR", "IDX",
    )


def clim_atlas(
    grid: DataFrame,
    points: DataFrame,
    reso_deg: float,
    smoothing_factor: float = 4.0,
    eape: dict[str, str] | None = None,
) -> DataFrame:
    """The atlas in one tile exchange (reference clim_TS and clim_EAPE,
    atlas.py:427-448, over its tiles with halos, :497-526): each grid
    cell goes to its own tile and each gated point (:func:`atlas_points`)
    to every tile its kernel disc can touch (operators/spatial.py — by
    arithmetic, no broadcast, no join); the tagged rows are
    repartitioned by tile once, and one NumPy call per Arrow batch
    computes every tile in it (:func:`_atlas_kernel`).

    Returns glon, glat, n_points and the weighted-mean CT, SR and their
    weight W per cell with at least one point within radius; with
    ``eape={column: algo}`` also the mean-profile density RHO and one
    EAPE column per entry. algo="R14": isopycnal displacement against
    the local cell-mean profile (Roullet et al. 2014); algo="T25":
    displacement against the global analytic Lorenz profile via the
    gammat bisection (Tailleux & Roullet 2025). Unlike the reference,
    the algo switch can't leave variables unbound (atlas.py:439-448
    defect, SURVEY §2.11); an unknown algo raises in the kernel at run
    time."""
    radius = smoothing_factor * reso_deg
    theta = math.sin(math.radians(radius) / 2.0) ** 2
    eape = dict(eape or {})
    rows = with_tile(grid.select("glon", "glat"), "glon", "glat", radius).unionByName(
        explode_disc_tiles(points.select("lon", "lat", "CT", "SR", "IDX"),
                           "lon", "lat", radius),
        allowMissingColumns=True,
    )
    return _by_tile_runs(rows, _atlas_kernel(theta, eape), _schema(*_arrays(eape)))


def clim_ts(
    grid: DataFrame,
    profiles: DataFrame,
    reso_deg: float,
    smoothing_factor: float = 4.0,
) -> DataFrame:
    """Weighted-mean CT/SR climatology per ocean grid cell (the
    reference's clim_TS, atlas.py:427-437 → proceed_TS_tile:256-279):
    :func:`clim_atlas` without EAPE. clim_ts_exploded is the independent
    reference the tests compare this kernel against."""
    return clim_atlas(grid, atlas_points(profiles), reso_deg, smoothing_factor)


def clim_eape(
    grid: DataFrame,
    profiles: DataFrame,
    reso_deg: float,
    smoothing_factor: float = 4.0,
    algo: str = "R14",
) -> DataFrame:
    """EAPE climatology (A4): glon, glat, n_points, RHO and EAPE of
    :func:`clim_atlas` for one ``algo``. The cell means behind it are
    clim_ts's, rounded through f4 exactly as clim_ts stores them."""
    return clim_atlas(
        grid, atlas_points(profiles), reso_deg, smoothing_factor, eape={"EAPE": algo},
    ).select("glon", "glat", "n_points", "RHO", "EAPE")


def match_pairs(
    grid: DataFrame,
    profiles: DataFrame,
    reso_deg: float,
    smoothing_factor: float = 4.0,
    delayed_only: bool = True,
) -> DataFrame:
    """P5 quality gate + J2 binned neighborhood join → (cell × profile)
    pairs with the exact haversine_arg: the independent pair-set
    reference the tests hold the tile kernel against."""
    return neighborhood_join(
        grid, atlas_points(profiles, delayed_only),
        radius_deg=smoothing_factor * reso_deg,
    )


def clim_ts_exploded(
    grid: DataFrame,
    profiles: DataFrame,
    reso_deg: float,
    smoothing_factor: float = 4.0,
) -> DataFrame:
    """Pure-expression twin of clim_ts, the reference the tests compare
    the tile kernel against (SURVEY §7.3 'benchmark both'): the pair set
    of :func:`match_pairs`, posexploded over the 64 levels, aggregated
    per (cell, level) in whole-stage codegen, and reassembled with
    sort_array(collect_list(...)). No Python workers, but 64× the
    shuffle rows and a broadcast of the exploded grid; it sums in a
    different order, so it matches clim_ts to float tolerance, not
    bitwise."""
    theta = math.sin(math.radians(smoothing_factor * reso_deg) / 2.0) ** 2
    pairs = match_pairs(grid, profiles, reso_deg, smoothing_factor)
    w = F.exp(-F.col("hav") / F.lit(theta))
    ex = pairs.select(
        "glon", "glat", w.alias("w"),
        F.posexplode(F.arrays_zip("CT", "SR", "IDX")).alias("lev", "z"),
    ).select(
        "glon", "glat", "lev",
        (F.col("w") * F.col("z.IDX")).alias("coef"),
        F.col("z.CT").alias("ct"),
        F.col("z.SR").alias("sr"),
    )
    per_level = ex.groupBy("glon", "glat", "lev").agg(
        F.sum("coef").alias("n_lev"),
        F.sum(F.col("coef") * F.col("ct")).alias("s_ct"),
        F.sum(F.col("coef") * F.col("sr")).alias("s_sr"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    guarded = per_level.select(
        "glon", "glat", "lev", "n_lev", "n_rows",
        F.when(F.col("n_lev") > 0, F.col("s_ct") / F.col("n_lev")).otherwise(0.0).alias("ct_m"),
        F.when(F.col("n_lev") > 0, F.col("s_sr") / F.col("n_lev")).otherwise(0.0).alias("sr_m"),
    )
    packed = guarded.groupBy("glon", "glat").agg(
        (F.max("n_rows")).cast("int").alias("n_points"),
        F.sort_array(F.collect_list(F.struct("lev", "ct_m", "sr_m", "n_lev"))).alias("z"),
    )
    return packed.select(
        "glon", "glat", "n_points",
        F.transform("z", lambda s: s["ct_m"].cast("float")).alias("CT"),
        F.transform("z", lambda s: s["sr_m"].cast("float")).alias("SR"),
        F.transform("z", lambda s: s["n_lev"].cast("float")).alias("W"),
    )


def estimate_pair_count(
    grid: DataFrame,
    profiles: DataFrame,
    reso_deg: float,
    smoothing_factor: float = 4.0,
    delayed_only: bool = True,
) -> int:
    """EXACT size of the binned neighborhood join's output before the
    haversine cutoff (an upper bound on the pair set, ~4/π over it for
    uniform density): Σ_bins |exploded grid rows| × |profiles|. One
    union of bin rows tagged by side, coalesced to one partition so the
    per-bin count and the sum over bins run in one stage with no
    exchange: one Spark job, O(profiles + cells) rows of two bin columns
    read by one task; nothing like the join itself runs."""
    radius = smoothing_factor * reso_deg
    bin_deg = max(radius, 1.0)
    pred = F.col("FLAG") == 1
    if delayed_only:
        pred = pred & (F.col("DATA_MODE") == 1)
    bins = ["lon_bin", "lat_bin"]
    g = explode_neighbor_bins(grid, "glon", "glat", radius, bin_deg).select(
        *bins, F.lit(1).alias("n_g"), F.lit(0).alias("n_p")
    )
    p = with_bins(profiles.filter(pred), "LONGITUDE", "LATITUDE", bin_deg).select(
        *bins, F.lit(0).alias("n_g"), F.lit(1).alias("n_p")
    )
    row = (
        g.unionByName(p).coalesce(1).groupBy(*bins)
        .agg((F.sum("n_g") * F.sum("n_p")).alias("pairs"))
        .agg(F.sum("pairs").alias("pairs"))
        .first()
    )
    return int(row["pairs"] or 0)


def choose_clim_ts_variant(
    grid: DataFrame,
    profiles: DataFrame,
    reso_deg: float,
    smoothing_factor: float = 4.0,
) -> str:
    """'kernel', without running a job. The tile kernel ships each
    profile about (1 + 2r/width)² ≈ 2.25 times whatever the grid, so
    there is no pair shuffle left to budget and route away from
    (SCALE.md "Tile-halo atlas"). Kept for callers that name it."""
    return "kernel"


def clim_ts_auto(
    grid: DataFrame,
    profiles: DataFrame,
    reso_deg: float,
    smoothing_factor: float = 4.0,
    variant: str | None = None,
) -> DataFrame:
    """clim_ts, or clim_ts_exploded where ``variant="exploded"`` forces
    it; runs no job of its own."""
    fns = {None: clim_ts, "kernel": clim_ts, "exploded": clim_ts_exploded}
    if variant not in fns:
        raise ValueError(f"unknown clim_ts variant: {variant!r}")
    return fns[variant](grid, profiles, reso_deg, smoothing_factor)


# per-variable units, matching the reference's UNITS table
# (atlas.py:39-46; plain text rather than TeX markup)
ATLAS_UNITS = {
    "CT": "degC",
    "SR": "g kg-1",
    "RHO": "kg m-3",
    "EAPE": "cm2 s-2",
    "W": "1",
    "lat": "degrees_north",
    "lon": "degrees_east",
    "pres": "dbar",
}


def export_atlas_netcdf(
    atlas_df: DataFrame, path: str, global_attrs: dict | None = None
) -> None:
    """NetCDF atlas export (S9, reference atlas.py:576-635): the gridded
    result is small (cells × 64 floats) so a driver-side assemble is
    appropriate — the primary sink stays Parquet. Written as NetCDF-3
    classic via the dependency-free codec (sources/netcdf3.py, public
    CDF-1 format); netCDF4/xarray read these files natively, so the
    export is REAL in this container, not an env-gated stub.

    Per-variable ``units`` and the global provenance attributes ride in
    the header like the reference's write_atlas_to_netcdf (atlas.py:
    576-607); pass e.g. ``{"latest_profile": str(max_juld)}`` to stamp
    the A10 freshness metadata the reference derives from the AOS."""
    from ..sources.netcdf3 import write_netcdf3

    pdf = atlas_df.orderBy("glat", "glon").toPandas()

    lats = np.sort(pdf.glat.unique())
    lons = np.sort(pdf.glon.unique())
    li = {v: i for i, v in enumerate(lats)}
    lo = {v: i for i, v in enumerate(lons)}
    ix = pdf.glat.map(li).to_numpy()
    jx = pdf.glon.map(lo).to_numpy()
    dims = {"lat": len(lats), "lon": len(lons), "pres": NLEVELS}
    variables: dict = {
        "lat": (("lat",), lats.astype("f4")),
        "lon": (("lon",), lons.astype("f4")),
        "pres": (("pres",), pref64().astype("f4")),
    }
    if "n_points" in pdf.columns:
        npts = np.zeros((len(lats), len(lons)), "i4")
        npts[ix, jx] = pdf.n_points.to_numpy().astype("i4")
        variables["n_points"] = (("lat", "lon"), npts)
    for var in ("CT", "SR", "W", "RHO", "EAPE"):
        if var in pdf.columns:
            grid = np.full((len(lats), len(lons), NLEVELS), np.nan, "f4")
            grid[ix, jx, :] = np.stack(pdf[var].to_numpy()).astype("f4")
            variables[var] = (("lat", "lon", "pres"), grid)
    gattrs = {"name": "Atlas of Argo statistics", **(global_attrs or {})}
    vattrs = {v: {"units": ATLAS_UNITS[v]} for v in variables if v in ATLAS_UNITS}
    write_netcdf3(path, dims, variables, global_attrs=gattrs, var_attrs=vattrs)
