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
- the tile/halo machinery becomes the binned neighborhood join
  (operators/spatial.py) — one equi-join shuffle, no tiles to assemble
- the weighted per-level mean (A1-A3) runs once per Arrow batch, not
  once per cell: the pairs are repartitioned by cell and sorted within
  partitions, and one mapInArrow call sums every cell run of the batch
  with np.add.reduceat over the (pairs × 64 levels) block
- EAPE (A4, R14 algorithm) needs only the cell's own mean profile, and
  the cell's pair run already holds everything that mean needs: the
  same batch kernel computes the means (rounded through f4, as the
  stored atlas is) and then the EAPE against them — one pair exchange,
  no second pass, no means join-back.

Scale note: a profile within kernel radius of k cells appears k times
in the pair set — that amplification is inherent to the kernel support
(the reference pays it as per-tile AOS copies, atlas.py:503-514). The
pair set is the one thing worth caching between the TS and EAPE calls
(SURVEY §7.4.2).
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
from .spatial import explode_neighbor_bins, neighborhood_join, with_bins

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
# Pass 1: weighted per-level means of CT/SR (A1-A3)
# ---------------------------------------------------------------------------

_TS_SCHEMA = T.StructType([
    T.StructField("glon", T.DoubleType(), False),
    T.StructField("glat", T.DoubleType(), False),
    T.StructField("n_points", T.IntegerType(), False),
    T.StructField("CT", T.ArrayType(T.FloatType()), False),
    T.StructField("SR", T.ArrayType(T.FloatType()), False),
    T.StructField("W", T.ArrayType(T.FloatType()), False),
])


def _levels(table, name: str) -> np.ndarray:
    """An Arrow list<float> column of 64-level arrays as an (n, 64) f8
    block."""
    arr = table.column(name)
    if hasattr(arr, "combine_chunks"):
        arr = arr.combine_chunks()
    return (
        arr.flatten().to_numpy(zero_copy_only=False)
        .astype("f8", copy=False).reshape(table.num_rows, NLEVELS)
    )


def _run_starts(table) -> np.ndarray:
    """First row of every (glon, glat) run of a cell-sorted table."""
    glon, glat = (table.column(c).to_numpy() for c in ("glon", "glat"))
    change = (glon[1:] != glon[:-1]) | (glat[1:] != glat[:-1])
    return np.concatenate(([0], np.flatnonzero(change) + 1))


def _run_sums(x: np.ndarray, starts: np.ndarray) -> np.ndarray:
    # + 0.0: an all −0.0 run sums to +0.0, as ndarray.sum (from 0) does
    return np.add.reduceat(x, starts, axis=0) + 0.0


def _run_weights(table, starts: np.ndarray, theta: float):
    """Kernel coefficients w·IDX per (pair, level) and their per-level
    sums per cell run."""
    hav = table.column("hav").to_numpy().astype("f8")
    coef = np.exp(-hav / theta)[:, None] * _levels(table, "IDX")
    return coef, _run_sums(coef, starts)


def _run_means(coef, n_lev, starts: np.ndarray, *blocks: np.ndarray):
    """Per-run, per-level weighted means Σ(coef·x)/Σcoef of (n, 64)
    blocks, 0 on levels with no weight — the one f8 formula both cell
    kernels use (A1-A3, atlas.py:93-142)."""
    return [
        np.divide(_run_sums(coef * x, starts), n_lev,
                  out=np.zeros_like(n_lev), where=n_lev > 0)
        for x in blocks
    ]


def _by_cell_runs(pairs: DataFrame, kernel, schema: T.StructType) -> DataFrame:
    """One exchange by cell, sorted within partitions, then one
    ``kernel(table, starts)`` call per Arrow batch over its complete cell
    runs. A batch's last run may continue in the next batch: it is held
    back as a list of chunks, concatenated once when it closes (O(rows)
    for any number of batches), and flushed after the last batch."""
    import pyarrow as pa

    def flush(chunks):
        table = pa.Table.from_batches(chunks)
        return kernel(table, _run_starts(table))

    def key(rb):  # the cell of a batch's first row
        return rb.column("glon")[0].as_py(), rb.column("glat")[0].as_py()

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
    n = pairs.sparkSession.sparkContext.defaultParallelism
    return (
        pairs.repartition(n, "glon", "glat").sortWithinPartitions("glon", "glat")
        .mapInArrow(run, schema)
    )


def _cell_rows(table, starts: np.ndarray, **arrays: np.ndarray):
    """The output batch of a cell kernel: one row per run — key, pair
    count and its 64-level arrays stored as f4."""
    import pyarrow as pa

    offs = pa.array(np.arange(0, (len(starts) + 1) * NLEVELS, NLEVELS, dtype="i4"))
    return pa.record_batch({
        **{c: pa.array(table.column(c).to_numpy()[starts]) for c in ("glon", "glat")},
        "n_points": pa.array(np.diff(starts, append=table.num_rows).astype("i4")),
        **{k: pa.ListArray.from_arrays(offs, pa.array(v.astype("f4").ravel()))
           for k, v in arrays.items()},
    })


def _ts_kernel(theta: float):
    """Weighted means of CT/SR over each cell's pair run."""

    def kernel(table, starts):
        coef, n_lev = _run_weights(table, starts, theta)
        ct_m, sr_m = _run_means(
            coef, n_lev, starts, _levels(table, "CT"), _levels(table, "SR")
        )
        return _cell_rows(table, starts, CT=ct_m, SR=sr_m, W=n_lev)

    return kernel


def match_pairs(
    grid: DataFrame,
    profiles: DataFrame,
    reso_deg: float,
    smoothing_factor: float = 4.0,
    delayed_only: bool = True,
) -> DataFrame:
    """P5 quality gate + J2 neighborhood join → (cell × profile) pairs
    with the exact haversine_arg. The pair set feeds both TS and EAPE
    passes — cache it when computing both."""
    pred = F.col("FLAG") == 1
    if delayed_only:
        pred = pred & (F.col("DATA_MODE") == 1)  # reference atlas.py:253 (P5, parameterized here)
    pts = profiles.filter(pred).select(
        F.col("LONGITUDE").cast("double").alias("lon"),
        F.col("LATITUDE").cast("double").alias("lat"),
        "CT", "SR", "IDX",
    )
    return neighborhood_join(
        grid, pts, radius_deg=smoothing_factor * reso_deg,
    )


def clim_ts(
    grid: DataFrame,
    profiles: DataFrame,
    reso_deg: float,
    smoothing_factor: float = 4.0,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Weighted-mean CT/SR climatology per ocean grid cell (the
    reference's clim_TS, atlas.py:427-437 → proceed_TS_tile:256-279):
    the pair set is repartitioned by cell once, sorted within
    partitions, and one NumPy call per Arrow batch computes every cell
    run in it (mapInArrow, :func:`_by_cell_runs`) — not one Python call
    per cell. clim_ts_exploded is the independent reference the tests
    compare this kernel against."""
    theta = math.sin(math.radians(smoothing_factor * reso_deg) / 2.0) ** 2
    if pairs is None:
        pairs = match_pairs(grid, profiles, reso_deg, smoothing_factor)
    # ship only what the kernel reads (round 14): the join's lon/lat
    # (16 B/pair) would otherwise cross the exchange AND the Arrow
    # boundary on every pair row
    return _by_cell_runs(
        pairs.select("glon", "glat", "hav", "CT", "SR", "IDX"),
        _ts_kernel(theta), _TS_SCHEMA,
    )


def clim_ts_exploded(
    grid: DataFrame,
    profiles: DataFrame,
    reso_deg: float,
    smoothing_factor: float = 4.0,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Pure-expression alternative to clim_ts (SURVEY §7.3 'benchmark
    both'): posexplode the 64-level arrays, aggregate per (cell, level)
    entirely in whole-stage codegen, reassemble arrays with
    sort_array(collect_list(...)).

    Tradeoff vs the Arrow cell-run kernel (clim_ts): 64× the shuffle rows
    but no Python workers and true partial aggregation (map-side
    combine shrinks the exchange to |cells|×64 rows regardless of pair
    count).

    ATLAS_BENCH (scripts/bench_atlas.py, local[32], 454k pairs / 400
    cells): a pandas group kernel 2.2s vs exploded 3.9s warm — the
    batched NumPy matrix kernel wins at regional scale (the Arrow
    kernel by more, SCALE.md), so it is the default (clim_ts). The
    exploded form bounds its EXCHANGE by map_tasks ×
    |cells| × 64 partial-agg rows independent of pair count, where the
    kernel variant shuffles the full pair set with arrays attached
    (~850 B/pair). Measured at sf1-equivalent (3M profiles, 352M pairs,
    1° global, polar skew — scripts/bench_atlas_scale.py, SCALE.md):
    exploded completes in 361 s on one node; the kernel variant's
    ~150 GB pair shuffle exceeds local disk (ENOSPC at ≥1.5M profiles).
    Prefer exploded for global fine grids, extreme fan-in/skew, or
    disk-constrained shuffle."""
    theta = math.sin(math.radians(smoothing_factor * reso_deg) / 2.0) ** 2
    if pairs is None:
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


# measured pair-shuffle cost of the kernel variant (clim_ts):
# ~850 bytes per (cell, profile) pair with the 64-level arrays attached
# (SCALE.md)
PAIR_SHUFFLE_BYTES = 850


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
    max_pair_shuffle_gb: float = 24.0,
) -> str:
    """The routing decision of clim_ts_auto, separately callable (and
    separately testable): 'kernel' while the estimated pair shuffle fits
    the budget, else 'exploded'."""
    est = estimate_pair_count(grid, profiles, reso_deg, smoothing_factor)
    return (
        "kernel" if est * PAIR_SHUFFLE_BYTES <= max_pair_shuffle_gb * 1e9 else "exploded"
    )


def clim_ts_auto(
    grid: DataFrame,
    profiles: DataFrame,
    reso_deg: float,
    smoothing_factor: float = 4.0,
    max_pair_shuffle_gb: float = 24.0,
    variant: str | None = None,
) -> DataFrame:
    """A3 with automatic physical-variant selection (the SCALE.md
    crossover, previously a caller choice): estimate the pair-set
    shuffle of the clim_ts kernel; if it fits the budget the
    Arrow+NumPy kernel wins (measured 2.6-2.9×), otherwise route to the
    exploded expression aggregate whose exchange is pair-count-
    independent (map-side combine to |cells|×64 rows) — a global polar-
    skewed fine grid at 3M profiles is 352M pairs ≈ 300 GB of kernel
    shuffle, which ENOSPCed a single node but streams through the
    exploded variant in 361 s (SCALE.md). ``variant`` forces
    'kernel'/'exploded' explicitly."""
    if variant is None:
        variant = choose_clim_ts_variant(
            grid, profiles, reso_deg, smoothing_factor, max_pair_shuffle_gb
        )
    if variant not in ("kernel", "exploded"):
        raise ValueError(f"unknown clim_ts variant: {variant!r}")
    fn = clim_ts if variant == "kernel" else clim_ts_exploded
    return fn(grid, profiles, reso_deg, smoothing_factor)


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


# ---------------------------------------------------------------------------
# EAPE, R14 and T25 algorithms (A4; atlas.py:152-231, 281-304)
# ---------------------------------------------------------------------------

_EAPE_SCHEMA = T.StructType([
    T.StructField("glon", T.DoubleType(), False),
    T.StructField("glat", T.DoubleType(), False),
    T.StructField("n_points", T.IntegerType(), False),
    T.StructField("RHO", T.ArrayType(T.FloatType()), False),
    T.StructField("EAPE", T.ArrayType(T.FloatType()), False),
])


def _eape_integrand(
    rho_i, sr, ct, rho_bar, ct_bar, sr_bar, pref, unit, algo: str
):
    """eape_i for one (rows × 64) block — shared by the cell kernel
    (per-pair payload) and the per-profile T25 feature pass, so both
    paths run the SAME elementwise f8 arithmetic."""
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


def _eape_kernel(theta: float, algo: str = "R14", feat: str | None = None):
    """EAPE of each cell's pair run: the cell's weighted-mean profile
    (clim_ts's formula, rounded through f4 as the stored atlas is), then
    the per-pair integrand against it and its weighted mean.
    ``feat="EI"`` reads the per-profile T25 integrand from the payload
    (see _eape_profile_features); feat=None computes eape_i here from
    the pair's CT/SR, one run at a time against that cell's curve."""
    pref = pref64().astype("f8")
    unit = eape_unit()

    def kernel(table, starts):
        coef, n_lev = _run_weights(table, starts, theta)
        ct, sr = _levels(table, "CT"), _levels(table, "SR")
        ct_bar, sr_bar = (m.astype("f4").astype("f8")
                          for m in _run_means(coef, n_lev, starts, ct, sr))
        # mean-profile density + compressibility factor (atlas.py:316-324)
        rho_bar = np.stack([rho(s, c, pref) for s, c in zip(sr_bar, ct_bar)])
        if feat == "EI":
            eape_i = _levels(table, "EI")
        else:
            eape_i = np.empty_like(ct)
            ends = np.append(starts[1:], table.num_rows)
            for j, (a, b) in enumerate(zip(starts, ends)):
                eape_i[a:b] = _eape_integrand(
                    rho(sr[a:b], ct[a:b], pref[None, :]), sr[a:b], ct[a:b],
                    rho_bar[j], ct_bar[j], sr_bar[j], pref, unit, algo,
                )
        (eape_m,) = _run_means(coef, n_lev, starts, eape_i)
        return _cell_rows(table, starts, RHO=rho_bar, EAPE=eape_m)

    return kernel


def _eape_profile_features(pts: DataFrame) -> DataFrame:
    """The T25 integrand, computed ONCE per PROFILE instead of once per
    (cell × profile) pair (round 14, guide §1.2 "the distributed
    algorithm first").

    A profile within kernel radius of k cells appears k times in the
    pair set (k ≈ 12-20 at the bench grids, and it grows with the
    kernel radius). T25 displaces against the global Lorenz profile, so
    its whole integrand ``EI`` = 0.5·unit·(ρᵢ − ρref)·(disp − pref) —
    the 75-term TEOS-10 density plus the 30-iteration gammat bisection
    (30 more 75-term evaluations) — depends only on the profile's own
    (SR, CT), and evaluating it in the cell kernel would re-pay it k
    times. R14 displaces against the cell mean, so it has no such
    cell-independent integrand.

    Values are elementwise f8, identical arithmetic to the in-kernel
    path (shared :func:`_eape_integrand`). CT/SR pass through: the cell
    kernel still needs them for the cell-mean profile."""
    import pyarrow as pa

    pref = pref64().astype("f8")
    unit = eape_unit()
    keep = ("lon", "lat", "CT", "SR", "IDX")
    schema = T.StructType([
        *(pts.schema[c] for c in keep),
        T.StructField("EI", T.ArrayType(T.DoubleType())),
    ])

    def gen(batches):
        limit_blas_threads()
        for tb in batches:  # RecordBatch per mapInArrow contract
            n = tb.num_rows
            if n == 0:
                continue
            sr, ct = _levels(tb, "SR"), _levels(tb, "CT")
            # rho_bar/ct_bar/sr_bar unused by the T25 branch
            ei = _eape_integrand(
                rho(sr, ct, pref[None, :]), sr, ct, None, None, None,
                pref, unit, "T25",
            )
            offs = pa.array(np.arange(0, (n + 1) * NLEVELS, NLEVELS, dtype="i4"))
            yield pa.record_batch({
                **{c: tb.column(c) for c in keep},
                "EI": pa.ListArray.from_arrays(offs, pa.array(ei.ravel())),
            })

    return pts.mapInArrow(gen, schema)


def clim_eape(
    grid: DataFrame,
    profiles: DataFrame,
    reso_deg: float,
    smoothing_factor: float = 4.0,
    pairs: DataFrame | None = None,
    algo: str = "R14",
) -> DataFrame:
    """EAPE climatology in one pass: the pair set is repartitioned by
    cell once and sorted within partitions, and one kernel call per
    Arrow batch computes, for every cell run in it, the cell's
    weighted-mean profile and then the EAPE against it (A4). The means
    are rounded through f4 exactly as clim_ts stores them, so the
    output equals the two-pass composition (clim_ts means, then the
    per-pair integrand) bit for bit (pinned by test).

    algo="R14": isopycnal displacement against the local cell-mean
    profile (Roullet et al. 2014). algo="T25": displacement against the
    global analytic Lorenz profile via the gammat bisection (Tailleux &
    Roullet 2025). Same dataflow, different integrand — unlike the
    reference, the algo switch can't leave variables unbound
    (atlas.py:439-448 defect, SURVEY §2.11); an unknown algo raises in
    the kernel at run time.

    T25 with the pair set built HERE (``pairs=None``): the whole
    integrand is cell-independent, so it moves out of the cell kernel
    into one per-PROFILE Arrow pass (:func:`_eape_profile_features`),
    gated by a bin-cover semi-join so only profiles that can reach the
    grid pay it. R14 keeps the per-pair payload (its cell-independent
    part is one density evaluation; measured in round 14, the extra
    Python pass costs more than the k-fold dedup saves). A
    caller-supplied ``pairs`` (the cached pair set argo_atlas_pipeline
    shares between its TS and EAPE calls) always ships the per-pair
    payload — identical results on every path (pinned)."""
    theta = math.sin(math.radians(smoothing_factor * reso_deg) / 2.0) ** 2
    cols = ["glon", "glat", "hav", "CT", "SR", "IDX"]
    feat = None
    if pairs is None and algo == "T25":
        radius = smoothing_factor * reso_deg
        pred = (F.col("FLAG") == 1) & (F.col("DATA_MODE") == 1)
        pts = profiles.filter(pred).select(
            F.col("LONGITUDE").cast("double").alias("lon"),
            F.col("LATITUDE").cast("double").alias("lat"),
            "CT", "SR", "IDX",
        )
        # bin-cover semi-join BEFORE the feature pass: on a regional
        # grid most profiles can't reach any cell, and the bisection
        # must not run for them (on a global grid every bin is
        # covered and this is one cheap broadcast semi-join). Same
        # bin geometry as the neighborhood join ⇒ provably a superset
        # of the join's point side.
        bin_deg = max(radius, 1.0)
        gbins = (
            explode_neighbor_bins(grid, "glon", "glat", radius, bin_deg)
            .select("lon_bin", "lat_bin").distinct()
        )
        pts = with_bins(pts, "lon", "lat", bin_deg).join(
            F.broadcast(gbins), ["lon_bin", "lat_bin"], "left_semi"
        ).drop("lon_bin", "lat_bin")
        pairs = neighborhood_join(grid, _eape_profile_features(pts), radius_deg=radius)
        feat = "EI"
        cols.append(feat)
    elif pairs is None:
        pairs = match_pairs(grid, profiles, reso_deg, smoothing_factor)
    # ship only what the kernel reads (see clim_ts)
    return _by_cell_runs(
        pairs.select(*cols), _eape_kernel(theta, algo, feat), _EAPE_SCHEMA
    )
