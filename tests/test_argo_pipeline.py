"""End-to-end Argo pipeline tests: synthetic raw → summary →
interpolated profiles → atlas (SURVEY.md §5 strategy items 1 and 3),
with the golden scenarios from FIXTURES.md §5 and the reference's
validity-gate semantics pinned.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from argostats_spark.operators.atlas import clim_eape, clim_ts, make_grid, match_pairs
from argostats_spark.operators.interpolation import interpolate_profiles, write_profiles
from argostats_spark.operators.summary import build_summary, summary_stats
from argostats_spark.schemas import NLEVELS, PROFILES_SCHEMA, pref64
from argostats_spark.sources.synthetic import make_raw


@pytest.fixture(scope="module")
def raw(spark):
    return make_raw(spark, n_wmos=8, profiles_per_wmo=12).cache()


@pytest.fixture(scope="module")
def profiles(spark, raw):
    return interpolate_profiles(raw).cache()


# ---------------------------------------------------------------------------
# Summary (M1)
# ---------------------------------------------------------------------------


def test_make_raw_distributed_matches_pandas_twin(spark):
    """make_raw (spark.range + mapInPandas, per-WMO RNG streams) must
    produce EXACTLY the rows of the driver-side make_raw_pandas — the
    distributed path is a scale change, not a data change."""
    from argostats_spark.sources.synthetic import make_raw_pandas

    dist = (
        make_raw(spark, n_wmos=4, profiles_per_wmo=5, seed=7)
        .toPandas()
        .sort_values(["WMO", "IPROF"])
        .reset_index(drop=True)
    )
    local = make_raw_pandas(n_wmos=4, profiles_per_wmo=5, seed=7)
    local = local.sort_values(["WMO", "IPROF"]).reset_index(drop=True)
    assert len(dist) == len(local) == 20
    for col in ("WMO", "IPROF", "DAC", "DATA_MODE", "POSITION_QC"):
        assert dist[col].tolist() == local[col].tolist(), col
    for col in ("LONGITUDE", "LATITUDE"):
        np.testing.assert_allclose(dist[col], local[col], rtol=1e-6)
    for i in range(len(dist)):
        np.testing.assert_allclose(dist.PRES[i], local.PRES[i], rtol=1e-6)
        assert list(dist.PRES_QC[i]) == list(local.PRES_QC[i])


def test_summary_shape_and_iprof(spark, raw):
    s = build_summary(raw)
    pdf = s.toPandas()
    assert len(pdf) == raw.count()
    # IPROF contiguous 0..n-1 per WMO (toctools.py:175 semantics)
    for wmo, grp in pdf.groupby("WMO"):
        assert sorted(grp.IPROF.tolist()) == list(range(len(grp)))
        assert (grp.N_PROF == len(grp)).all()
    # FLAG is the QC product
    assert set(pdf.FLAG.unique()) <= {0, 1, 4}


def test_platform_type_dictionary_roundtrip(spark, raw):
    """PLATFORM strings encode to int8 codes via the literal map lookup
    (reference toctools.py:26-55, 195-196) and decode back to the same
    strings; unknown platforms encode to 0 (blank)."""
    from argostats_spark.operators.summary import decode_platform
    from argostats_spark.schemas import PLATFORMS

    summ = build_summary(raw)
    joined = (
        decode_platform(summ)
        .withColumnRenamed("PLATFORM", "DECODED")
        .join(raw.select("WMO", "IPROF", "PLATFORM"), on=["WMO", "IPROF"])
        .select("PLATFORM", "PLATFORM_TYPE", "DECODED")
        .collect()
    )
    assert len(joined) > 0
    seen_codes = set()
    for r in joined:
        seen_codes.add(r.PLATFORM_TYPE)
        if r.PLATFORM in PLATFORMS:
            assert r.DECODED == r.PLATFORM
            assert r.PLATFORM_TYPE == PLATFORMS.index(r.PLATFORM)
        else:  # the injected unknown model must fall back to code 0
            assert r.PLATFORM_TYPE == 0 and r.DECODED == ""
    assert len(seen_codes) > 1  # dictionary actually in play
    assert 0 in seen_codes      # the unknown-platform WMO was exercised


def test_summary_stats_counts(spark, raw):
    stats = summary_stats(build_summary(raw)).toPandas()
    assert stats.n_profiles.sum() == raw.count()


# ---------------------------------------------------------------------------
# Interpolation (M3)
# ---------------------------------------------------------------------------


def test_profiles_schema_and_gates(spark, raw, profiles):
    assert profiles.schema == PROFILES_SCHEMA
    pdf = profiles.toPandas()
    assert len(pdf) > 0
    # every surviving profile passed the validity gates
    assert (pdf.NVALUES >= 10).all()
    assert (pdf.FLAG == 1).all()
    for _, row in pdf.head(20).iterrows():
        ct, idx = np.array(row.CT), np.array(row.IDX)
        assert len(ct) == NLEVELS and len(idx) == NLEVELS
        # CT zero where invalid (zeros-init AOS semantics, aos.py:97)
        assert np.all(ct[idx == 0] == 0.0)
        # IDX is one contiguous run (span-gate construction)
        ones = np.where(idx == 1)[0]
        assert len(ones) == row.NVALUES
        assert (np.diff(ones) == 1).all()


def test_interpolation_values_sane(spark, profiles):
    pdf = profiles.toPandas()
    ct = np.stack(pdf.CT.to_numpy())
    idx = np.stack(pdf.IDX.to_numpy()).astype(bool)
    # synthetic ocean: temp in [-5, 35] on valid levels
    assert ct[idx].min() > -5 and ct[idx].max() < 35
    # SR is scaled salinity ~ 33-38
    sr = np.stack(pdf.SR.to_numpy())
    assert 32 < sr[idx].mean() < 39


def test_dropped_profiles_are_the_gated_ones(spark, raw, profiles):
    """Profiles with FLAG!=1 or failing level gates must be absent."""
    flagged_bad = raw.filter(
        (F.col("POSITION_QC") != 1) | (F.col("JULD_QC") != 1)
    ).select("WMO", "IPROF").collect()
    kept = {(r.WMO, r.IPROF) for r in profiles.select("WMO", "IPROF").collect()}
    for r in flagged_bad:
        assert (r.WMO, r.IPROF) not in kept


def test_monotone_gate_drops_bad_profiles_no_downward_extrapolation():
    """The reference's contiguity gate, replicated EXACTLY
    (interpolation.py:236-249, jdx = np.unique first-occurrence
    indices, keep iff len(jdx)==jdx[-1]-jdx[0]+1 and len>10,
    interpolate on PRES[jdx]):

    - interior duplicate pressure   → dropped (count != index span);
    - descending axis               → dropped (negative span);
    - trailing dup of earlier level → KEPT, interpolated on the clean
      prefix (the [1..12, 5] case real Argo floats produce);
    - mid-profile swap              → KEPT, silently value-sorted (the
      reference's arithmetic cannot see it);
    and interpolation targets never extend below the deepest
    measurement (deltamax = 0). Checked on the driver reference and on
    the Arrow kernel Spark runs."""
    from argostats_spark.operators.interpolation import (
        _interp_one_wmo,
        _interp_one_wmo_arrow,
    )
    from argostats_spark.schemas import pref64

    n = 20
    pres = np.arange(0.0, 40.0 * n, 40.0)[:n]
    base = {
        "WMO": 1, "DAC": 0, "IPROF": 0, "JULD": pd.Timestamp("2020-01-01"),
        "LATITUDE": 0.0, "LONGITUDE": 0.0, "DATA_MODE": 0, "FLAG": 1,
        "TEMP": (25.0 - pres / 100.0).astype("f4"),
        "PSAL": np.full(n, 35.0, dtype="f4"),
        "PRES_QC": np.ones(n, dtype="i1"), "TEMP_QC": np.ones(n, dtype="i1"),
        "PSAL_QC": np.ones(n, dtype="i1"),
        "PRES_ADJUSTED": None, "TEMP_ADJUSTED": None, "PSAL_ADJUSTED": None,
    }
    dup = dict(base, IPROF=1, PRES=pres.copy())
    dup["PRES"][3] = dup["PRES"][2]           # interior duplicate
    desc = dict(base, IPROF=2, PRES=pres[::-1].copy())  # descending
    trail = dict(base, IPROF=3, PRES=pres.copy())
    trail["PRES"][n - 1] = trail["PRES"][4]   # trailing dup of level 4
    swap = dict(base, IPROF=4, PRES=pres.copy(), TEMP=base["TEMP"].copy())
    swap["PRES"][5], swap["PRES"][6] = pres[6], pres[5]  # mid swap,
    swap["TEMP"][5], swap["TEMP"][6] = base["TEMP"][6], base["TEMP"][5]  # whole record
    ok = dict(base, IPROF=0, PRES=pres.copy())
    pdf = pd.DataFrame([ok, dup, desc, trail, swap])
    pref = pref64()
    for out in (
        _interp_one_wmo(pdf),
        _interp_one_wmo_arrow(_arrow_table_from_pdf(pdf)).to_pandas(),
    ):
        assert out.IPROF.tolist() == [0, 3, 4]  # dup + descending dropped
        for _, r in out.iterrows():
            # deltamax = 0: no target below the deepest measured pressure
            idx = np.array(r.IDX)
            assert pref[idx == 1].max() <= pres.max()
        # the trailing-dup profile interpolates on the clean prefix: its
        # deepest valid target is bounded by the prefix's max pressure
        trail_row = out[out.IPROF == 3].iloc[0]
        idx = np.array(trail_row.IDX)
        assert pref[idx == 1].max() <= pres[n - 2]
        # swap profile == clean profile (values get sorted): same CT grid
        np.testing.assert_allclose(
            np.array(out[out.IPROF == 4].CT.iloc[0]),
            np.array(out[out.IPROF == 0].CT.iloc[0]),
            rtol=1e-6,
        )


def test_write_profiles_roundtrip(spark, profiles, tmp_path):
    path = str(tmp_path / "profiles_parquet")
    write_profiles(profiles, path, n_buckets=8)
    back = spark.read.parquet(path)
    assert back.count() == profiles.count()
    # partition pruning on the bucket column: one WMO → one bucket dir
    one = profiles.select("WMO").first().WMO
    pruned = back.filter(F.col("WMO_BUCKET") == one % 8).filter(F.col("WMO") == one)
    assert pruned.count() == profiles.filter(F.col("WMO") == one).count()


# ---------------------------------------------------------------------------
# Atlas (M4/M5) — golden scenarios
# ---------------------------------------------------------------------------


def _one_profile_df(spark, lon, lat, ct_val=10.0, sr_val=35.0, data_mode=1):
    row = {
        "WMO": 2900001, "DAC": 0, "IPROF": 0,
        "JULD": pd.Timestamp("2020-06-01"),
        "LATITUDE": float(lat), "LONGITUDE": float(lon),
        "DATA_MODE": data_mode, "FLAG": 1, "NVALUES": NLEVELS,
        "CT": [float(ct_val)] * NLEVELS,
        "SR": [float(sr_val)] * NLEVELS,
        "IDX": [1] * NLEVELS,
    }
    return spark.createDataFrame(pd.DataFrame([row]), schema=PROFILES_SCHEMA)


def test_atlas_single_profile_at_gridpoint(spark):
    """Golden (a): one profile exactly at a grid point ⇒ cell CT equals
    that profile's CT at every valid level."""
    grid = make_grid(spark, (10.0, 12.0, -40.0, -38.0), reso_deg=1.0)
    prof = _one_profile_df(spark, lon=10.5, lat=-39.5, ct_val=7.5)
    out = clim_ts(grid, prof, reso_deg=1.0, smoothing_factor=4.0).toPandas()
    cell = out[(out.glon == 10.5) & (out.glat == -39.5)].iloc[0]
    assert np.allclose(np.array(cell.CT), 7.5, atol=1e-5)
    assert cell.n_points == 1


def test_atlas_symmetric_profiles_average(spark):
    """Golden (b): two symmetric profiles ⇒ exact average at the center."""
    grid = make_grid(spark, (0.0, 1.0, 0.0, 1.0), reso_deg=1.0)  # one cell at (0.5, 0.5)
    a = _one_profile_df(spark, lon=0.0, lat=0.5, ct_val=5.0)
    b = _one_profile_df(spark, lon=1.0, lat=0.5, ct_val=15.0)
    prof = a.unionByName(b)
    out = clim_ts(grid, prof, reso_deg=1.0, smoothing_factor=4.0).toPandas()
    assert len(out) == 1
    assert np.allclose(np.array(out.iloc[0].CT), 10.0, atol=1e-4)


def test_atlas_partial_validity_mask(spark):
    """Per-level weights: a profile whose IDX masks deep levels must not
    contribute there (SURVEY §7.4.3)."""
    grid = make_grid(spark, (0.0, 1.0, 0.0, 1.0), reso_deg=1.0)
    full = _one_profile_df(spark, lon=0.5, lat=0.5, ct_val=10.0)
    half_row = _one_profile_df(spark, lon=0.5, lat=0.5, ct_val=20.0).toPandas()
    half_row.at[0, "IDX"] = [1] * 32 + [0] * 32
    half_row.at[0, "CT"] = [20.0] * 32 + [0.0] * 32
    half_row.at[0, "NVALUES"] = 32
    half = spark.createDataFrame(half_row, schema=PROFILES_SCHEMA)
    out = clim_ts(grid, full.unionByName(half), reso_deg=1.0).toPandas()
    ct = np.array(out.iloc[0].CT)
    assert np.allclose(ct[:32], 15.0, atol=1e-4)   # both contribute
    assert np.allclose(ct[32:], 10.0, atol=1e-4)   # only the full profile


def test_atlas_realtime_profiles_excluded(spark):
    """P5: DATA_MODE != D profiles are excluded by default (atlas.py:253)."""
    grid = make_grid(spark, (0.0, 1.0, 0.0, 1.0), reso_deg=1.0)
    d = _one_profile_df(spark, 0.5, 0.5, ct_val=10.0, data_mode=1)
    r = _one_profile_df(spark, 0.5, 0.5, ct_val=99.0, data_mode=0)
    out = clim_ts(grid, d.unionByName(r), reso_deg=1.0).toPandas()
    assert np.allclose(np.array(out.iloc[0].CT), 10.0, atol=1e-5)


def test_eape_two_pass_runs_and_zero_for_uniform(spark):
    """A cell whose only profile equals the cell mean ⇒ EAPE = 0
    (ρ − RHO = 0 everywhere)."""
    grid = make_grid(spark, (10.0, 11.0, -40.0, -39.0), reso_deg=1.0)
    prof = _one_profile_df(spark, 10.5, -39.5, ct_val=8.0)
    out = clim_eape(grid, prof, reso_deg=1.0).toPandas()
    assert len(out) == 1
    eape = np.array(out.iloc[0].EAPE)
    assert np.allclose(eape, 0.0, atol=1e-6)
    rho_bar = np.array(out.iloc[0].RHO)
    assert rho_bar.min() > 1000 and rho_bar.max() < 1100


def test_e2e_pipeline_on_synthetic(spark, profiles):
    """Full chain on synthetic data: profiles → pairs → TS atlas over the
    profiles' own bounding box; cells with support must have plausible
    means where weights are positive."""
    pdf = profiles.select("LONGITUDE", "LATITUDE").toPandas()
    lon0, lon1 = pdf.LONGITUDE.min(), pdf.LONGITUDE.max()
    lat0, lat1 = pdf.LATITUDE.min(), pdf.LATITUDE.max()
    grid = make_grid(
        spark,
        (float(lon0), float(lon0) + 10, float(lat0), float(lat0) + 10),
        reso_deg=2.0,
    )
    pairs = match_pairs(grid, profiles, reso_deg=2.0).cache()
    ts = clim_ts(grid, profiles, reso_deg=2.0, pairs=pairs).toPandas()
    if len(ts):
        ct = np.stack(ts.CT.to_numpy())
        w = np.stack(ts.W.to_numpy())
        assert ct[w > 0].min() > -5 and ct[w > 0].max() < 35


def test_eape_t25_algo_switch(spark):
    """T25 path: global-reference displacement; the algo switch must work
    with defaults (unlike the reference's UnboundLocalError defect,
    SURVEY §2.11) and produce finite values on the same pair set."""
    grid = make_grid(spark, (10.0, 11.0, -40.0, -39.0), reso_deg=1.0)
    prof = _one_profile_df(spark, 10.5, -39.5, ct_val=8.0)
    out = clim_eape(grid, prof, reso_deg=1.0, algo="T25").toPandas()
    assert len(out) == 1
    eape = np.array(out.iloc[0].EAPE)
    assert np.isfinite(eape).all()
    # the kernel's ValueError surfaces via the Arrow toPandas path,
    # which ALSO warns before re-raising — capture the warning so the
    # suite stays quiet (VERDICT r11 housekeeping)
    with pytest.raises(Exception), pytest.warns(
        UserWarning, match="Arrow optimization"
    ):
        clim_eape(grid, prof, reso_deg=1.0, algo="bogus").toPandas()


def test_clim_ts_exploded_matches_arrow_kernel(spark, profiles):
    """The two weighted-mean implementations (clim_ts's Arrow group
    kernel vs clim_ts_exploded's level-exploded expression aggregation)
    must agree: same cells and pair counts, CT to 1e-5 and W to 1e-4
    (the two sum in different orders)."""
    from argostats_spark.operators.atlas import clim_ts_exploded

    pdf = profiles.select("LONGITUDE", "LATITUDE").toPandas()
    lon0, lat0 = float(pdf.LONGITUDE.min()), float(pdf.LATITUDE.min())
    grid = make_grid(spark, (lon0, lon0 + 10, lat0, lat0 + 10), reso_deg=2.0)
    a = clim_ts(grid, profiles, reso_deg=2.0).toPandas().sort_values(
        ["glon", "glat"]).reset_index(drop=True)
    b = clim_ts_exploded(grid, profiles, reso_deg=2.0).toPandas().sort_values(
        ["glon", "glat"]).reset_index(drop=True)
    assert len(a) == len(b)
    if len(a):
        assert (a.glon == b.glon).all() and (a.glat == b.glat).all()
        assert (a.n_points == b.n_points).all()
        assert np.allclose(np.stack(a.CT.to_numpy()), np.stack(b.CT.to_numpy()),
                           rtol=1e-5, atol=1e-5)
        assert np.allclose(np.stack(a.W.to_numpy()), np.stack(b.W.to_numpy()),
                           rtol=1e-4, atol=1e-4)


def test_clim_ts_auto_variant_selection(spark, profiles):
    """clim_ts_auto routes on the estimated pair-shuffle size: a
    polar-band input under a fine global grid (huge adaptive lon halos
    → many cells per profile) exceeds a budget that the same profile
    count in a regional mid-latitude box stays under — and both routes
    return the same answers as the forced variants."""
    from argostats_spark.operators.atlas import (
        clim_ts_auto, estimate_pair_count, match_pairs,
    )

    pdf = profiles.select("LONGITUDE", "LATITUDE").toPandas()
    lon0, lat0 = float(pdf.LONGITUDE.min()), float(pdf.LATITUDE.min())
    regional_grid = make_grid(spark, (lon0, lon0 + 10, lat0, lat0 + 10), reso_deg=2.0)
    polar = profiles.withColumn("LATITUDE", F.lit(84.5).cast("float"))
    global_grid = make_grid(spark, (-180.0, 180.0, -85.0, 86.0), reso_deg=1.0)

    est_regional = estimate_pair_count(regional_grid, profiles, reso_deg=2.0)
    est_polar = estimate_pair_count(global_grid, polar, reso_deg=1.0)
    # estimator sanity: an upper bound on the true (post-cutoff) pairs
    actual = match_pairs(regional_grid, profiles, reso_deg=2.0).count()
    assert est_regional >= actual
    # polar skew fans out far harder per profile
    assert est_polar > 4 * est_regional

    # pick a budget between the two estimates: routing must diverge
    from argostats_spark.operators.atlas import (
        PAIR_SHUFFLE_BYTES, choose_clim_ts_variant,
    )
    budget_gb = (est_regional + est_polar) / 2 * PAIR_SHUFFLE_BYTES / 1e9
    assert choose_clim_ts_variant(
        regional_grid, profiles, 2.0, max_pair_shuffle_gb=budget_gb
    ) == "kernel"
    assert choose_clim_ts_variant(
        global_grid, polar, 1.0, max_pair_shuffle_gb=budget_gb
    ) == "exploded"
    # and auto == forced on the same input
    a = clim_ts_auto(
        regional_grid, profiles, reso_deg=2.0, max_pair_shuffle_gb=budget_gb
    )
    auto = a.toPandas().sort_values(["glon", "glat"]).reset_index(drop=True)
    forced = (
        clim_ts_auto(regional_grid, profiles, reso_deg=2.0, variant="kernel")
        .toPandas().sort_values(["glon", "glat"]).reset_index(drop=True)
    )
    assert len(auto) == len(forced) and (auto.n_points == forced.n_points).all()


def test_netcdf_export_roundtrip(spark, tmp_path):
    """S9: NetCDF atlas export is REAL (pure NetCDF-3 classic codec,
    sources/netcdf3.py) — write an atlas, parse the file back, and the
    per-cell grids match the DataFrame exactly."""
    import numpy as np

    from argostats_spark.operators.atlas import export_atlas_netcdf
    from argostats_spark.schemas import NLEVELS
    from argostats_spark.sources.netcdf3 import read_netcdf3

    from argostats_spark.sources.netcdf3 import read_netcdf3_full

    grid = make_grid(spark, (0.0, 4.0, 0.0, 2.0), reso_deg=2.0)
    prof = _one_profile_df(spark, 1.0, 1.0)
    ts = clim_ts(grid, prof, reso_deg=2.0)
    path = str(tmp_path / "atlas.nc")
    export_atlas_netcdf(ts, path, global_attrs={"latest_profile": "2020-01-01"})

    dims, data = read_netcdf3(path)
    assert dims == {"lat": 1, "lon": 2, "pres": NLEVELS}
    # units + provenance attrs survive the roundtrip (reference
    # atlas.py:576-607 stamps the same metadata)
    _, _, gattrs, vattrs = read_netcdf3_full(open(path, "rb").read())
    assert gattrs["name"] == "Atlas of Argo statistics"
    assert gattrs["latest_profile"] == "2020-01-01"
    assert vattrs["CT"]["units"] == "degC"
    assert vattrs["pres"]["units"] == "dbar"
    assert data["CT"].shape == (1, 2, NLEVELS)
    pdf = ts.orderBy("glat", "glon").toPandas()
    for i, row in enumerate(pdf.itertuples()):
        np.testing.assert_allclose(
            data["CT"][0, i, :], np.asarray(row.CT, "f4"), rtol=1e-6
        )
        assert data["n_points"][0, i] == row.n_points
    # spec guard: the file is genuinely CDF-1 on disk
    assert open(path, "rb").read(4) == b"CDF\x01"


def test_netcdf3_codec_roundtrip(tmp_path):
    """The dependency-free CDF-1 codec roundtrips every supported dtype
    and rejects non-classic files."""
    import numpy as np
    import pytest as _pytest

    from argostats_spark.sources.netcdf3 import read_netcdf3, write_netcdf3

    rng = np.random.default_rng(0)
    dims = {"a": 3, "b": 4, "c": 5}
    variables = {
        "f4v": (("a", "b", "c"), rng.random((3, 4, 5)).astype("f4")),
        "f8v": (("b",), rng.random(4).astype("f8")),
        "i4v": (("a", "b"), rng.integers(-50, 50, (3, 4)).astype("i4")),
        "i2v": (("c",), np.arange(5, dtype="i2")),
        "i1v": (("c",), np.array([1, 0, 1, 1, 0], "i1")),
    }
    p = str(tmp_path / "t.nc")
    gattrs = {"title": "test file", "version": 3, "scale": 0.5,
              "bins": np.array([1.0, 2.5, 4.0], "f8")}
    write_netcdf3(
        p, dims, variables,
        global_attrs=gattrs,
        var_attrs={"f4v": {"units": "degC", "fill": -9999}},
    )
    rd, rv = read_netcdf3(p)
    assert rd == dims
    for k, (_, a) in variables.items():
        np.testing.assert_array_equal(rv[k], a)
    from argostats_spark.sources.netcdf3 import read_netcdf3_full
    _, _, g, v = read_netcdf3_full(open(p, "rb").read())
    assert g["title"] == "test file" and g["version"] == 3 and g["scale"] == 0.5
    np.testing.assert_array_equal(g["bins"], gattrs["bins"])
    assert v["f4v"] == {"units": "degC", "fill": -9999}
    assert v["f8v"] == {}
    bad = str(tmp_path / "bad.nc")
    open(bad, "wb").write(b"PAR1junk")
    with _pytest.raises(ValueError):
        read_netcdf3(bad)


# ---------------------------------------------------------------------------
# S10/P10/J3: bathymetry ocean-mask source + arithmetic-index gate
# ---------------------------------------------------------------------------


def test_ocean_mask_gate_semantics(spark):
    """apply_ocean_mask keeps exactly the grid cells whose containing
    mask cell is ocean — checked against a hand-built 4-cell mask."""
    import pandas as pd
    from argostats_spark.operators.atlas import apply_ocean_mask

    # 2x2 mask at 1.0 deg covering lon [0,2), lat [0,2): ocean only in
    # the (lat [0,1), lon [1,2)) cell
    mask = spark.createDataFrame(pd.DataFrame({
        "lat": [0.5, 0.5, 1.5, 1.5],
        "lon": [0.5, 1.5, 0.5, 1.5],
        "is_ocean": [0, 1, 0, 0],
    }))
    grid = spark.createDataFrame(pd.DataFrame({
        "glon": [0.25, 1.25, 1.75, 1.25],
        "glat": [0.25, 0.25, 0.75, 1.25],
    }))
    kept = apply_ocean_mask(grid, mask, mask_reso_deg=1.0).toPandas()
    got = sorted(zip(kept.glon, kept.glat))
    assert got == [(1.25, 0.25), (1.75, 0.75)]


def test_ocean_mask_none_passthrough(spark):
    from argostats_spark.operators.atlas import apply_ocean_mask

    grid = make_grid(spark, (0.0, 10.0, 0.0, 10.0), reso_deg=5.0)
    assert apply_ocean_mask(grid, None).count() == grid.count()


def test_bathy_bz2_loader_roundtrip(spark, tmp_path):
    """S10 loader: the reference's bz2 int8 format round-trips through
    save_mask_bz2/load_mask_bz2 with the cell-center convention."""
    import numpy as np
    from argostats_spark.sources.bathy import load_mask_bz2, save_mask_bz2

    reso = 30.0  # 6x12 global mask, tiny
    m = (np.arange(6 * 12).reshape(6, 12) % 3 == 0).astype("i1")
    path = str(tmp_path / "msk.bin")
    save_mask_bz2(m, path)
    df = load_mask_bz2(spark, path, reso_deg=reso).toPandas()
    assert len(df) == 72
    assert int(df.is_ocean.sum()) == int(m.sum())
    # spot-check the center convention: mask[0,0] cell center
    row = df[(df.lat == -90 + 15.0) & (df.lon == -180 + 15.0)]
    assert len(row) == 1 and int(row.is_ocean.iloc[0]) == int(m[0, 0])


def test_synthetic_mask_matches_index_rule(spark):
    from argostats_spark.sources.bathy import synthetic_ocean_mask

    df = synthetic_ocean_mask(spark, reso_deg=30.0).toPandas()
    assert len(df) == 72
    for _, r in df.iterrows():
        lat_idx = int((r.lat + 90) // 30)
        lon_idx = int((r.lon + 180) // 30)
        assert r.is_ocean == int((lat_idx * 31 + lon_idx * 17) % 7 < 5)


def test_argo_atlas_pipeline_query_nonempty(spark):
    """The rows-only flagship pipeline must actually produce cells:
    an ill-anchored demo grid once intersected zero profiles and the
    >=0-rows driver smoke masked it (caught in round 2)."""
    from argostats_spark.queries import QUERIES

    out = QUERIES["argo_atlas_pipeline"](spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert len(rows) > 50
    assert all(r["n_points"] >= 1 for r in rows)


def test_interpolation_gsw_method_env_gated(spark, raw):
    """The reference's alternate interpolation surface
    (interpolation.py:21,79 `method="gsw"` → gsw.sa_ct_interp) is
    env-gated exactly like the NetCDF-4 branch: without the gsw package
    the call is a clearly-marked NotImplementedError (fast-fail on the
    driver, before any shuffle); where gsw exists the kernel runs
    end-to-end and must agree with the cubic path within a loose
    interpolation-scheme tolerance (MRST-PCHIP vs natural spline)."""
    import numpy as np
    import pytest

    from argostats_spark.operators.interpolation import interpolate_profiles

    try:
        import gsw  # noqa: F401
        has_gsw = True
    except ImportError:
        has_gsw = False

    if not has_gsw:
        with pytest.raises(NotImplementedError, match="gsw"):
            interpolate_profiles(raw, method="gsw")
        with pytest.raises(ValueError, match="cubic|gsw"):
            interpolate_profiles(raw, method="nearest")
        pytest.skip("gsw not installed; method='gsw' branch env-gated")

    # pragma: no cover — runs only where gsw exists
    cubic = (
        interpolate_profiles(raw, method="cubic")
        .orderBy("WMO", "IPROF").toPandas()
    )
    via_gsw = (
        interpolate_profiles(raw, method="gsw")
        .orderBy("WMO", "IPROF").toPandas()
    )
    assert list(via_gsw.WMO) == list(cubic.WMO)
    for a, b in zip(via_gsw.CT, cubic.CT):
        np.testing.assert_allclose(np.asarray(a), np.asarray(b), atol=0.5)


def test_interpolation_equals_driver_reference(spark, raw, profiles):
    """Spark's interpolate_profiles (the applyInArrow kernel: flat list
    buffers, Table.take passthrough) must be row-identical to the
    driver-side reference _interp_one_wmo applied per WMO group after
    the same FLAG gate — including the adjusted-variable branch,
    validity gates, NVALUES and every CT/SR/IDX element."""
    from argostats_spark.operators.interpolation import _interp_one_wmo

    r = raw.toPandas()
    r = r[r.POSITION_QC * r.JULD_QC == 1].assign(FLAG=1)
    ref = pd.concat(
        [_interp_one_wmo(g) for _, g in r.groupby("WMO")], ignore_index=True
    )
    want = spark.createDataFrame(ref, PROFILES_SCHEMA).orderBy("WMO", "IPROF").toPandas()
    got = profiles.orderBy("WMO", "IPROF").toPandas()
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want)


def _delayed_mode_wmo_pdf(n_prof=3, n_lev=20):
    """A delayed-mode WMO whose adjusted variables differ measurably
    from the raw ones (+1 degC), so which branch the kernel picked is
    visible in the output."""
    pres = np.arange(0.0, 40.0 * n_lev, 40.0)[:n_lev].astype("f4")
    rows = []
    for i in range(n_prof):
        temp = (25.0 - pres / 100.0 - 0.1 * i).astype("f4")
        psal = np.full(n_lev, 35.0, dtype="f4")
        rows.append({
            "WMO": 2900077, "DAC": 0, "IPROF": i,
            "JULD": pd.Timestamp("2020-06-01"),
            "LATITUDE": 10.0, "LONGITUDE": 20.0,
            "DATA_MODE": 1, "FLAG": 1,
            "PRES": pres.copy(), "TEMP": temp, "PSAL": psal,
            "PRES_ADJUSTED": pres.copy(),
            "TEMP_ADJUSTED": (temp + 1.0).astype("f4"),
            "PSAL_ADJUSTED": psal.copy(),
            "PRES_QC": np.ones(n_lev, dtype="i1"),
            "TEMP_QC": np.ones(n_lev, dtype="i1"),
            "PSAL_QC": np.ones(n_lev, dtype="i1"),
        })
    return pd.DataFrame(rows)


def _arrow_table_from_pdf(pdf):
    import pyarrow as pa

    return pa.Table.from_pandas(pdf, preserve_index=False)


def test_null_adjusted_row_falls_back_both_engines():
    """ADVICE r4: a delayed-mode WMO with PRES_ADJUSTED fully populated
    but ONE null TEMP_ADJUSTED row must make BOTH kernels fall back to
    the unadjusted variables (the arrow kernel always did; the pandas
    twin used to pick adjusted and crash on the null row). Both engines
    must agree with each other and with the forced-unadjusted run."""
    from argostats_spark.operators.interpolation import (
        _interp_one_wmo,
        _interp_one_wmo_arrow,
    )

    clean = _delayed_mode_wmo_pdf()
    # sanity: with all adjusted columns populated, adjusted is selected
    # (CT reflects the +1 degC offset vs the forced-unadjusted twin)
    unadj = clean.assign(
        PRES_ADJUSTED=None, TEMP_ADJUSTED=None, PSAL_ADJUSTED=None
    )
    ct_adj = np.array(_interp_one_wmo(clean).CT.iloc[0])
    ct_raw = np.array(_interp_one_wmo(unadj).CT.iloc[0])
    assert np.nanmax(np.abs(ct_adj - ct_raw)) > 0.5

    holed = clean.copy()
    holed.at[1, "TEMP_ADJUSTED"] = None
    p_out = _interp_one_wmo(holed)  # must not raise (the old IndexError)
    # fallback semantics: identical to the unadjusted run
    pd.testing.assert_frame_equal(p_out, _interp_one_wmo(unadj))

    a_out = _interp_one_wmo_arrow(_arrow_table_from_pdf(holed)).to_pandas()
    assert a_out.IPROF.tolist() == p_out.IPROF.tolist()
    for col in ("CT", "SR", "IDX"):
        for a_row, p_row in zip(a_out[col], p_out[col]):
            np.testing.assert_allclose(
                np.asarray(a_row, dtype="f8"), np.asarray(p_row, dtype="f8")
            )
    assert a_out.NVALUES.tolist() == p_out.NVALUES.tolist()


def test_ragged_level_arrays_fail_fast_in_arrow_kernel():
    """ADVICE r4: the arrow kernel slices every flat level buffer with
    PRES's offsets; ragged input (a TEMP list shorter than its PRES)
    must raise immediately, not silently misalign every later profile."""
    import pytest

    from argostats_spark.operators.interpolation import _interp_one_wmo_arrow

    pdf = _delayed_mode_wmo_pdf()
    pdf["DATA_MODE"] = 0  # unadjusted path; adjusted columns unused
    pdf.at[1, "TEMP"] = pdf.at[1, "TEMP"][:-3]  # ragged: 3 levels short
    with pytest.raises(ValueError, match="ragged"):
        _interp_one_wmo_arrow(_arrow_table_from_pdf(pdf))


def test_atlas_oracle_parquet_driver_twin(spark, tmp_path, monkeypatch):
    """The driver-ordering guard (queries.ensure_atlas_oracle_parquet)
    must produce EXACTLY the rows the Spark query materializes — same
    eligible profiles, same f4 values in every oracle-read column — so
    the argo_atlas_pipeline oracle is correct no matter which side the
    correctness driver evaluates first."""
    import numpy as np

    from argostats_spark import atlas_oracle as AO
    from argostats_spark import queries as Q

    twin_path = str(tmp_path / "twin.parquet")
    monkeypatch.setattr(AO, "_ATLAS_ORACLE_PARQUET", twin_path)
    AO.ensure_atlas_oracle_parquet()
    twin = pd.read_parquet(twin_path)

    spark_path = str(tmp_path / "spark.parquet")
    monkeypatch.setattr(AO, "_ATLAS_ORACLE_PARQUET", spark_path)
    Q.QUERIES["argo_atlas_pipeline"](spark, "/root/testdata/sf0.001")
    full = pd.read_parquet(spark_path)

    cols = ["LONGITUDE", "LATITUDE", "FLAG", "DATA_MODE", "CT", "SR", "IDX"]
    key = ["LONGITUDE", "LATITUDE"]
    t = twin[cols].sort_values(key).reset_index(drop=True)
    s = full[cols].sort_values(key).reset_index(drop=True)
    assert len(t) == len(s) > 0
    for c in ("LONGITUDE", "LATITUDE", "FLAG", "DATA_MODE"):
        assert (t[c].to_numpy() == s[c].to_numpy()).all(), c
    for c in ("CT", "SR", "IDX"):
        for a, b in zip(t[c], s[c]):
            assert np.array_equal(np.asarray(a), np.asarray(b)), c


def test_atlas_pipeline_refuses_nonlocal_master_without_shared_tmp(monkeypatch):
    """Cluster foot-gun gate (round-5 verdict): with a non-local master
    and no ARGOSTATS_ATLAS_TMP, the pipeline's tempdir intermediate
    would scatter across executor-local disks and the oracle readback
    would be silently wrong — the query must raise loudly BEFORE
    touching any data."""
    import pytest

    from argostats_spark import queries as Q

    class _Ctx:
        master = "spark://cluster-head:7077"

    class _FakeSpark:
        sparkContext = _Ctx()

    monkeypatch.delenv("ARGOSTATS_ATLAS_TMP", raising=False)
    with pytest.raises(RuntimeError, match="ARGOSTATS_ATLAS_TMP"):
        Q.QUERIES["argo_atlas_pipeline"](_FakeSpark(), "/root/testdata/sf0.001")


def _two_pass_eape(pairs, ts, theta: float, algo: str):
    """The two-pass EAPE composition clim_eape replaced: clim_ts's
    stored (f4) cell means broadcast-joined back onto the repartitioned
    pairs, then _eape_integrand and the weighted mean per cell."""
    import pyarrow as pa

    from argostats_spark.functions.teos10 import eape_unit, rho
    from argostats_spark.operators.atlas import _EAPE_SCHEMA, _eape_integrand

    pref = pref64().astype("f8")
    unit = eape_unit()

    def kernel(key, table):
        n = table.num_rows

        def mat(name):
            return (
                table.column(name).combine_chunks().flatten()
                .to_numpy(zero_copy_only=False).astype("f8").reshape(n, NLEVELS)
            )

        ct_bar = np.asarray(table.column("CT_BAR")[0].as_py(), dtype="f8")
        sr_bar = np.asarray(table.column("SR_BAR")[0].as_py(), dtype="f8")
        hav = table.column("hav").to_numpy(zero_copy_only=False).astype("f8")
        coef = np.exp(-hav / theta)[:, None] * mat("IDX")
        n_lev = coef.sum(axis=0)
        ok = n_lev > 0
        ct, sr = mat("CT"), mat("SR")
        rho_bar = rho(sr_bar, ct_bar, pref)
        eape_i = _eape_integrand(
            rho(sr, ct, pref[None, :]), sr, ct, rho_bar, ct_bar, sr_bar,
            pref, unit, algo,
        )
        eape = np.zeros(NLEVELS)
        eape[ok] = (coef * eape_i).sum(axis=0)[ok] / n_lev[ok]
        offs = pa.array(np.array([0, NLEVELS], dtype="i4"))
        return pa.table({
            "glon": pa.array([float(key[0].as_py())]),
            "glat": pa.array([float(key[1].as_py())]),
            "n_points": pa.array([n], pa.int32()),
            "RHO": pa.ListArray.from_arrays(offs, pa.array(rho_bar.astype("f4"))),
            "EAPE": pa.ListArray.from_arrays(offs, pa.array(eape.astype("f4"))),
        })

    means = ts.select(
        "glon", "glat", F.col("CT").alias("CT_BAR"), F.col("SR").alias("SR_BAR")
    )
    n = pairs.sparkSession.sparkContext.defaultParallelism
    return (
        pairs.select("glon", "glat", "hav", "CT", "SR", "IDX")
        .repartition(n, "glon", "glat")
        .join(F.broadcast(means), on=["glon", "glat"])
        .groupBy("glon", "glat").applyInArrow(kernel, _EAPE_SCHEMA)
    )


def test_eape_one_pass_equals_two_pass_composition(spark, profiles):
    """clim_eape derives each cell's mean profile inside its own group
    kernel (rounded through f4, as clim_ts stores it). Its rows must
    equal the two-pass composition — clim_ts means, then the per-pair
    integrand against them — EXACTLY, for R14 and T25, with the cached
    pair set passed in and with the pair set built inside clim_eape
    (for T25 that is the per-profile feature path)."""
    import math

    b = profiles.filter(
        (F.col("FLAG") == 1) & (F.col("DATA_MODE") == 1)
    ).agg(
        F.floor(F.min("LONGITUDE")).alias("w"), F.ceil(F.max("LONGITUDE")).alias("e"),
        F.floor(F.min("LATITUDE")).alias("s"), F.ceil(F.max("LATITUDE")).alias("n"),
    ).first()
    grid = make_grid(
        spark, (float(b.w), float(b.e) + 2, float(b.s), float(b.n) + 2), reso_deg=5.0
    )
    theta = math.sin(math.radians(2.0 * 5.0) / 2.0) ** 2
    pairs = match_pairs(grid, profiles, 5.0, 2.0).localCheckpoint(eager=True)
    ts = clim_ts(grid, profiles, 5.0, 2.0, pairs=pairs).localCheckpoint(eager=True)
    for algo in ("R14", "T25"):
        want = _two_pass_eape(pairs, ts, theta, algo).orderBy("glon", "glat").toPandas()
        assert len(want) > 0
        for got in (clim_eape(grid, profiles, 5.0, 2.0, pairs=pairs, algo=algo),
                    clim_eape(grid, profiles, 5.0, 2.0, algo=algo)):
            got = got.orderBy("glon", "glat").toPandas()
            pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_cell_runs_do_not_depend_on_batch_cuts_or_partitions(spark, profiles, monkeypatch):
    """clim_ts and clim_eape walk the sorted cell runs of each Arrow
    batch and hold back a run that continues into the next batch. Their
    rows must not depend on where the batches cut the runs (5 rows a
    batch, so most cells span several) or on how many partitions share
    the cells (the pair repartition at 1 partition instead of
    defaultParallelism): exactly the default run's rows, for clim_ts
    and clim_eape R14, T25 and cached ``pairs=``. The one-cell grid's
    cell spans more than 3 batches."""
    import re

    from pyspark import SparkContext

    # a 40° kernel radius, so cells hold many pairs of the small fixture
    reso, sm = 10.0, 4.0
    world = make_grid(spark, (-180.0, 180.0, -80.0, 80.0), reso)
    big = clim_ts(world, profiles, reso, sm).orderBy(F.desc("n_points")).first()
    assert big.n_points > 15
    grids = {
        "world": world,
        "one": make_grid(
            spark, (big.glon - 5, big.glon + 5, big.glat - 5, big.glat + 5), reso
        ),
    }

    def results():
        out = {}
        for name, grid in grids.items():
            pairs = match_pairs(grid, profiles, reso, sm).localCheckpoint(eager=True)
            dfs = {
                "ts": clim_ts(grid, profiles, reso, sm),
                "r14": clim_eape(grid, profiles, reso, sm, algo="R14"),
                "t25": clim_eape(grid, profiles, reso, sm, algo="T25"),
                "r14_pairs": clim_eape(grid, profiles, reso, sm, pairs=pairs, algo="R14"),
                "t25_pairs": clim_eape(grid, profiles, reso, sm, pairs=pairs, algo="T25"),
            }
            for key, df in dfs.items():
                # the cell exchange, above the cached profiles' lineage:
                # hashpartitioning(glon, glat, n), or SinglePartition at n=1
                plan = df._jdf.queryExecution().executedPlan().toString()
                plan = plan.partition("InMemoryRelation")[0]
                exch = re.findall(r"Exchange (\w+).*REPARTITION_BY_NUM", plan)
                out[name, key] = (exch, df.orderBy("glon", "glat").toPandas())
        return out

    want = results()
    assert want["one", "ts"][1].n_points.tolist() == [big.n_points]
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    spark.conf.set(conf, "5")
    try:
        cut = results()
    finally:
        spark.conf.unset(conf)
    monkeypatch.setattr(SparkContext, "defaultParallelism", property(lambda self: 1))
    single = results()
    for k, (exch, frame) in want.items():
        assert len(frame) > 0, k
        assert exch == ["hashpartitioning"], (k, exch)
        assert single[k][0] == ["SinglePartition"], (k, single[k][0])
        pd.testing.assert_frame_equal(cut[k][1], frame, check_exact=True)
        pd.testing.assert_frame_equal(single[k][1], frame, check_exact=True)


def test_eape_fast_path_equals_legacy_pairs_path(spark, profiles):
    """Round 14: clim_eape with pairs=None routes through
    _eape_profile_features (the per-PROFILE density/bisection pass —
    a profile near k cells otherwise pays that work k times inside the
    per-cell kernel). The integrand values are elementwise f8,
    bitwise-identical to the in-kernel path, so the weighted means
    must agree to float precision; n_points (the pair multiplicity)
    must agree EXACTLY — a fast path that changed the pair set would
    be a different query, not an optimization."""
    import numpy as np

    from argostats_spark.operators.atlas import (
        clim_eape,
        clim_ts,
        make_grid,
        match_pairs,
    )

    b = profiles.filter(
        (F.col("FLAG") == 1) & (F.col("DATA_MODE") == 1)
    ).agg(
        F.floor(F.min("LONGITUDE")).alias("w"), F.ceil(F.max("LONGITUDE")).alias("e"),
        F.floor(F.min("LATITUDE")).alias("s"), F.ceil(F.max("LATITUDE")).alias("n"),
    ).first()
    grid = make_grid(
        spark, (float(b.w), float(b.e) + 2, float(b.s), float(b.n) + 2), reso_deg=5.0
    )
    pairs = match_pairs(grid, profiles, 5.0, 2.0).localCheckpoint(eager=True)
    ts = clim_ts(grid, profiles, 5.0, 2.0, pairs=pairs).localCheckpoint(eager=True)
    for algo in ("R14", "T25"):
        legacy = clim_eape(grid, profiles, 5.0, 2.0, pairs=pairs,
                           algo=algo).orderBy("glon", "glat").toPandas()
        fast = clim_eape(grid, profiles, 5.0, 2.0,
                         algo=algo).orderBy("glon", "glat").toPandas()
        assert len(legacy) == len(fast) > 0
        assert (legacy.n_points.to_numpy() == fast.n_points.to_numpy()).all()
        for col in ("RHO", "EAPE"):
            lv = np.stack(legacy[col].to_numpy())
            fv = np.stack(fast[col].to_numpy())
            # same f8 integrand values; only the in-group summation
            # order can differ between the two plans — f4 output
            # absorbs it in practice (exact on the test fixture)
            np.testing.assert_allclose(fv, lv, rtol=1e-6, atol=1e-7)


def test_eape_fast_path_plan_exchange_excludes_bar_arrays(spark, profiles):
    """Plan pin of the one-pass EAPE: ONE exchange, hash-partitioned by
    (glon, glat), straight under ONE MapInArrow cell-run kernel (only a
    sort between them) — no FlatMapGroupsInArrow, no join between them
    (the cell means are computed in the kernel, not joined back), no
    *_BAR column anywhere, and the exchange ships only what the kernel
    reads (no lon/lat join coordinates). R14 ships the per-pair CT/SR;
    T25 ships the per-profile EI plus CT/SR for the cell means (its
    feature pass is a second MapInArrow, below the exchange)."""
    from argostats_spark.operators.atlas import clim_eape, make_grid

    grid = make_grid(spark, (-180.0, 180.0, -60.0, 64.0), reso_deg=10.0)
    for algo, cols in (("R14", (" CT#", " SR#")), ("T25", (" CT#", " SR#", " EI#"))):
        df = clim_eape(grid, profiles, 10.0, 2.0, algo=algo)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "_BAR" not in plan, plan[:2000]
        # the cached profiles print their own lineage (the interpolation
        # kernel) inside InMemoryRelation; the EAPE plan is the prefix
        plan = plan.partition("InMemoryRelation")[0]
        assert "FlatMapGroupsInArrow" not in plan, plan[:2000]
        assert plan.count("Exchange hashpartitioning(glon") == 1, plan[:2000]
        kernel_pos = plan.index("MapInArrow")
        exch_pos = plan.index("Exchange hashpartitioning(glon")
        assert kernel_pos < exch_pos
        assert plan[:exch_pos].count("MapInArrow") == 1, plan[:2000]
        assert "Join" not in plan[kernel_pos:exch_pos], plan[:2000]
        exch_line = next(
            line for line in plan.splitlines()
            if "Exchange hashpartitioning(glon" in line
        )
        under = plan[plan.index(exch_line):].splitlines()[1]
        for col in cols:
            assert col in under, under
        assert " lon#" not in under, under


def _jobs(spark, fn) -> int:
    """Spark jobs one call runs, from the status tracker's job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_jobs_per_call_pinned(spark, tmp_path):
    """Per-call Spark job counts of the argo pass on a tiny stored
    input (driver and per-job overhead, not kernel math, set the wall
    time at small scale): build_summary 2 (the window's exchange and
    the result — no platform dim broadcast), estimate_pair_count 1
    (one tagged union in one partition, counted per bin and summed in
    the same stage), clim_ts_auto and clim_eape 3 each (grid broadcast,
    pair exchange, result — no grid cross join, no means pass or
    join-back)."""
    from argostats_spark.operators.atlas import clim_ts_auto, estimate_pair_count

    make_raw(spark, n_wmos=2, profiles_per_wmo=4, seed=3).write.parquet(str(tmp_path / "raw"))
    raw = spark.read.parquet(str(tmp_path / "raw"))
    write_profiles(interpolate_profiles(raw), str(tmp_path / "store"))
    stored = spark.read.parquet(str(tmp_path / "store"))
    # global: a grid the tiny input surely reaches, so no stage is
    # skipped for an empty side
    grid = make_grid(spark, (-180.0, 180.0, -80.0, 80.0), reso_deg=5.0)

    def noop(df):
        return lambda: df.write.format("noop").mode("overwrite").save()

    calls = {
        "build_summary": noop(build_summary(raw)),
        "estimate_pair_count": lambda: estimate_pair_count(grid, stored, 5.0, 2.0),
        "clim_ts_auto": noop(clim_ts_auto(grid, stored, 5.0, 2.0, variant="kernel")),
        "clim_eape": noop(clim_eape(grid, stored, 5.0, 2.0, algo="R14")),
    }
    got = {name: _jobs(spark, fn) for name, fn in calls.items()}
    assert got == {
        "build_summary": 2, "estimate_pair_count": 1, "clim_ts_auto": 3, "clim_eape": 3,
    }


def test_netcdf3_cdf2_spec_fixture_and_roundtrip(tmp_path):
    """CDF-2 (64-bit offset) support, round 6.

    Ground truth half: a minimal CDF-2 file hand-assembled byte-by-byte
    from the published classic-format spec (NOT via our writer), so the
    reader is validated against the spec itself: magic 'CDF\\x02',
    numrecs=0, one dim (x=3), ABSENT global atts, one NC_INT variable
    over x with an 8-BYTE begin — the single field CDF-2 changes.

    Engineering half: writer roundtrip at version=2, auto-promotion
    contract, CDF-1 refusal of out-of-range offsets, and the GDAC
    profile parser accepting a CDF-2 <WMO>_prof.nc.
    """
    import struct

    import numpy as np
    import pytest as _pytest

    from argostats_spark.sources.netcdf3 import (
        read_netcdf3, read_netcdf3_bytes, write_netcdf3,
    )

    # --- spec fixture -----------------------------------------------------
    # header: magic, numrecs, dim_list, gatt_list(ABSENT), var_list
    hdr = b"CDF\x02" + struct.pack(">i", 0)
    hdr += struct.pack(">ii", 0x0A, 1)                      # NC_DIMENSION, ndims=1
    hdr += struct.pack(">i", 1) + b"x" + b"\x00" * 3        # name "x" (padded)
    hdr += struct.pack(">i", 3)                             # dim length 3
    hdr += struct.pack(">ii", 0, 0)                         # gatt ABSENT
    hdr += struct.pack(">ii", 0x0B, 1)                      # NC_VARIABLE, nvars=1
    hdr += struct.pack(">i", 1) + b"v" + b"\x00" * 3        # var name "v"
    hdr += struct.pack(">i", 1) + struct.pack(">i", 0)      # 1 dim, dimid 0
    hdr += struct.pack(">ii", 0, 0)                         # vatt ABSENT
    hdr += struct.pack(">i", 4)                             # NC_INT
    hdr += struct.pack(">i", 12)                            # vsize
    begin = len(hdr) + 8                                    # after the 8-byte begin itself
    hdr += struct.pack(">Q", begin)                         # 64-bit begin
    payload = np.array([7, -8, 9], ">i4").tobytes()
    dims, data = read_netcdf3_bytes(hdr + payload)
    assert dims == {"x": 3}
    np.testing.assert_array_equal(data["v"], np.array([7, -8, 9], "i4"))

    # --- writer roundtrip + promotion contract ---------------------------
    variables = {"v": (("x",), np.array([1.5, 2.5, 3.5], "f8"))}
    p2 = str(tmp_path / "v2.nc")
    write_netcdf3(p2, {"x": 3}, variables, version=2)
    assert open(p2, "rb").read(4) == b"CDF\x02"
    rd, rv = read_netcdf3(p2)
    assert rd == {"x": 3}
    np.testing.assert_array_equal(rv["v"], variables["v"][1])

    # auto (version=None) stays classic for small files
    p1 = str(tmp_path / "v1.nc")
    write_netcdf3(p1, {"x": 3}, variables)
    assert open(p1, "rb").read(4) == b"CDF\x01"

    # the version-1 begin-field overflow refusal (simulated via the
    # layout math: monkeypatch the guard constant rather than writing
    # a real >2GiB file)
    import argostats_spark.sources.netcdf3 as m
    old = m._CDF1_MAX_BEGIN
    try:
        m._CDF1_MAX_BEGIN = 10  # every offset now "overflows"
        with _pytest.raises(ValueError, match="begin"):
            write_netcdf3(str(tmp_path / "ov.nc"), {"x": 3}, variables, version=1)
        pauto = str(tmp_path / "auto2.nc")
        write_netcdf3(pauto, {"x": 3}, variables)  # auto → promotes
        assert open(pauto, "rb").read(4) == b"CDF\x02"
        rdm, rvm = read_netcdf3(pauto)
        np.testing.assert_array_equal(rvm["v"], variables["v"][1])
    finally:
        m._CDF1_MAX_BEGIN = old

    # --- GDAC profile parser accepts CDF-2 -------------------------------
    from argostats_spark.sources.netcdf import parse_netcdf_bytes, write_argo_prof_nc

    full = write_argo_prof_nc(
        str(tmp_path), 6900001,
        lons=[10.0, 11.0], lats=[-40.0, -41.0], juld_days=[20000.0, 20001.0],
        data_modes="RR",
        pres=[[5.0, 100.0, 500.0], [5.0, 100.0, 500.0]],
        temp=[[15.0, 10.0, 4.0], [15.5, 10.5, 4.5]],
        psal=[[35.0, 35.1, 34.9], [35.0, 35.1, 34.9]],
        version=2,
    )
    content = open(full, "rb").read()
    assert content[:4] == b"CDF\x02"
    pdf = parse_netcdf_bytes(full, content)
    assert len(pdf) == 2 and set(pdf["WMO"]) == {6900001}
    np.testing.assert_allclose(sorted(pdf["LONGITUDE"]), [10.0, 11.0])


def test_netcdf3_record_variables_spec_fixtures():
    """UNLIMITED-dimension (record) variables, round 6 — real GDAC
    <WMO>_prof.nc files carry an UNLIMITED N_HISTORY with HISTORY_*
    record variables, so the codec must read the interleaved record
    section, not just fixed variables.

    Both fixtures are hand-assembled from the published spec:
    1. two record vars → each per-record slab padded to 4 bytes;
    2. exactly one record var → slab stored UNPADDED (the spec's
       special case).
    """
    import struct

    import numpy as np

    from argostats_spark.sources.netcdf3 import read_netcdf3_bytes

    def name(s: str) -> bytes:
        raw = s.encode()
        return struct.pack(">i", len(raw)) + raw + b"\x00" * ((4 - len(raw) % 4) % 4)

    # --- fixture 1: dims t(UNLIMITED), x=2; vars fv(x) i4, rv1(t,x) i2,
    # rv2(t) i2; numrecs=3; recsize = pad4(2*2) + pad4(2) = 4 + 4 = 8
    hdr = b"CDF\x01" + struct.pack(">i", 3)                       # numrecs=3
    hdr += struct.pack(">ii", 0x0A, 2)
    hdr += name("t") + struct.pack(">i", 0)                       # UNLIMITED
    hdr += name("x") + struct.pack(">i", 2)
    hdr += struct.pack(">ii", 0, 0)                               # gatts ABSENT
    hdr += struct.pack(">ii", 0x0B, 3)                            # 3 vars
    var_meta = b""
    var_meta += (name("fv") + struct.pack(">ii", 1, 1)            # dims: x
                 + struct.pack(">ii", 0, 0) + struct.pack(">ii", 4, 8))
    var_meta += (name("rv1") + struct.pack(">iii", 2, 0, 1)       # dims: t,x
                 + struct.pack(">ii", 0, 0) + struct.pack(">ii", 3, 4))
    var_meta += (name("rv2") + struct.pack(">ii", 1, 0)           # dims: t
                 + struct.pack(">ii", 0, 0) + struct.pack(">ii", 3, 4))
    header_len = len(hdr) + len(var_meta) + 3 * 4                 # + three 4B begins
    b_fv = header_len
    b_rv1 = b_fv + 8
    b_rv2 = b_rv1 + 4                                             # rv1 slab first in each record
    # re-emit metas with begins
    hdr += (name("fv") + struct.pack(">ii", 1, 1)
            + struct.pack(">ii", 0, 0) + struct.pack(">ii", 4, 8)
            + struct.pack(">I", b_fv))
    hdr += (name("rv1") + struct.pack(">iii", 2, 0, 1)
            + struct.pack(">ii", 0, 0) + struct.pack(">ii", 3, 4)
            + struct.pack(">I", b_rv1))
    hdr += (name("rv2") + struct.pack(">ii", 1, 0)
            + struct.pack(">ii", 0, 0) + struct.pack(">ii", 3, 4)
            + struct.pack(">I", b_rv2))
    data = np.array([7, 8], ">i4").tobytes()                      # fv
    for r in range(3):                                            # records
        data += np.array([10 * r, 10 * r + 1], ">i2").tobytes()   # rv1 slab (4B)
        data += np.array([100 + r], ">i2").tobytes() + b"\x00\x00"  # rv2 + pad
    dims, v = read_netcdf3_bytes(hdr + data)
    assert dims == {"t": 3, "x": 2}
    np.testing.assert_array_equal(v["fv"], [7, 8])
    np.testing.assert_array_equal(v["rv1"], [[0, 1], [10, 11], [20, 21]])
    np.testing.assert_array_equal(v["rv2"], [100, 101, 102])

    # --- fixture 2: single record var rv(t) i2, numrecs=4, UNPADDED
    hdr = b"CDF\x01" + struct.pack(">i", 4)
    hdr += struct.pack(">ii", 0x0A, 1) + name("t") + struct.pack(">i", 0)
    hdr += struct.pack(">ii", 0, 0)
    hdr += struct.pack(">ii", 0x0B, 1)
    meta = (name("rv") + struct.pack(">ii", 1, 0)
            + struct.pack(">ii", 0, 0) + struct.pack(">ii", 3, 4))
    begin = len(hdr) + len(meta) + 4
    hdr += meta + struct.pack(">I", begin)
    data = np.array([1, 2, 3, 4], ">i2").tobytes()                # 2B stride, no pad
    dims, v = read_netcdf3_bytes(hdr + data)
    assert dims == {"t": 4}
    np.testing.assert_array_equal(v["rv"], [1, 2, 3, 4])


def test_domains_match_reference_table():
    """The 15 reference-named domains must carry the reference's exact
    coordinates (atlas.py:19-35) — a switching user's crop('agulhas')
    must select the same box."""
    from argostats_spark.schemas import DOMAINS

    ref = {
        "biscaye": (-15, 0, 35, 60), "subpolar": (-70, 0, 50, 70),
        "korea": (130, 140, 36, 44), "natl": (-90, 10, -10, 70),
        "satl": (-80, 0, -70, 10), "acc_indian": (0, 100, -60, -20),
        "acc": (-180, 180, -70, -30), "zapiola": (-60, -40, -50, -30),
        "atl": (-80, 20, -60, 60), "senegal": (-30, -10, 10, 30),
        "agulhas": (10, 30, -50, -30), "newzealand": (140, 180, -60, -30),
        "gulfstream": (-80, -50, 20, 50), "drake": (-80, -50, -70, -40),
        "gulfmexico": (-100, -60, 10, 30),
    }
    for name, box in ref.items():
        assert tuple(DOMAINS[name]) == tuple(float(x) for x in box), name


def test_netcdf3_streaming_numrecs_and_short_buffers():
    """Round-6 review fixes: the STREAMING numrecs sentinel (0xFFFFFFFF,
    written when a file wasn't closed normally) derives the record count
    from the buffer size instead of silently reading 0 records, and
    truncated sub-4-byte buffers raise the documented ValueError (not
    IndexError)."""
    import struct

    import numpy as np
    import pytest as _pytest

    from argostats_spark.sources.netcdf3 import read_netcdf3_bytes

    def name(s: str) -> bytes:
        raw = s.encode()
        return struct.pack(">i", len(raw)) + raw + b"\x00" * ((4 - len(raw) % 4) % 4)

    # single record var rv(t) i2, numrecs=STREAMING, 5 records on disk
    hdr = b"CDF\x01" + struct.pack(">I", 0xFFFFFFFF)
    hdr += struct.pack(">ii", 0x0A, 1) + name("t") + struct.pack(">i", 0)
    hdr += struct.pack(">ii", 0, 0)
    hdr += struct.pack(">ii", 0x0B, 1)
    meta = (name("rv") + struct.pack(">ii", 1, 0)
            + struct.pack(">ii", 0, 0) + struct.pack(">ii", 3, 4))
    begin = len(hdr) + len(meta) + 4
    hdr += meta + struct.pack(">I", begin)
    data = np.array([5, 6, 7, 8, 9], ">i2").tobytes()
    dims, v = read_netcdf3_bytes(hdr + data)
    assert dims == {"t": 5}
    np.testing.assert_array_equal(v["rv"], [5, 6, 7, 8, 9])

    for junk in (b"", b"C", b"CDF", b"CDF\x03rest", b"PAR1"):
        with _pytest.raises(ValueError):
            read_netcdf3_bytes(junk)


def test_netcdf3_roundtrip_property(tmp_path):
    """Property test: arbitrary fixed-size dim/var/attr combinations
    roundtrip bit-exactly through the codec in BOTH versions (classic
    and 64-bit offset) — names with odd lengths (padding), every
    supported dtype, scalar and array attributes, empty attr dicts."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from argostats_spark.sources.netcdf3 import read_netcdf3_full, write_netcdf3

    names = st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz_0123456789", min_size=1, max_size=9
    ).filter(lambda s: not s[0].isdigit())
    dtypes = st.sampled_from(["i1", "i2", "i4", "f4", "f8"])

    @settings(max_examples=25, deadline=None)
    @given(data=st.data(), version=st.sampled_from([1, 2]))
    def check(data, version):
        rng = np.random.default_rng(data.draw(st.integers(0, 2**31 - 1)))
        dim_names = data.draw(
            st.lists(names, min_size=1, max_size=3, unique=True)
        )
        dims = {n: int(rng.integers(1, 5)) for n in dim_names}
        var_names = data.draw(
            st.lists(names, min_size=1, max_size=4, unique=True)
        )
        variables = {}
        for vn in var_names:
            nd = int(rng.integers(0, len(dim_names) + 1))
            vdims = tuple(rng.choice(dim_names, nd, replace=False)) if nd else ()
            shape = tuple(dims[d] for d in vdims)
            dt = data.draw(dtypes)
            if dt.startswith("f"):
                arr = rng.standard_normal(shape).astype(dt)
            else:
                arr = rng.integers(-100, 100, shape).astype(dt)
            variables[vn] = (vdims, arr)
        gattrs = {"t": "s", "n": int(rng.integers(-1000, 1000)),
                  "arr": rng.standard_normal(3)}
        p = str(tmp_path / f"prop_{version}.nc")
        write_netcdf3(p, dims, variables, global_attrs=gattrs,
                      version=version)
        buf = open(p, "rb").read()
        assert buf[3] == version
        rdims, rvars, rg, _ = read_netcdf3_full(buf)
        assert rdims == dims
        assert set(rvars) == set(variables)
        for vn, (vdims, arr) in variables.items():
            got = rvars[vn]
            assert got.shape == arr.shape, (vn, got.shape, arr.shape)
            np.testing.assert_array_equal(got, arr)
        assert rg["t"] == "s" and rg["n"] == gattrs["n"]
        np.testing.assert_array_equal(rg["arr"], gattrs["arr"])

    check()


def test_netcdf3_reader_survives_fuzzed_bytes(tmp_path):
    """Robustness fuzz: random truncations and byte flips of a valid
    file must either parse or raise promptly (ValueError / struct.error
    / Unicode / numpy size errors) — never hang, loop, or segfault.
    The GDAC ingest wraps per-file parses in corrupt-file tolerance, so
    'raises promptly' is the full contract."""
    import struct

    import numpy as np

    from argostats_spark.sources.netcdf3 import read_netcdf3_bytes, write_netcdf3

    p = str(tmp_path / "base.nc")
    rng = np.random.default_rng(99)
    write_netcdf3(
        p, {"a": 4, "b": 3},
        {"x": (("a", "b"), rng.random((4, 3)).astype("f4")),
         "y": (("a",), np.arange(4, dtype="i4"))},
        global_attrs={"t": "fuzz", "n": 7},
    )
    base = open(p, "rb").read()

    for i in range(60):
        buf = bytearray(base)
        if i % 3 == 0:                       # truncate
            buf = buf[: int(rng.integers(0, len(buf)))]
        elif i % 3 == 1:                     # flip 1-4 bytes
            for _ in range(int(rng.integers(1, 5))):
                buf[int(rng.integers(0, len(buf)))] ^= int(rng.integers(1, 256))
        else:                                # splice garbage
            at = int(rng.integers(0, len(buf)))
            buf[at:at] = bytes(rng.integers(0, 256, 8, dtype=np.uint8))
        try:
            read_netcdf3_bytes(bytes(buf))
        except (ValueError, struct.error, IndexError, KeyError,
                UnicodeDecodeError, OverflowError, MemoryError):
            pass  # prompt, typed failure — acceptable for corrupt input
