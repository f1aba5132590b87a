"""DuckDB twin of the argo_atlas_pipeline query (split out of
queries.py, which had grown past 2,500 lines).

The Spark query (queries.py::q_argo_atlas_pipeline) writes its
interpolated profiles to a parquet temp-path and reads them back; the
oracle SQL built here reads the SAME parquet and recomputes everything
downstream independently in pure SQL: grid generation, brute-force
haversine θ-join, per-level kernel-weighted CT/SR means, the TEOS-10
75-term specific-volume polynomial (ρ and sound speed are GENERATED as
SQL from the same published coefficient table the NumPy kernel uses —
functions/teos10.py), the compressibility factor (running-sum window),
the monotone reference curve (running max), the isopycnal-displacement
linear interpolation (np.interp semantics: in-range segment lookup
incl. duplicate-knot ties, clamped ends), the R14 EAPE weighted mean,
and the T25 EAPE variant (the Lorenz-profile gammat bisection replayed
as a recursive-CTE bisection over the generated polynomial). Only the
interpolation itself (cubic spline, allclose-tested in
tests/test_argo_pipeline.py per BASELINE.md tolerance policy) rides in
as data. Reference precedent for differential testing:
src/argostats/lorenz/lorenz_state.py:5-29.
"""

from __future__ import annotations

import math
import os

# Read at import so the Spark writer and the oracle SQL (which embeds
# the path as a literal) always agree. On a cluster, point
# ARGOSTATS_ATLAS_TMP at a shared filesystem — local /tmp is only valid
# where driver and executors share a machine (the query asserts this).
# The default is scoped per-user so two users on one host do not race
# on the same directory; concurrent runs under ONE user (pytest-xdist,
# bench + driver) are a documented single-writer-per-path assumption —
# both writers produce identical bytes and the swap below is atomic,
# so the residual race is two identical swaps, not corruption.
def _default_atlas_path() -> str:
    import getpass
    import tempfile

    try:
        user = getpass.getuser()
    except Exception:  # no passwd entry in minimal containers
        user = f"uid{os.getuid()}"
    return os.path.join(
        tempfile.gettempdir(), f"argostats_spark_{user}", "atlas_profiles.parquet"
    )


_ATLAS_ORACLE_PARQUET = os.environ.get("ARGOSTATS_ATLAS_TMP", _default_atlas_path())
_ATLAS_THETA = math.sin(math.radians(4.0 * 2.0) / 2.0) ** 2  # sf=4, reso=2°


def _specvol_poly_sql(xs: str, ys: str, zz: str) -> tuple[str, str]:
    """The Roquet et al. (2015) 75-term specific-volume polynomial and
    its analytic z-derivative as SQL expressions over pre-computed
    normalized columns — the same coefficient table functions/teos10.py
    evaluates with NumPy, so the oracle's ρ and sound speed are fully
    independent recomputations (summation order differs; the query's
    4-decimal rounding absorbs the ~1e-12 relative float divergence)."""
    from .functions.teos10 import _SPECVOL_COEFS

    def term(coef: float, a: int, b: int, c: int) -> str:
        fs = [f"({coef!r})"]
        for v, e in ((xs, a), (ys, b), (zz, c)):
            if e == 1:
                fs.append(v)
            elif e > 1:
                fs.append(f"pow({v},{e})")
        return "*".join(fs)

    v = " + ".join(term(val, a, b, c) for (a, b, c), val in sorted(_SPECVOL_COEFS.items()))
    dvdz = " + ".join(
        term(val * c, a, b, c - 1)
        for (a, b, c), val in sorted(_SPECVOL_COEFS.items())
        if c >= 1
    )
    return f"({v})", f"({dvdz})"


def _np_interp_sql(x: str) -> str:
    """``np.interp(x, curve, p)`` as a SQL expression, evaluated against
    a per-cell segment table aliased ``seg`` (columns glon, glat, ck,
    ck1, yk, yk1 — consecutive curve knots via lead()) and a bounds row
    aliased ``b`` (c_first/p_first, c_last/p_last), correlated on an
    outer row aliased ``pi`` carrying glon/glat. Semantics pinned
    against np.interp by a hypothesis property test
    (tests/test_oracle_parity.py), including the corners:

    - in-range x: exactly one non-empty segment satisfies
      ck <= x < ck1 (zero-width segments from duplicate knots can never
      match) — at a duplicated knot the surviving segment starts at the
      LAST duplicate, which is what np.interp returns;
    - x past either end (or equal to the last knot, where no segment
      matches): clamp to the end value, like np.interp.
    """
    return f"""coalesce(
               (SELECT s.yk + ({x} - s.ck)*(s.yk1 - s.yk)/(s.ck1 - s.ck)
                FROM seg s
                WHERE s.glon = pi.glon AND s.glat = pi.glat
                  AND s.ck <= {x} AND {x} < s.ck1),
               CASE WHEN {x} >= b.c_last THEN b.p_last ELSE b.p_first END
             )"""


def _atlas_pipeline_oracle_sql() -> str:
    from .functions.teos10 import _OFFSET, _SFAC
    from .schemas import pref64

    th = repr(_ATLAS_THETA)
    pref_rows = ", ".join(
        f"({k + 1}, {float(p)!r})" for k, p in enumerate(pref64())
    )
    # density at level 10 (1-based; element_at(CT, 10) ↔ pref index 9)
    p10 = repr(float(pref64()[9]))
    hav = (
        "pow(sin(radians(p.lat - g.glat)/2),2)"
        " + cos(radians(g.glat))*cos(radians(p.lat))"
        "*pow(sin(radians(p.lon - g.glon)/2),2)"
    )
    norm = (
        f"sqrt(greatest({_SFAC!r}*CAST({{sa}} AS DOUBLE) + {_OFFSET!r}, 0.0))",
        "CAST({ct} AS DOUBLE)*0.025",
        "{p}*1e-4",
    )
    v_cell, dvdz_cell = _specvol_poly_sql("xs", "ys", "zz")
    v_pair, _ = _specvol_poly_sql("xsi", "ysi", f"({p10}*1e-4)")
    return f"""
    WITH RECURSIVE prof AS (
      SELECT CAST(LONGITUDE AS DOUBLE) AS lon, CAST(LATITUDE AS DOUBLE) AS lat,
             CT, SR, IDX
      FROM read_parquet('{_ATLAS_ORACLE_PARQUET}/*.parquet')
      WHERE FLAG = 1 AND DATA_MODE = 1
    ),
    bounds AS (
      SELECT CAST(floor(min(lon)) AS DOUBLE) AS lo_w,
             CAST(ceil(max(lon)) AS DOUBLE) AS lo_e,
             CAST(floor(min(lat)) AS DOUBLE) AS la_s,
             CAST(ceil(max(lat)) AS DOUBLE) AS la_n
      FROM prof
    ),
    grid AS (
      SELECT CAST(b.lo_w + i.i*2 + 1 AS DOUBLE) AS glon,
             CAST(b.la_s + j.j*2 + 1 AS DOUBLE) AS glat
      FROM bounds b, range(0, 200) i(i), range(0, 100) j(j)
      WHERE i.i < CAST(ceil((b.lo_e + 2 - b.lo_w)/2.0) AS BIGINT)
        AND j.j < CAST(ceil((b.la_n + 2 - b.la_s)/2.0) AS BIGINT)
    ),
    pairs AS (
      SELECT g.glon, g.glat, p.CT, p.SR, p.IDX, {hav} AS hav
      FROM grid g JOIN prof p ON {hav} <= {th}
    ),
    plev AS (
      SELECT glon, glat, exp(-hav/{th}) AS w,
             unnest(CT) AS ct, unnest(SR) AS sr, unnest(IDX) AS idx,
             unnest(generate_series(1, 64)) AS lev
      FROM pairs
    ),
    cellmean AS (
      SELECT glon, glat, lev,
             sum(w*idx) AS n_lev,
             CASE WHEN sum(w*idx) > 0
                  THEN CAST(sum(w*idx*ct)/sum(w*idx) AS REAL)
                  ELSE CAST(0.0 AS REAL) END AS ct_bar,
             CASE WHEN sum(w*idx) > 0
                  THEN CAST(sum(w*idx*sr)/sum(w*idx) AS REAL)
                  ELSE CAST(0.0 AS REAL) END AS sr_bar
      FROM plev GROUP BY glon, glat, lev
    ),
    pref(lev, p) AS (VALUES {pref_rows}),
    celltherm AS (
      SELECT m.glon, m.glat, m.lev, r.p, m.ct_bar, m.sr_bar,
             {norm[0].format(sa="m.sr_bar")} AS xs,
             {norm[1].format(ct="m.ct_bar")} AS ys,
             {norm[2].format(p="r.p")} AS zz
      FROM cellmean m JOIN pref r ON m.lev = r.lev
    ),
    cellv AS (
      SELECT *, {v_cell} AS v, {dvdz_cell} AS dvdz FROM celltherm
    ),
    cellc AS (
      SELECT glon, glat, lev, p, 1.0/v AS rho_bar,
             1e4*sqrt(-v*v/dvdz) AS c,
             p - coalesce(lag(p) OVER (PARTITION BY glon, glat ORDER BY lev), p) AS dp
      FROM cellv
    ),
    cellcf AS (
      SELECT *, exp(-sum(1e4*dp/(rho_bar*c*c))
                    OVER (PARTITION BY glon, glat ORDER BY lev)) AS cf
      FROM cellc
    ),
    cellcurve AS (
      SELECT *, max(rho_bar*cf) OVER (PARTITION BY glon, glat ORDER BY lev) AS curve
      FROM cellcf
    ),
    seg AS (
      SELECT glon, glat, curve AS ck, p AS yk,
             lead(curve) OVER (PARTITION BY glon, glat ORDER BY lev) AS ck1,
             lead(p) OVER (PARTITION BY glon, glat ORDER BY lev) AS yk1
      FROM cellcurve
    ),
    cbound AS (
      SELECT glon, glat, arg_min(curve, lev) AS c_first, arg_min(p, lev) AS p_first,
             arg_max(curve, lev) AS c_last, arg_max(p, lev) AS p_last
      FROM cellcurve GROUP BY glon, glat
    ),
    p10 AS (
      SELECT glon, glat, exp(-hav/{th}) AS w,
             CAST(IDX[10] AS DOUBLE) AS idx10,
             {norm[0].format(sa="SR[10]")} AS xsi,
             {norm[1].format(ct="CT[10]")} AS ysi
      FROM pairs
    ),
    pi10 AS (
      SELECT glon, glat, w, idx10, xsi, ysi, 1.0/({v_pair}) AS rho_i FROM p10
    ),
    d10 AS (
      SELECT pi.glon, pi.glat, pi.w, pi.idx10, pi.rho_i,
             cc.rho_bar AS rho_bar10,
             {_np_interp_sql("pi.rho_i*cc.cf")} AS disp
      FROM pi10 pi
      JOIN cellcurve cc ON cc.glon = pi.glon AND cc.glat = pi.glat AND cc.lev = 10
      JOIN cbound b ON b.glon = pi.glon AND b.glat = pi.glat
    ),
    eape10 AS (
      SELECT glon, glat,
             CASE WHEN sum(w*idx10) > 0
                  THEN sum(w*idx10 * 0.5*100.0*(rho_i - rho_bar10)*(disp - {p10}))
                       / sum(w*idx10)
                  ELSE 0.0 END AS eape_m
      FROM d10 GROUP BY glon, glat
    ),
    {_t25_bisection_sql(p10)},
    npts AS (
      SELECT glon, glat, count(*) AS n_points FROM pairs GROUP BY glon, glat
    )
    SELECT n.glon, n.glat, n.n_points,
           round(CAST(m.ct_bar AS DOUBLE), 4) AS ct_l10,
           round(CAST(m.sr_bar AS DOUBLE), 4) AS sr_l10,
           round(CAST(CAST(e.eape_m AS REAL) AS DOUBLE), 4) AS eape_l10,
           round(CAST(CAST(t.eape_t25 AS REAL) AS DOUBLE), 4) AS eape_t25_l10
    FROM npts n
    JOIN cellmean m ON m.glon = n.glon AND m.glat = n.glat AND m.lev = 10
    JOIN eape10 e ON e.glon = n.glon AND e.glat = n.glat
    JOIN eape10_t25 t ON t.glon = n.glon AND t.glat = n.glat
    """


def _lorenz_sql(z: str) -> tuple[str, str]:
    """ρref(z) and pr(z) as SQL over a non-negative z expression — the
    published Tailleux-2021 closed forms functions/lorenz.py evaluates
    with NumPy (lorenz_reference_density / pr_from_zref), regenerated
    here from the same constants so the oracle's Lorenz profile is an
    independent recomputation."""
    from .functions.lorenz import (
        _A_FIT, _B_FIT, _C_FIT, _D_FIT, _E_FIT, _GRAV, _IA, _IC, _ID,
    )

    rho_ref = (
        f"({_A_FIT / (_B_FIT + 1.0)!r})*pow({z} + {_E_FIT!r}, {_B_FIT + 1.0!r})"
        f" + ({_C_FIT!r})*{z} + ({_D_FIT!r})"
    )
    pr = (
        f"({_GRAV / 1e4!r})*(({_IA!r})*pow({z} + {_E_FIT!r}, {_B_FIT + 2.0!r})"
        f" + ({_IC!r})*{z}*{z} + ({_D_FIT!r})*{z} - ({_ID!r}))"
    )
    return rho_ref, pr


def _t25_bisection_sql(p10: str) -> str:
    """The T25 EAPE variant (operators/atlas.py::_eape_kernel
    algo="T25"; reference atlas.py:194-231, 300-304) as SQL: the
    30-iteration vectorized bisection of functions/lorenz.py::
    gammat_analytic replayed as a recursive CTE, one 75-term-polynomial
    evaluation per (pair, iteration).

    Per pair at level 10: find zref ∈ [0, 6000] with ρref(zref) =
    ρ(SR₁₀, CT₁₀, pr(zref)); samples with no interior sign change clamp
    to the surface (f(0) ≥ 0) or bottom (f(6000) ≤ 0, which wins when
    both hold — matching the NumPy where-order). Then disp = pr(zref),
    eape_i = ½·unit·(ρᵢ − ρref(p₁₀))·(disp − p₁₀), weighted-mean by
    w·idx exactly like R14. The NumPy branch decision
    ``sign(f_mid) == sign(f_lo)`` is reproduced verbatim; a cross-engine
    branch flip needs |f_mid| at the float-noise floor, where both
    intervals already bracket the root to ~1e-7 m — absorbed by the f4
    cast + 4-decimal rounding like every other hashed column."""
    v_sql, _ = _specvol_poly_sql("xsi", "ysi", "zzm")
    rho_ref_mid, pr_mid = _lorenz_sql("mid")
    rho_ref_z0, pr_z0 = _lorenz_sql("CAST(0.0 AS DOUBLE)")
    rho_ref_zmax, pr_zmax = _lorenz_sql("CAST(6000.0 AS DOUBLE)")
    v_z0, _ = _specvol_poly_sql("xsi", "ysi", f"(({pr_z0})*1e-4)")
    v_zmax, _ = _specvol_poly_sql("xsi", "ysi", f"(({pr_zmax})*1e-4)")
    rho_ref_p10, _ = _lorenz_sql(f"({p10})")
    _, pr_zref = _lorenz_sql("zref")
    return f"""
    bis AS (
      SELECT glon, glat, w, idx10, rho_i, xsi, ysi, 0 AS iter,
             CAST(0.0 AS DOUBLE) AS lo, CAST(6000.0 AS DOUBLE) AS hi,
             ({rho_ref_z0}) - 1.0/({v_z0}) AS f_lo,
             (({rho_ref_z0}) - 1.0/({v_z0})) >= 0.0 AS clamp_s,
             (({rho_ref_zmax}) - 1.0/({v_zmax})) <= 0.0 AS clamp_b
      FROM pi10
      UNION ALL
      SELECT glon, glat, w, idx10, rho_i, xsi, ysi, iter + 1,
             CASE WHEN sign(fmid) = sign(f_lo) THEN mid ELSE lo END,
             CASE WHEN sign(fmid) = sign(f_lo) THEN hi ELSE mid END,
             CASE WHEN sign(fmid) = sign(f_lo) THEN fmid ELSE f_lo END,
             clamp_s, clamp_b
      FROM (
        SELECT *, ({rho_ref_mid}) - 1.0/({v_sql}) AS fmid
        FROM (
          SELECT *, (lo + hi)/2.0 AS mid, (({pr_mid})*1e-4) AS zzm
          FROM bis WHERE iter < 30
        )
      )
    ),
    t25disp AS (
      SELECT glon, glat, w, idx10, rho_i,
             CASE WHEN clamp_b THEN ({pr_zmax})
                  WHEN clamp_s THEN ({pr_z0})
                  ELSE ({pr_zref}) END AS disp
      FROM (SELECT *, (lo + hi)/2.0 AS zref FROM bis WHERE iter = 30)
    ),
    eape10_t25 AS (
      SELECT glon, glat,
             CASE WHEN sum(w*idx10) > 0
                  THEN sum(w*idx10 * 0.5*100.0
                           * (rho_i - ({rho_ref_p10}))*(disp - {p10}))
                       / sum(w*idx10)
                  ELSE 0.0 END AS eape_t25
      FROM t25disp GROUP BY glon, glat
    )"""


def ensure_atlas_oracle_parquet() -> None:
    """Driver-ordering guard: if the correctness driver evaluates the
    oracle SQL BEFORE running the Spark query on a clean machine, the
    materialized intermediate would not exist yet. The pipeline upstream
    of the materialization is deterministic (seed 42) and driver-sized
    (48 profiles), so generate it here WITHOUT Spark via the pandas
    twins — make_raw_pandas (row-identical to the distributed make_raw,
    pinned by test) and the same _interp_one_wmo kernel the Spark query
    maps — writing only the columns the oracle reads. The Spark query
    overwrites the path with identical values whenever it runs
    (tests/test_argo_pipeline.py::test_atlas_oracle_parquet_driver_twin
    pins the equality).

    Regenerates UNCONDITIONALLY into a fresh directory swapped into
    place (round-5 review): an exists-check would trust forever a
    half-written directory from a killed process, or rows produced by
    an older kernel version — both self-heal here. The staging dir is
    mkdtemp-unique per process (round-5 advice: a fixed '.twin-tmp'
    sibling races under pytest-xdist or bench+driver overlap) and the
    final rename is atomic; two same-user writers race only on the
    rmtree of a PREVIOUS generation, which is retried once — both
    produce identical bytes, so either winner is correct."""
    import shutil
    import tempfile

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .operators.interpolation import _interp_one_wmo
    from .sources.synthetic import make_raw_pandas

    raw = make_raw_pandas(n_wmos=6, profiles_per_wmo=8, seed=42)
    # FLAG gate exactly as interpolate_profiles: product-combine, keep 1
    raw = raw.assign(FLAG=raw.POSITION_QC * raw.JULD_QC)
    raw = raw[raw.FLAG == 1]
    out = pd.concat(
        [_interp_one_wmo(g) for _, g in raw.groupby("WMO")], ignore_index=True
    )
    cols = ["LONGITUDE", "LATITUDE", "FLAG", "DATA_MODE", "CT", "SR", "IDX"]
    table = pa.table(
        {
            "LONGITUDE": pa.array(out.LONGITUDE, pa.float32()),
            "LATITUDE": pa.array(out.LATITUDE, pa.float32()),
            "FLAG": pa.array(out.FLAG, pa.int8()),
            "DATA_MODE": pa.array(out.DATA_MODE, pa.int8()),
            "CT": pa.array(out.CT, pa.list_(pa.float32())),
            "SR": pa.array(out.SR, pa.list_(pa.float32())),
            "IDX": pa.array(out.IDX, pa.list_(pa.int8())),
        }
    ).select(cols)
    dest = _ATLAS_ORACLE_PARQUET
    parent = os.path.dirname(dest) or "."
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".atlas-twin-", dir=parent)
    pq.write_table(table, os.path.join(tmp, "part-driver.parquet"))
    for _ in range(2):
        shutil.rmtree(dest, ignore_errors=True)
        try:
            os.rename(tmp, dest)
            return
        except OSError:
            continue  # a concurrent writer recreated dest first; retry
    shutil.rmtree(tmp, ignore_errors=True)
    if not os.path.isdir(dest):  # pragma: no cover - double race lost
        raise RuntimeError(f"could not install atlas oracle parquet at {dest}")
