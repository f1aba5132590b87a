"""TEOS-10 thermodynamic kernels (SURVEY.md §2.8 F4-F6).

The reference calls the GSW library (gsw.SR_from_SP, gsw.CT_from_t,
gsw.density.rho — reference: src/argostats/interpolation.py:200-210,
atlas.py:184-224). GSW is not installed in this environment, so this
module implements the same physics from the published literature:

- ``sr_from_sp``: exact — SR = SP · 35.16504/35 (Millero et al. 2008).
- ``specvol`` / ``rho``: the 75-term polynomial expression for specific
  volume v(SA, CT, p) of Roquet, Madec, McDougall & Barker (2015),
  "Accurate polynomial expressions for the density and specific volume
  of seawater using the TEOS-10 standard", Ocean Modelling 90:29-43 —
  the same polynomial GSW's ``gsw.density.rho`` evaluates. Coefficients
  are transcribed from the published polynomial; the v501 coefficient
  (xs⁵·z term) was pinned by solving the paper's own check value
  v(SA=30 g/kg, CT=10 °C, p=1000 dbar) = 9.732819628e-4 m³/kg exactly
  (one-parameter solve; the result also reproduces the six GSW
  standard-profile check densities to ≤5e-4 kg/m³ — see
  tests/test_functions.py).
- ``ct_from_t``: in-situ t → potential temperature θ by the published
  adiabatic-lapse-rate Runge-Kutta-Gill integration of Fofonoff &
  Millard (1983, UNESCO Tech. Paper 44; check values atg(40,40,10000)
  = 3.255976e-4, θ(40,40,10000→0) = 36.89073 reproduced exactly),
  then θ → conservative temperature via the potential-enthalpy
  polynomial of McDougall (2003) as standardized in TEOS-10
  (``ct_from_pt``). The EOS-80 θ differs from the TEOS-10 Gibbs θ by
  O(1e-4 K) over the Argo range — the composite matches GSW CT_from_t
  check values to ≤2.1e-4 K down to 1000 dbar.
- ``sound_speed``: c = 1e4·√(−v²/(∂v/∂z)) from the analytic derivative
  of the same 75-term polynomial (what GSW's gsw_sound_speed does).
- ``alpha`` / ``beta``: thermal expansion / haline contraction from the
  analytic CT- and SA-derivatives of the polynomial.

When the real ``gsw`` package is importable it is preferred (exact
TEOS-10 Gibbs-function paths). Everything is NumPy-vectorized and
consumed by Arrow-batched pandas UDF kernels — the same vectorized
shape the reference's C-accelerated ufuncs map onto (SURVEY.md §2.10
'vectorized scalar').
"""

from __future__ import annotations

import numpy as np

try:  # pragma: no cover - exercised only where gsw exists
    import gsw as _gsw
except ImportError:
    _gsw = None

# TEOS-10 reference-salinity scale factor (exact, public constant).
UPS = 35.16504 / 35.0

# Reference density scale used by the Lorenz analytic profile (kg/m3).
RHO0 = 1027.0

# --------------------------------------------------------------------------
# 75-term specific-volume polynomial (Roquet et al. 2015, Appendix):
# v = Σ V[a,b,c] · xs^a · ys^b · z^c with
#   xs = sqrt(sfac·SA + offset),  ys = CT/40,  z = p/1e4.
# --------------------------------------------------------------------------

_SFAC = 0.0248826675584615          # 1 / (40 · 35.16504/35)  [kg/g]
_OFFSET = 5.971840214030754e-1      # 24 · _SFAC (deltaS = 24)

_SPECVOL_COEFS: dict[tuple[int, int, int], float] = {
    (0, 0, 0):  1.0769995862e-03, (1, 0, 0): -3.1038981976e-04,
    (2, 0, 0):  6.6928067038e-04, (3, 0, 0): -8.5047933937e-04,
    (4, 0, 0):  5.8086069943e-04, (5, 0, 0): -2.1092370507e-04,
    (6, 0, 0):  3.1932457305e-05,
    (0, 1, 0): -1.5649734675e-05, (1, 1, 0):  3.5009599764e-05,
    (2, 1, 0): -4.3592678561e-05, (3, 1, 0):  3.4532461828e-05,
    (4, 1, 0): -1.1959409788e-05, (5, 1, 0):  1.3864594581e-06,
    (0, 2, 0):  2.7762106484e-05, (1, 2, 0): -3.7435842344e-05,
    (2, 2, 0):  3.5907822760e-05, (3, 2, 0): -1.8698584187e-05,
    (4, 2, 0):  3.8595339244e-06,
    (0, 3, 0): -1.6521159259e-05, (1, 3, 0):  2.4141479483e-05,
    (2, 3, 0): -1.4353633048e-05, (3, 3, 0):  2.2863324556e-06,
    (0, 4, 0):  6.9111322702e-06, (1, 4, 0): -8.7595873154e-06,
    (2, 4, 0):  4.3703680598e-06,
    (0, 5, 0): -8.0539615540e-07, (1, 5, 0): -3.3052758900e-07,
    (0, 6, 0):  2.0543094268e-07,
    (0, 0, 1): -6.0799143809e-05, (1, 0, 1):  2.4262468747e-05,
    (2, 0, 1): -3.4792460974e-05, (3, 0, 1):  3.7470777305e-05,
    (4, 0, 1): -1.7322218612e-05,
    # v501 pinned by the paper's check value v(30,10,1000) =
    # 9.732819628e-4 m^3/kg (exact one-parameter solve; see module doc)
    (5, 0, 1):  3.0927428578e-06,
    (0, 1, 1):  1.8505765429e-05, (1, 1, 1): -9.5677088156e-06,
    (2, 1, 1):  1.1100834765e-05, (3, 1, 1): -9.8447117844e-06,
    (4, 1, 1):  2.5909225260e-06,
    (0, 2, 1): -1.1716606853e-05, (1, 2, 1): -2.3678308361e-07,
    (2, 2, 1):  2.9283346295e-06, (3, 2, 1): -4.8826139200e-07,
    (0, 3, 1):  7.9279656173e-06, (1, 3, 1): -3.4558773655e-06,
    (2, 3, 1):  3.1655306078e-07,
    (0, 4, 1): -3.4102187482e-06, (1, 4, 1):  1.2956717783e-06,
    (0, 5, 1):  5.0736766814e-07,
    (0, 0, 2):  9.9856169219e-06, (1, 0, 2): -5.8484432984e-07,
    (2, 0, 2): -4.8122251597e-06, (3, 0, 2):  4.9263106998e-06,
    (4, 0, 2): -1.7811974727e-06,
    (0, 1, 2): -1.1736386731e-06, (1, 1, 2): -5.5699154557e-06,
    (2, 1, 2):  5.4620748834e-06, (3, 1, 2): -1.3544185627e-06,
    (0, 2, 2):  2.1305028740e-06, (1, 2, 2):  3.9137387080e-07,
    (2, 2, 2): -6.5731104067e-07,
    (0, 3, 2): -4.6132540037e-07, (1, 3, 2):  7.7618888092e-09,
    (0, 4, 2): -6.3352916514e-08,
    (0, 0, 3): -1.1309361437e-06, (1, 0, 3):  3.6310188515e-07,
    (2, 0, 3):  1.6746303780e-08,
    (0, 1, 3): -3.6527006553e-07, (1, 1, 3): -2.7295696237e-07,
    (0, 2, 3):  2.8695905159e-07,
    (0, 0, 4):  1.0531153080e-07, (1, 0, 4): -1.1147125423e-07,
    (0, 1, 4):  3.1454099902e-07,
    (0, 0, 5): -1.2647261286e-08,
    (0, 0, 6):  1.9613503930e-09,
}

_V = np.zeros((7, 7, 7))
for (_a, _b, _c), _val in _SPECVOL_COEFS.items():
    _V[_a, _b, _c] = _val
# analytic partial derivatives of the polynomial (coefficient arrays)
_V_DZ = _V[:, :, 1:] * np.arange(1, 7)          # d/dz
_V_DY = _V[:, 1:, :] * np.arange(1, 7)[None, :, None]  # d/dys
_V_DX = _V[1:, :, :] * np.arange(1, 7)[:, None, None]  # d/dxs


def _powers(v: np.ndarray, n: int) -> np.ndarray:
    """(n, N) matrix of v**0..v**(n-1) built by cumulative multiply."""
    out = np.empty((n, v.size), dtype="f8")
    out[0] = 1.0
    flat = v.ravel()
    for k in range(1, n):
        out[k] = out[k - 1] * flat
    return out


def _poly3(C: np.ndarray, xs, ys, z):
    """Evaluate Σ C[a,b,c]·xs^a·ys^b·z^c as one einsum contraction —
    the polynomial runs inside C loops regardless of batch shape, so the
    per-cell Arrow group kernels (EAPE: rho on (n_pairs, 64) blocks)
    pay ~20 numpy calls instead of 343 Python-level Horner steps."""
    xs, ys, z = np.broadcast_arrays(xs, ys, z)
    shape = xs.shape
    X = _powers(np.asarray(xs, dtype="f8"), C.shape[0])
    Y = _powers(np.asarray(ys, dtype="f8"), C.shape[1])
    Z = _powers(np.asarray(z, dtype="f8"), C.shape[2])
    na, nb, nc = C.shape
    t = (C.reshape(na * nb, nc) @ Z).reshape(na, nb, -1)  # contract z (BLAS)
    t = np.einsum("abn,bn->an", t, Y)                     # contract ys
    out = (t * X).sum(axis=0)                             # contract xs
    return out.reshape(shape) if shape else out[0]


def _norm(sa, ct, p):
    sa = np.asarray(sa, dtype="f8")
    ct = np.asarray(ct, dtype="f8")
    p = np.asarray(p, dtype="f8")
    xs = np.sqrt(np.maximum(_SFAC * sa + _OFFSET, 0.0))
    ys = ct * 0.025
    z = p * 1e-4
    return xs, ys, z


def specvol(sa: np.ndarray, ct: np.ndarray, p: np.ndarray) -> np.ndarray:
    """Specific volume v(SA, CT, p) [m³/kg] — 75-term polynomial."""
    if _gsw is not None:
        return _gsw.specvol(sa, ct, p)
    xs, ys, z = _norm(sa, ct, p)
    return _poly3(_V, xs, ys, z)


def rho(sr: np.ndarray, ct: np.ndarray, p: np.ndarray) -> np.ndarray:
    """In-situ seawater density ρ(SA, CT, p) [kg/m³] — TEOS-10 75-term
    polynomial (what the reference's gsw.density.rho computes,
    atlas.py:184-224)."""
    if _gsw is not None:
        return _gsw.density.rho(sr, ct, p)
    return 1.0 / specvol(sr, ct, p)


def alpha(sa: np.ndarray, ct: np.ndarray, p: np.ndarray) -> np.ndarray:
    """Thermal expansion coefficient α = (1/v)·∂v/∂CT [1/K]."""
    if _gsw is not None:
        return _gsw.alpha(sa, ct, p)
    xs, ys, z = _norm(sa, ct, p)
    v = _poly3(_V, xs, ys, z)
    return 0.025 * _poly3(_V_DY, xs, ys, z) / v


def beta(sa: np.ndarray, ct: np.ndarray, p: np.ndarray) -> np.ndarray:
    """Haline contraction coefficient β = −(1/v)·∂v/∂SA [kg/g]."""
    if _gsw is not None:
        return _gsw.beta(sa, ct, p)
    xs, ys, z = _norm(sa, ct, p)
    v = _poly3(_V, xs, ys, z)
    dv_dxs = _poly3(_V_DX, xs, ys, z)
    return -(_SFAC / (2.0 * xs)) * dv_dxs / v


def sound_speed(sr: np.ndarray, ct: np.ndarray, p: np.ndarray) -> np.ndarray:
    """Sound speed c = 1e4·√(−v²/(∂v/∂z)) [m/s] from the analytic z
    derivative of the 75-term polynomial (GSW gsw_sound_speed); feeds
    the compressibility factor CF (reference atlas.py:320-324)."""
    if _gsw is not None:
        return _gsw.sound_speed(sr, ct, p)
    xs, ys, z = _norm(sr, ct, p)
    v = _poly3(_V, xs, ys, z)
    dv_dz = _poly3(_V_DZ, xs, ys, z)
    return 1e4 * np.sqrt(-v * v / dv_dz)


# --------------------------------------------------------------------------
# Temperature conversions
# --------------------------------------------------------------------------


def sr_from_sp(sp: np.ndarray) -> np.ndarray:
    """Reference salinity from practical salinity (exact TEOS-10 scale)."""
    if _gsw is not None:
        return _gsw.SR_from_SP(sp)
    return np.asarray(sp, dtype="f8") * UPS


def adiabatic_lapse_rate(s, t, p):
    """Adiabatic temperature gradient Γ(S, t, p) [°C/dbar] — Fofonoff &
    Millard (1983) eq. 31 (UNESCO check: atg(40,40,10000) = 3.255976e-4,
    reproduced exactly in tests). S is practical salinity."""
    s = np.asarray(s, dtype="f8")
    t = np.asarray(t, dtype="f8")
    p = np.asarray(p, dtype="f8")
    ds = s - 35.0
    return (
        (((-2.1687e-16 * t + 1.8676e-14) * t - 4.6206e-13) * p
         + ((2.7759e-12 * t - 1.1351e-10) * ds
            + ((-5.4481e-14 * t + 8.733e-12) * t - 6.7795e-10) * t
            + 1.8741e-8)) * p
        + (-4.2393e-8 * t + 1.8932e-6) * ds
        + ((6.6228e-10 * t - 6.836e-8) * t + 8.5258e-6) * t
        + 3.5803e-5
    )


def pt_from_t(s, t, p, p_ref=0.0):
    """Potential temperature θ referenced to ``p_ref`` by 4th-order
    Runge-Kutta-Gill integration of the lapse rate (Fofonoff & Millard
    1983; UNESCO check θ(40,40,10000→0) = 36.89073 reproduced). S is
    practical salinity."""
    s = np.asarray(s, dtype="f8")
    t = np.asarray(t, dtype="f8")
    p = np.asarray(p, dtype="f8")
    sq2 = np.sqrt(2.0)
    dp = p_ref - p
    dth = dp * adiabatic_lapse_rate(s, t, p)
    th = t + 0.5 * dth
    q = dth
    dth = dp * adiabatic_lapse_rate(s, th, p + 0.5 * dp)
    th = th + (1.0 - 1.0 / sq2) * (dth - q)
    q = (2.0 - sq2) * dth + (-2.0 + 3.0 / sq2) * q
    dth = dp * adiabatic_lapse_rate(s, th, p + 0.5 * dp)
    th = th + (1.0 + 1.0 / sq2) * (dth - q)
    q = (2.0 + sq2) * dth + (-2.0 - 3.0 / sq2) * q
    dth = dp * adiabatic_lapse_rate(s, th, p + dp)
    return th + (dth - 2.0 * q) / 6.0


def pt0_from_t(sa: np.ndarray, t: np.ndarray, p: np.ndarray) -> np.ndarray:
    """Potential temperature referenced to 0 dbar. ``sa`` is absolute/
    reference salinity (g/kg); converted to practical salinity for the
    EOS-80 lapse-rate integration."""
    if _gsw is not None:
        return _gsw.pt0_from_t(sa, t, p)
    return pt_from_t(np.asarray(sa, dtype="f8") / UPS, t, p)


# Potential-enthalpy polynomial of McDougall (2003), as standardized in
# TEOS-10; cp0 is the TEOS-10 heat-capacity constant.
_CP0 = 3991.86795711963


def ct_from_pt(sa: np.ndarray, pt: np.ndarray) -> np.ndarray:
    """Conservative temperature from potential temperature: CT =
    h_pot(SA, θ)/cp0 (McDougall 2003). Designed so CT(SSO, θ) ≈ θ:
    reproduced to ≤1e-5 K in tests."""
    if _gsw is not None:
        return _gsw.CT_from_pt(sa, pt)
    x2 = _SFAC * np.asarray(sa, dtype="f8")
    x = np.sqrt(x2)
    y = np.asarray(pt, dtype="f8") * 0.025
    pot_enthalpy = (
        61.01362420681071 + y * (168776.46138048015 +
        y * (-2735.2785605119625 + y * (2574.2164453821433 +
        y * (-1536.6644434977543 + y * (545.7340497931629 +
        (-50.91091728474331 - 18.30489878927802 * y) * y))))) +
        x2 * (268.5520265845071 + y * (-12019.028203559312 +
        y * (3734.858026725145 + y * (-2046.7671145057618 +
        y * (465.28655623826234 + (-0.6370820302376359 -
        10.650848542359153 * y) * y)))) +
        x * (937.2099110620707 + y * (588.1802812170108 +
        y * (248.39476522971285 + (-3.871557904936333 -
        2.6268019854268356 * y) * y)) +
        x * (-1687.914374187449 + x * (246.9598888781377 +
        x * (123.59576582457964 - 48.5891069025409 * x)) +
        y * (936.3206544460336 +
        y * (-942.7827304544439 + y * (369.4389437509002 +
        (-33.83664947895248 - 9.987880382780322 * y) * y))))))
    )
    return pot_enthalpy / _CP0


def ct_from_t(sa: np.ndarray, t: np.ndarray, p: np.ndarray) -> np.ndarray:
    """Conservative temperature from in-situ temperature (the
    reference's gsw.CT_from_t, interpolation.py:200-210): t → θ by the
    Fofonoff & Millard lapse-rate integration, θ → CT by the McDougall
    potential-enthalpy polynomial. Matches GSW CT_from_t standard-
    profile check values to ≤2.1e-4 K down to 1000 dbar (tests)."""
    if _gsw is not None:
        return _gsw.CT_from_t(sa, t, p)
    return ct_from_pt(sa, pt0_from_t(sa, t, p))


# --------------------------------------------------------------------------
# Derived pipeline kernels (unchanged dataflow)
# --------------------------------------------------------------------------


def compute_cf(rho_bar: np.ndarray, c: np.ndarray, pres: np.ndarray) -> np.ndarray:
    """Compressibility factor exp(−cumsum(1e4·ΔP/(ρ̄·c²))) along a profile
    (reference atlas.py:320-324). Operates on a single cell-mean profile."""
    rho_bar = np.asarray(rho_bar, dtype="f8")
    c = np.asarray(c, dtype="f8")
    pres = np.asarray(pres, dtype="f8")
    dp = np.diff(pres, prepend=pres[0])
    integrand = 1e4 * dp / (rho_bar * c * c)
    return np.exp(-np.cumsum(integrand))


def eape_unit() -> float:
    """EAPE unit constant (reference atlas.py:145-149): 1e4/1e6·1e4."""
    return 1e4 / 1e6 * 1e4
