"""1-D interpolation kernels (SURVEY.md §2.8 F9/F10).

The reference interpolates each profile's (SA, CT) onto the 64 fixed
pressure levels with scipy ``interp1d(kind="cubic",
fill_value="extrapolate")`` (reference: src/argostats/interpolation.py:
13-21). scipy is not installed here, so ``cubic_interp`` is a natural
cubic spline implemented directly in NumPy (the standard tridiagonal
algorithm — public textbook material), preferring scipy when available.
``linear_interp_extrap`` is np.interp with linear extrapolation at both
ends (the fallback for spans too short for a spline).

Both run inside the Arrow group kernel of operators/interpolation.py —
per-profile vectorized work, never row-at-a-time Python.
"""

from __future__ import annotations

import numpy as np

try:  # pragma: no cover
    from scipy.interpolate import interp1d as _interp1d
except ImportError:
    _interp1d = None


def _natural_cubic_coeffs(x: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Second derivatives of the natural cubic spline through (x, y) for
    one or more value columns at once.

    ``ys`` has shape (n,) or (n, k); returns the same shape. The
    tridiagonal system is solved as one dense LAPACK call, and one
    factorization serves every column. The dense solve is O(n³) in the
    level count: single-threaded, one profile takes 0.14 ms at 120
    levels (a per-profile Thomas solve: 0.55 ms), 3.7 ms at 400 (2.3 ms)
    and 49 ms at 1000 levels (4.9 ms) — so it is NOT cheap against the
    interpreter overhead at 1000 levels. A Thomas sweep vectorized over
    a WMO's profiles is ROADMAP item 3.
    """
    squeeze = ys.ndim == 1
    if squeeze:
        ys = ys[:, None]
    n = x.shape[0]
    m = np.zeros_like(ys, dtype="f8")
    if n > 2:
        h = np.diff(x)
        diag = 2.0 * (h[:-1] + h[1:])
        a = np.zeros((n - 2, n - 2), dtype="f8")
        idx = np.arange(n - 2)
        a[idx, idx] = diag
        a[idx[1:], idx[:-1]] = h[1:-1]
        a[idx[:-1], idx[1:]] = h[1:-1]
        d = 6.0 * (
            (ys[2:] - ys[1:-1]) / h[1:, None] - (ys[1:-1] - ys[:-2]) / h[:-1, None]
        )
        m[1:-1] = np.linalg.solve(a, d)
    return m[:, 0] if squeeze else m


def cubic_interp_multi(x: np.ndarray, ys: np.ndarray, xq: np.ndarray) -> np.ndarray:
    """Natural cubic spline for k value columns sharing one knot vector:
    ys (n, k) → (len(xq), k). One factorization serves all columns — the
    interpolation kernel calls this once per profile for (CT, SR).

    DOCUMENTED DIVERGENCE from the reference (F9): the reference uses
    scipy interp1d kind="cubic" (not-a-knot BCs, src/argostats/
    interpolation.py:13-17); this is the NATURAL spline (zero second
    derivative at the ends). Quantified in tests/test_functions.py::
    test_cubic_natural_vs_notaknot_divergence_bounded: <=0.05 units
    overall / <=0.01 interior on smooth Argo-spaced profiles; on noisy
    dense profiles not-a-knot can overshoot the data envelope by tens
    of units at the boundary while natural stays bounded — a deliberate
    robustness choice."""
    x = np.asarray(x, dtype="f8")
    ys = np.asarray(ys, dtype="f8")
    xq = np.asarray(xq, dtype="f8")
    n = x.shape[0]
    if n == 1:
        return np.tile(ys[0], (xq.shape[0], 1))
    if n < 4:
        return np.stack(
            [linear_interp_extrap(x, ys[:, k], xq) for k in range(ys.shape[1])], axis=1
        )

    m = _natural_cubic_coeffs(x, ys)
    idx = np.clip(np.searchsorted(x, xq) - 1, 0, n - 2)
    h = (x[idx + 1] - x[idx])[:, None]
    t = (xq - x[idx])[:, None]
    out = (
        ys[idx]
        + t * ((ys[idx + 1] - ys[idx]) / h - h * (2.0 * m[idx] + m[idx + 1]) / 6.0)
        + t * t * m[idx] / 2.0
        + t * t * t * (m[idx + 1] - m[idx]) / (6.0 * h)
    )
    # linear extrapolation beyond the span (matching slope at the ends)
    lo = xq < x[0]
    hi = xq > x[-1]
    if lo.any():
        h0 = x[1] - x[0]
        s0 = (ys[1] - ys[0]) / h0 - h0 * (2 * m[0] + m[1]) / 6.0
        out[lo] = ys[0] + s0[None, :] * (xq[lo] - x[0])[:, None]
    if hi.any():
        hn = x[-1] - x[-2]
        sn = (ys[-1] - ys[-2]) / hn + hn * (2 * m[-1] + m[-2]) / 6.0
        out[hi] = ys[-1] + sn[None, :] * (xq[hi] - x[-1])[:, None]
    return out


def cubic_interp(x: np.ndarray, y: np.ndarray, xq: np.ndarray) -> np.ndarray:
    """Natural cubic spline evaluation with linear extrapolation outside
    the knot span. Matches scipy interp1d(kind='cubic') inside the span
    up to the boundary-condition difference (natural vs not-a-knot);
    differential-tested in tests/test_functions.py."""
    x = np.asarray(x, dtype="f8")
    y = np.asarray(y, dtype="f8")
    xq = np.asarray(xq, dtype="f8")
    if _interp1d is not None:  # pragma: no cover
        f = _interp1d(x, y, kind="cubic", fill_value="extrapolate", assume_sorted=True)
        return f(xq)
    return cubic_interp_multi(x, y[:, None], xq)[:, 0]


def linear_interp_extrap(x: np.ndarray, y: np.ndarray, xq: np.ndarray) -> np.ndarray:
    """np.interp with linear (not constant) extrapolation at both ends."""
    out = np.interp(xq, x, y)
    if x.shape[0] >= 2:
        lo = xq < x[0]
        hi = xq > x[-1]
        if lo.any():
            s = (y[1] - y[0]) / (x[1] - x[0])
            out[lo] = y[0] + s * (xq[lo] - x[0])
        if hi.any():
            s = (y[-1] - y[-2]) / (x[-1] - x[-2])
            out[hi] = y[-1] + s * (xq[hi] - x[-1])
    return out
