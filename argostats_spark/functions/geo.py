"""Geodesic column expressions (SURVEY.md §2.8 F2/F3, §2.3 J2 support).

The reference computes great-circle distances with NumPy ufuncs
(haversine / haversine_arg / approximate_haversine, reference:
src/argostats/atlas.py:48-81) and prunes profile sets by radius before
any statistics (atlas.py:234-253). Here every variant is a pure Spark
column expression — whole-stage-codegen'd JVM math, no UDF — and the
spatial prune becomes bin columns that Parquet partition pruning and
join planning can use (SURVEY.md §4 X1).

All functions return Columns and accept Columns or column names.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else x


def haversine_arg(lon1, lat1, lon2, lat2) -> Column:
    """The sin² haversine argument (reference atlas.py:56-63).

    hav = sin²(Δφ/2) + cos φ1 · cos φ2 · sin²(Δλ/2)

    Monotone in distance, cheap (no asin/sqrt), ideal for cutoff tests.

    Kernel-weight note (deliberate divergence): the reference weights
    neighbors with ``c = np.exp(-dist)`` *unnormalized* (atlas.py:104-113)
    — since dist <= dcritical << 1 those weights are nearly uniform, so
    the kernel barely discriminates by distance. This engine normalizes
    by the cutoff scale, ``w = exp(-hav/theta)``, giving the kernel its
    intended distance falloff; the DuckDB oracles verify THIS formula,
    not bit-parity with the reference's atlas output.
    """
    lon1, lat1, lon2, lat2 = map(_c, (lon1, lat1, lon2, lat2))
    dphi = F.radians(lat2 - lat1) / 2.0
    dlam = F.radians(lon2 - lon1) / 2.0
    return (
        F.sin(dphi) * F.sin(dphi)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlam) * F.sin(dlam)
    )


def haversine_deg(lon1, lat1, lon2, lat2) -> Column:
    """Great-circle distance in degrees of arc (reference atlas.py:48-54)."""
    h = haversine_arg(lon1, lat1, lon2, lat2)
    return F.degrees(2.0 * F.asin(F.sqrt(h)))


def haversine_km(lon1, lat1, lon2, lat2) -> Column:
    """Great-circle distance in kilometres."""
    h = haversine_arg(lon1, lat1, lon2, lat2)
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(h))


def dist_threshold(reso_deg: float, smoothing_factor: float = 4.0) -> float:
    """Kernel cutoff in haversine_arg units (reference atlas.py:311-313):
    sin²(deg2rad(smoothing_factor · reso) / 2). Driver-side scalar.
    """
    return math.sin(math.radians(smoothing_factor * reso_deg) / 2.0) ** 2


def lon_bin(lon, bin_deg: float) -> Column:
    """Integer longitude bin of width ``bin_deg`` (origin -180)."""
    return F.floor((_c(lon) + F.lit(180.0)) / F.lit(bin_deg)).cast("int")


def lat_bin(lat, bin_deg: float) -> Column:
    """Integer latitude bin of width ``bin_deg`` (origin -90)."""
    return F.floor((_c(lat) + F.lit(90.0)) / F.lit(bin_deg)).cast("int")
