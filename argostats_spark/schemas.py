"""StructType schemas for the Argo data model (SURVEY.md §1, FIXTURES.md).

The reference declares its record schema as the ``ARGOSTRUCT`` literal of
NumPy dtypes (reference: src/argostats/interpolation.py:25-36) and stores
it in a hand-rolled row-oriented binary format (src/argostats/aos.py,
binaryfiles.py). Here the same logical schema is a Spark ``StructType``
persisted as Parquet: the byte-offset machinery, the 4-byte-header binary
files, and the JSON schema headers all collapse into the Parquet footer.

Type mapping (SURVEY.md §1.2): i1→ByteType, i2→ShortType, i4→IntegerType,
f4→FloatType, datetime64[s]→TimestampType, fixed-length-64 float arrays→
ArrayType(FloatType()) with the length-64 invariant enforced by the
producing operators.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Static dictionaries (reference: src/argostats/toctools.py:22-69)
# ---------------------------------------------------------------------------

DACS = [
    "aoml", "bodc", "coriolis", "csio", "csiro", "incois",
    "jma", "kiost", "kma", "meds", "nmdis",
]

DATA_MODES = ["R", "D", "A"]  # real-time, delayed, adjusted (toctools.py:25)

# Static platform-type dictionary (reference toctools.py:26-55 keeps the
# same list as 32-byte padded bytes and encodes via PLATFORMS.index into
# int8; here the strings are trimmed and the encode is a literal map
# lookup in operators/summary.py — no dim table, no join). Index 0
# (blank) doubles as the unknown-platform fallback code.
PLATFORMS = [
    "",
    "ALTO", "APEX", "APEX-SBE", "APEX_D", "ARVOR", "ARVOR_C", "ARVOR_D",
    "HM2000", "HM4000", "NAVIS", "NAVIS_A", "NAVIS_EBR", "NEMO", "NINJA",
    "NINJA_D", "NOVA", "NOVA-SBE", "Nova-SBE", "PALACE", "POPS_PROVOR",
    "PROVOR", "PROVOR-SBE", "PROVOR_II", "PROVOR_III", "PROVOR_IV",
    "PROVOR_MT", "PROVOR_V", "PROVOR_V_JUMBO",
    "Primary sampling: averaged []",
    "S2A", "S2X", "SOLO", "SOLO-W", "SOLO_BGC", "SOLO_BGC_MRV", "SOLO_D",
    "SOLO_D_MRV", "SOLO_II", "SOLO_W", "XUANWU", "n/a",
]

# Fixed 64 target pressure levels (reference: interpolation.py:256-265).
# 0,5,10,20,...,100 then steps growing to 2000 dbar.


def pref64() -> np.ndarray:
    """The reference's 64 fixed pressure levels (interpolation.py:256-265).

    Levels: 0, 5, then 10-dbar steps to 100, 20-dbar steps to 200,
    50-dbar steps to 500, 100-dbar steps to 2000 — padded/truncated to
    exactly 64 entries with a trailing refinement, mirroring the published
    level set (README.md:97-116). We reproduce the same *shape* of level
    spacing; exact values are pinned by tests, not copied bytes.
    """
    levels = [0.0, 5.0]
    levels += list(np.arange(10.0, 100.0, 10.0))      # 10..90
    levels += list(np.arange(100.0, 200.0, 12.5))     # 100..187.5
    levels += list(np.arange(200.0, 500.0, 25.0))     # 200..475
    levels += list(np.arange(500.0, 1000.0, 50.0))    # 500..950
    levels += list(np.arange(1000.0, 2001.0, 77.0))   # 1000..2000
    arr = np.asarray(levels, dtype="f4")[:64]
    if arr.shape[0] < 64:
        arr = np.pad(arr, (0, 64 - arr.shape[0]), constant_values=2000.0)
    return arr


NLEVELS = 64

# ---------------------------------------------------------------------------
# Summary table — one row per profile (toctools.py:153-183; FIXTURES.md §1)
# ---------------------------------------------------------------------------

SUMMARY_SCHEMA = T.StructType([
    T.StructField("DAC", T.ByteType(), False),
    T.StructField("WMO", T.IntegerType(), False),
    T.StructField("IPROF", T.ShortType(), False),
    T.StructField("N_LEVELS", T.ShortType(), False),
    T.StructField("N_PROF", T.ShortType(), False),
    T.StructField("LONGITUDE", T.FloatType(), False),
    T.StructField("LATITUDE", T.FloatType(), False),
    T.StructField("JULD", T.TimestampType(), False),
    T.StructField("DATA_MODE", T.ByteType(), False),
    T.StructField("PLATFORM_TYPE", T.ByteType(), False),
    T.StructField("FLAG", T.ByteType(), False),
])

# ---------------------------------------------------------------------------
# Raw ragged measurements — ingest input (interpolation.py:182-197;
# FIXTURES.md §2). Level dimension as variable-length arrays.
# ---------------------------------------------------------------------------

RAW_SCHEMA = T.StructType([
    T.StructField("DAC", T.ByteType(), False),
    T.StructField("WMO", T.IntegerType(), False),
    T.StructField("IPROF", T.ShortType(), False),
    T.StructField("LONGITUDE", T.FloatType(), False),
    T.StructField("LATITUDE", T.FloatType(), False),
    T.StructField("JULD", T.TimestampType(), False),
    T.StructField("DATA_MODE", T.ByteType(), False),
    T.StructField("PLATFORM", T.StringType(), True),
    T.StructField("POSITION_QC", T.ByteType(), False),
    T.StructField("JULD_QC", T.ByteType(), False),
    T.StructField("PRES", T.ArrayType(T.FloatType()), False),
    T.StructField("TEMP", T.ArrayType(T.FloatType()), False),
    T.StructField("PSAL", T.ArrayType(T.FloatType()), False),
    T.StructField("PRES_ADJUSTED", T.ArrayType(T.FloatType()), True),
    T.StructField("TEMP_ADJUSTED", T.ArrayType(T.FloatType()), True),
    T.StructField("PSAL_ADJUSTED", T.ArrayType(T.FloatType()), True),
    T.StructField("PRES_QC", T.ArrayType(T.ByteType()), False),
    T.StructField("TEMP_QC", T.ArrayType(T.ByteType()), False),
    T.StructField("PSAL_QC", T.ArrayType(T.ByteType()), False),
])

# ---------------------------------------------------------------------------
# Interpolated profiles — the AOS equivalent (ARGOSTRUCT,
# interpolation.py:25-36; FIXTURES.md §3). Validity: real NULLs in CT/SR
# *plus* an IDX byte mask, because weighted means need per-level valid
# counts (SURVEY.md §7.4 item 3).
# ---------------------------------------------------------------------------

PROFILES_SCHEMA = T.StructType([
    T.StructField("WMO", T.IntegerType(), False),
    T.StructField("DAC", T.ByteType(), False),
    T.StructField("IPROF", T.ShortType(), False),
    T.StructField("JULD", T.TimestampType(), False),
    T.StructField("LATITUDE", T.FloatType(), False),
    T.StructField("LONGITUDE", T.FloatType(), False),
    T.StructField("DATA_MODE", T.ByteType(), False),
    T.StructField("FLAG", T.ByteType(), False),
    T.StructField("NVALUES", T.IntegerType(), False),
    T.StructField("CT", T.ArrayType(T.FloatType()), False),
    T.StructField("SR", T.ArrayType(T.FloatType()), False),
    T.StructField("IDX", T.ArrayType(T.ByteType()), False),
])

# ---------------------------------------------------------------------------
# Land/sea mask (bathy/bathy.py:67-82; FIXTURES.md §4): broadcastable.
# ---------------------------------------------------------------------------

MASK_SCHEMA = T.StructType([
    T.StructField("lat_idx", T.ShortType(), False),
    T.StructField("lon_idx", T.ShortType(), False),
    T.StructField("lat", T.FloatType(), False),
    T.StructField("lon", T.FloatType(), False),
    T.StructField("is_ocean", T.ByteType(), False),
])

# ---------------------------------------------------------------------------
# Atlas (climatology) output — one row per ocean grid cell
# (atlas.py:576-607; FIXTURES.md §5).
# ---------------------------------------------------------------------------

ATLAS_SCHEMA = T.StructType([
    T.StructField("lat", T.FloatType(), False),
    T.StructField("lon", T.FloatType(), False),
    T.StructField("CT", T.ArrayType(T.FloatType()), True),
    T.StructField("SR", T.ArrayType(T.FloatType()), True),
    T.StructField("W", T.ArrayType(T.FloatType()), True),
])

# Named domains — (lon_min, lon_max, lat_min, lat_max). The first 15
# mirror the reference's table EXACTLY (atlas.py:19-35; a switching
# user must get identical crops); "kuroshio" and "global" are additions.
DOMAINS = {
    "biscaye": (-15.0, 0.0, 35.0, 60.0),
    "subpolar": (-70.0, 0.0, 50.0, 70.0),
    "korea": (130.0, 140.0, 36.0, 44.0),
    "natl": (-90.0, 10.0, -10.0, 70.0),
    "satl": (-80.0, 0.0, -70.0, 10.0),
    "acc_indian": (0.0, 100.0, -60.0, -20.0),
    "acc": (-180.0, 180.0, -70.0, -30.0),
    "zapiola": (-60.0, -40.0, -50.0, -30.0),
    "atl": (-80.0, 20.0, -60.0, 60.0),
    "senegal": (-30.0, -10.0, 10.0, 30.0),
    "agulhas": (10.0, 30.0, -50.0, -30.0),
    "newzealand": (140.0, 180.0, -60.0, -30.0),
    "gulfstream": (-80.0, -50.0, 20.0, 50.0),
    "drake": (-80.0, -50.0, -70.0, -40.0),
    "gulfmexico": (-100.0, -60.0, 10.0, 30.0),
    "kuroshio": (130.0, 160.0, 20.0, 40.0),
    "global": (-180.0, 180.0, -80.0, 80.0),
}
