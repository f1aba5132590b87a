"""NetCDF GDAC ingest (SURVEY.md §2.1 S1-S4) — distributed file scan.

The reference walks $GDAC directories with a process pool and opens one
xarray dataset per WMO (reference: src/argostats/toctools.py:97-143,
190-192). Here the scan is ``spark.read.format("binaryFile")`` over the
GDAC glob — file listing, scheduling and retry are Spark's — and the
per-file parse runs in ``mapInPandas`` so one NetCDF becomes N profile
rows (the reference's S3 row-assembly) without ever touching the
driver.

Classic-format (CDF-1) files — which is what the Argo user manual
mandates for GDAC core-profile files — parse through the built-in
dependency-free codec (sources/netcdf3.py): the ingest is REAL in this
container, end to end, no optional libraries. NetCDF-4/HDF5 variants
fall back to xarray behind an import-try.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..schemas import DACS, RAW_SCHEMA

try:  # pragma: no cover
    import xarray as _xr
except ImportError:
    _xr = None


ARGO_EPOCH = pd.Timestamp("1950-01-01")  # Argo JULD reference date
_DATA_MODE_CODE = {b"R": 0, b"D": 1, b"A": 2}
_RAW_COLS = [f.name for f in RAW_SCHEMA.fields]

# DAC encoding = index into schemas.DACS (reference toctools.py:22-23).
_DAC_INDEX = {name: i for i, name in enumerate(DACS)}


def dac_from_path(path: str) -> int:
    """DAC id from the GDAC layout ``$GDAC/<dac>/<wmo>/<wmo>_prof.nc``
    (reference toctools.py:105-106 dirdac / :252-253 retrieve_dac). Any
    directory component matching a known DAC name wins (robust to extra
    nesting); unknown layouts return -1 so per-DAC counts (A12) surface
    them instead of silently crediting DACS[0]."""
    for part in reversed(path.split("/")[:-1]):
        if part.lower() in _DAC_INDEX:
            return _DAC_INDEX[part.lower()]
    return -1


def _qc_ints(chars):
    """QC NC_CHAR bytes → int codes. Real GDAC files carry blank (' ')
    fill where no QC was performed; any non-digit maps to 0 ("no QC")
    instead of crashing the whole-file parse."""
    import numpy as np

    a = np.asarray(chars, dtype="S1")
    codes = np.frombuffer(a.tobytes(), dtype="u1").astype("i2") - ord("0")
    return np.where((codes >= 0) & (codes <= 9), codes, 0).astype("i1").reshape(a.shape)


def _juld(days: float) -> pd.Timestamp:
    """Argo JULD (days since 1950-01-01) as a timestamp rounded to whole
    microseconds, Spark's timestamp unit. The f8 day count leaves
    sub-microsecond digits (25204.5523611111 d is …23.999998901 s),
    and the ns→µs Arrow cast raises on them under
    ``spark.sql.execution.pandas.convertToArrowArraySafely=true``."""
    return (ARGO_EPOCH + pd.to_timedelta(days, unit="D")).round("us")


def parse_argo_classic(path: str, content: bytes) -> pd.DataFrame:
    """REAL parser for NetCDF-3 classic <WMO>_prof.nc bytes — the format
    Argo GDAC core-profile files actually use (the Argo user manual
    mandates classic format) — via the dependency-free CDF-1 codec
    (sources/netcdf3.py). Conventions handled: JULD = days since
    1950-01-01, DATA_MODE / *_QC as NC_CHAR (blank fill tolerated),
    (N_PROF, N_LEVELS) ragged payload matrices, ``*_ADJUSTED`` (+QC)
    variables when present, DAC from the directory layout.

    Delayed-mode QC follows the reference exactly (interpolation.py:
    185-196): when EVERY profile in the file is mode 'D' and the
    adjusted variables exist, the per-level QC columns are read from
    ``*_ADJUSTED_QC`` — the QC mask must describe the values that will
    actually be interpolated."""
    import numpy as np

    from .netcdf3 import read_netcdf3_bytes

    dims, v = read_netcdf3_bytes(content)
    n_prof = int(dims.get("N_PROF", 0))
    wmo = int(path.split("/")[-1].split("_")[0])
    dac = dac_from_path(path)

    adj_names = ("PRES_ADJUSTED", "TEMP_ADJUSTED", "PSAL_ADJUSTED")
    have_adj = all(n in v for n in adj_names)
    all_delayed = n_prof > 0 and all(
        bytes(v["DATA_MODE"][i]) == b"D" for i in range(n_prof)
    )
    use_adj_qc = have_adj and all_delayed and all(n + "_QC" in v for n in adj_names)
    qc_suffix = "_ADJUSTED_QC" if use_adj_qc else "_QC"

    def qc_row(var: str, i: int) -> list[int]:
        return _qc_ints(v[var + qc_suffix][i]).tolist()

    rows = []
    for i in range(n_prof):
        rows.append(
            {
                "DAC": dac,
                "WMO": wmo,
                "IPROF": i,
                "LONGITUDE": float(v["LONGITUDE"][i]),
                "LATITUDE": float(v["LATITUDE"][i]),
                "JULD": _juld(float(v["JULD"][i])),
                "DATA_MODE": _DATA_MODE_CODE.get(bytes(v["DATA_MODE"][i]), 0),
                "PLATFORM": None,
                "POSITION_QC": int(_qc_ints(v["POSITION_QC"][i : i + 1])[0]),
                "JULD_QC": int(_qc_ints(v["JULD_QC"][i : i + 1])[0]),
                "PRES": v["PRES"][i].tolist(),
                "TEMP": v["TEMP"][i].tolist(),
                "PSAL": v["PSAL"][i].tolist(),
                "PRES_ADJUSTED": v["PRES_ADJUSTED"][i].tolist() if have_adj else None,
                "TEMP_ADJUSTED": v["TEMP_ADJUSTED"][i].tolist() if have_adj else None,
                "PSAL_ADJUSTED": v["PSAL_ADJUSTED"][i].tolist() if have_adj else None,
                "PRES_QC": qc_row("PRES", i),
                "TEMP_QC": qc_row("TEMP", i),
                "PSAL_QC": qc_row("PSAL", i),
            }
        )
    # explicit columns: a zero-profile file must still yield the full
    # RAW_SCHEMA column set, or downstream pdf[cols] raises KeyError
    return pd.DataFrame(rows, columns=_RAW_COLS)


def parse_netcdf_bytes(path: str, content: bytes) -> pd.DataFrame:
    """One <WMO>_prof.nc → one row per profile (reference
    load_wmo_profiles_from_netcdf, interpolation.py:182-197).

    Classic-format files — which is what GDAC core files are — parse
    through the built-in pure codec, in both the CDF-1 and the
    64-bit-offset CDF-2 flavor (large aggregates exceed the classic
    2 GiB ceiling and ship as CDF-2); NetCDF-4/HDF5 files fall back to
    xarray where installed."""
    if content[:3] == b"CDF" and content[3:4] in (b"\x01", b"\x02"):
        return parse_argo_classic(path, content)
    if _xr is None:
        raise NotImplementedError(
            "NetCDF-4/HDF5 parsing requires xarray/netCDF4 (not "
            "installed); classic CDF-1/CDF-2 files parse natively"
        )
    # pragma: no cover — real branch exercised only where xarray exists
    import io

    ds = _xr.open_dataset(io.BytesIO(content))
    n_prof = ds.sizes.get("N_PROF", 0)
    rows = []
    for i in range(n_prof):
        rows.append(
            {
                "DAC": dac_from_path(path),
                "WMO": int(path.split("/")[-1].split("_")[0]),
                "IPROF": i,
                "LONGITUDE": float(ds["LONGITUDE"].values[i]),
                "LATITUDE": float(ds["LATITUDE"].values[i]),
                "JULD": pd.Timestamp(ds["JULD"].values[i]).round("us"),
                "DATA_MODE": {"R": 0, "D": 1, "A": 2}.get(
                    str(ds["DATA_MODE"].values[i]), 0
                ),
                "PLATFORM": None,
                "POSITION_QC": int(ds["POSITION_QC"].values[i]),
                "JULD_QC": int(ds["JULD_QC"].values[i]),
                "PRES": ds["PRES"].values[i].tolist(),
                "TEMP": ds["TEMP"].values[i].tolist(),
                "PSAL": ds["PSAL"].values[i].tolist(),
                "PRES_ADJUSTED": None,
                "TEMP_ADJUSTED": None,
                "PSAL_ADJUSTED": None,
                "PRES_QC": ds["PRES_QC"].values[i].tolist(),
                "TEMP_QC": ds["TEMP_QC"].values[i].tolist(),
                "PSAL_QC": ds["PSAL_QC"].values[i].tolist(),
            }
        )
    return pd.DataFrame(rows, columns=_RAW_COLS)


def ingest_gdac(
    spark: SparkSession,
    gdac_glob: str,
    parser: Callable[[str, bytes], pd.DataFrame] | None = None,
) -> DataFrame:
    """Distributed GDAC scan → raw ragged table (RAW_SCHEMA).

    - binaryFile source: each task gets (path, content) batches —
      the reference's per-WMO pool task, scheduled by Spark (S1/S2);
    - ignoreMissingFiles / ignoreCorruptFiles reproduce the
      'get_dataset returns None' tolerance (toctools.py:190-192);
    - the parser emits 0..N rows per file (the UDTF shape, SURVEY §2.10).
    """
    parse = parser or parse_netcdf_bytes
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*_prof.nc")
        .option("ignoreMissingFiles", "true")
        .option("ignoreCorruptFiles", "true")
        .load(gdac_glob)
        .select("path", "content")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in RAW_SCHEMA.fields]
        for pdf in batches:
            frames = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    frames.append(parse(path, bytes(content)))
                except NotImplementedError:
                    raise
                except Exception:
                    continue  # corrupt file tolerance, like S2's None
            if frames:
                yield pd.concat(frames)[cols]
            else:
                yield pd.DataFrame(columns=cols)

    return files.mapInPandas(run, RAW_SCHEMA)


def write_argo_prof_nc(
    path: str,
    wmo: int,
    lons,
    lats,
    juld_days,
    data_modes: str,
    pres,
    temp,
    psal,
    qc_digit: int = 1,
    qc_chars=None,
    pres_adj=None,
    temp_adj=None,
    psal_adj=None,
    adj_qc_digit: int = 1,
    version: int | None = None,
) -> str:
    """Write a synthetic <WMO>_prof.nc in genuine NetCDF-3 classic form
    (Argo GDAC conventions: JULD days since 1950, NC_CHAR DATA_MODE/QC,
    (N_PROF, N_LEVELS) matrices). Produces REAL bytes for the ingest
    path — tests exercise the default parser, not an injected fake.

    ``qc_chars`` (an (N_PROF, N_LEVELS) array of single characters,
    blanks allowed) overrides the uniform ``qc_digit`` fill; passing
    ``pres_adj``/``temp_adj``/``psal_adj`` adds the delayed-mode
    ``*_ADJUSTED`` (+``_QC``) variables real 'D'-mode files carry."""
    import numpy as np

    from .netcdf3 import write_netcdf3

    pres = np.asarray(pres, "f4")
    n_prof, n_levels = pres.shape
    dims = {"N_PROF": n_prof, "N_LEVELS": n_levels}
    if qc_chars is not None:
        qc = np.asarray(qc_chars, dtype="S1").reshape(n_prof, n_levels)
    else:
        qc = np.full((n_prof, n_levels), str(qc_digit).encode(), dtype="S1")
    variables = {
        "LONGITUDE": (("N_PROF",), np.asarray(lons, "f8")),
        "LATITUDE": (("N_PROF",), np.asarray(lats, "f8")),
        "JULD": (("N_PROF",), np.asarray(juld_days, "f8")),
        "DATA_MODE": (("N_PROF",), np.array([m.encode() for m in data_modes], "S1")),
        "POSITION_QC": (("N_PROF",), np.full(n_prof, str(qc_digit).encode(), "S1")),
        "JULD_QC": (("N_PROF",), np.full(n_prof, str(qc_digit).encode(), "S1")),
        "PRES": (("N_PROF", "N_LEVELS"), pres),
        "TEMP": (("N_PROF", "N_LEVELS"), np.asarray(temp, "f4")),
        "PSAL": (("N_PROF", "N_LEVELS"), np.asarray(psal, "f4")),
        "PRES_QC": (("N_PROF", "N_LEVELS"), qc),
        "TEMP_QC": (("N_PROF", "N_LEVELS"), qc),
        "PSAL_QC": (("N_PROF", "N_LEVELS"), qc),
    }
    if pres_adj is not None:
        adj_qc = np.full((n_prof, n_levels), str(adj_qc_digit).encode(), dtype="S1")
        variables.update(
            {
                "PRES_ADJUSTED": (("N_PROF", "N_LEVELS"), np.asarray(pres_adj, "f4")),
                "TEMP_ADJUSTED": (("N_PROF", "N_LEVELS"), np.asarray(temp_adj, "f4")),
                "PSAL_ADJUSTED": (("N_PROF", "N_LEVELS"), np.asarray(psal_adj, "f4")),
                "PRES_ADJUSTED_QC": (("N_PROF", "N_LEVELS"), adj_qc),
                "TEMP_ADJUSTED_QC": (("N_PROF", "N_LEVELS"), adj_qc),
                "PSAL_ADJUSTED_QC": (("N_PROF", "N_LEVELS"), adj_qc),
            }
        )
    full = f"{path}/{wmo}_prof.nc"
    write_netcdf3(full, dims, variables, version=version)
    return full
