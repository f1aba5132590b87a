"""Vertical interpolation onto 64 fixed pressure levels (SURVEY.md §3.2
/ M3) — the reference's ArgoInterp.proceed_all re-expressed as one
``groupBy("WMO").applyInArrow`` plan.

Reference dataflow (src/argostats/interpolation.py:51-151): per WMO —
filter FLAG==1 (:108), read raw vars choosing *_ADJUSTED iff every
profile is delayed-mode (:188-192), per profile: per-level QC mask
(:174-179), validity gates (>=5 good levels, >=10 unique monotone
pressures, :225-249), TEOS-10 conversion (:200-210), cubic interpolation
onto PREF (:213-229), pack CT/SR/IDX/NVALUES (:119-134). The chunked
binary writes at per-WMO byte offsets (:136-138) and the positional
header backfill join (:83-103, J1) disappear: summary columns are
carried through the group map and the sink is partitioned Parquet.

Scale notes: the only shuffle is the groupBy("WMO"); each group is one
Arrow batch into a vectorized NumPy kernel (the reference's own inner
loop shape); output written partitioned by WMO bucket preserves the
reference's per-WMO locality (README.md:146-158) as row-group locality.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.blas import limit_blas_threads
from ..functions.interp import cubic_interp_multi
from ..functions.teos10 import ct_from_t, sr_from_sp
from ..schemas import NLEVELS, PROFILES_SCHEMA, pref64

# Validity gates (reference interpolation.py:23, 174-176, 225, 236-249)
MIN_GOOD_LEVELS = 5
MIN_UNIQUE_PRES = 10      # reference: len(jdx) > 10, strict
MIN_TARGET_LEVELS = 10    # MINIMAL_NUMBER_DATA_IN_PROFILE
DELTAMIN_FACTOR = 1.2     # upward span tolerance = 1.2 * first spacing
DELTAMAX_DBAR = 0.0       # reference deltamax = 0: never extrapolate deeper


def _interp_levels_gsw(p_u: np.ndarray, ct: np.ndarray, sr: np.ndarray,
                       targets: np.ndarray) -> np.ndarray:
    """Alternate interpolation surface mirroring the reference's
    ``method="gsw"`` option (src/argostats/interpolation.py:21,79):
    gsw.sa_ct_interp — the Barker & McDougall (2020) MRST-PCHIP scheme
    from the published TEOS-10 library. Env-gated exactly like the
    NetCDF-4 branch: the gsw package is not in this container, so
    without it this is a clearly-marked NotImplementedError stub beside
    the real dependency-free cubic path."""
    gsw = _require_gsw()
    sr_i, ct_i = gsw.sa_ct_interp(sr, ct, p_u, targets)  # pragma: no cover
    return np.stack([np.asarray(ct_i), np.asarray(sr_i)], axis=1)


def _require_gsw():
    try:
        import gsw
    except ImportError as exc:
        raise NotImplementedError(
            "method='gsw' requires the gsw (TEOS-10) package, which is "
            "not installed; the default method='cubic' is dependency-free"
        ) from exc
    return gsw  # pragma: no cover — reached only where gsw exists


def _interp_one_wmo(pdf: pd.DataFrame) -> pd.DataFrame:
    """Driver-side reference for one WMO's rows (cubic method): one row
    per *valid* profile, a plain per-row pandas loop written apart from
    the Arrow kernel Spark runs. atlas_oracle.ensure_atlas_oracle_parquet
    builds the oracle's profiles with it, and the tests compare the
    Arrow kernel against it row for row."""
    limit_blas_threads()
    pref = pref64().astype("f8")
    # adjusted variables iff ALL profiles of the WMO are delayed-mode
    # AND all three adjusted columns are fully populated (reference
    # interpolation.py:188-192; DATA_MODE: 0=R,1=D,2=A). Checking only
    # PRES_ADJUSTED would select the adjusted set for a WMO with a null
    # TEMP/PSAL_ADJUSTED row and then crash on the boolean index —
    # same gate as the arrow kernel, pinned by
    # test_null_adjusted_row_falls_back_both_engines.
    use_adj = (pdf["DATA_MODE"] == 1).all() and all(
        pdf[c].notna().all()
        for c in ("PRES_ADJUSTED", "TEMP_ADJUSTED", "PSAL_ADJUSTED")
    )
    p_col, t_col, s_col = (
        ("PRES_ADJUSTED", "TEMP_ADJUSTED", "PSAL_ADJUSTED")
        if use_adj
        else ("PRES", "TEMP", "PSAL")
    )

    out = []
    for row in pdf.itertuples(index=False):
        pres = np.asarray(getattr(row, p_col), dtype="f8")
        temp = np.asarray(getattr(row, t_col), dtype="f8")
        psal = np.asarray(getattr(row, s_col), dtype="f8")
        qc = (
            np.asarray(row.PRES_QC, dtype="i1")
            * np.asarray(row.TEMP_QC, dtype="i1")
            * np.asarray(row.PSAL_QC, dtype="i1")
        )
        good = qc == 1
        if good.sum() < MIN_GOOD_LEVELS:
            continue
        p, t, s = pres[good], temp[good], psal[good]
        # unique/contiguity gate, replicated exactly from the reference
        # (interpolation.py:236-249): jdx = first-occurrence indices of
        # the unique pressures (in value order); keep the profile iff
        # len(jdx) == jdx[-1]-jdx[0]+1 and len(jdx) > 10, then
        # interpolate on the PRES[jdx] subset (sorted unique values).
        # Consequences, pinned by test_monotone_gate_*: ascending
        # profiles with trailing duplicates / a late re-measured level
        # ([1..12, 5]) pass on the clean prefix; a local reordering
        # whose min/max keep their index span (a mid-profile swap) also
        # passes and is silently value-sorted; interior duplicates and
        # descending profiles break the arithmetic and are dropped.
        _, jdx = np.unique(p, return_index=True)
        if jdx.shape[0] <= MIN_UNIQUE_PRES or jdx.shape[0] != jdx[-1] - jdx[0] + 1:
            continue
        p_u, t_u, s_u = p[jdx], t[jdx], s[jdx]

        # target levels inside the measured span: upward tolerance is
        # 1.2x the first spacing of the *unsubset* array (reference
        # :241 uses PRES[1]-PRES[0]), downward is zero — the reference
        # never extrapolates below the deepest measurement (deltamin /
        # deltamax, interpolation.py:241-245)
        deltamin = DELTAMIN_FACTOR * (p[1] - p[0])
        in_span = (pref >= p.min() - deltamin) & (pref <= p.max() + DELTAMAX_DBAR)
        if in_span.sum() < MIN_TARGET_LEVELS:
            continue

        sr = sr_from_sp(s_u)
        ct = ct_from_t(sr, t_u, p_u)
        ct_i = np.zeros(NLEVELS, dtype="f4")
        sr_i = np.zeros(NLEVELS, dtype="f4")
        idx = np.zeros(NLEVELS, dtype="i1")
        both = cubic_interp_multi(p_u, np.stack([ct, sr], axis=1), pref[in_span])
        ct_i[in_span] = both[:, 0].astype("f4")
        sr_i[in_span] = both[:, 1].astype("f4")
        idx[in_span] = 1

        out.append(
            {
                "WMO": row.WMO,
                "DAC": row.DAC,
                "IPROF": row.IPROF,
                "JULD": row.JULD,
                "LATITUDE": row.LATITUDE,
                "LONGITUDE": row.LONGITUDE,
                "DATA_MODE": row.DATA_MODE,
                "FLAG": row.FLAG,
                "NVALUES": int(idx.sum()),
                "CT": ct_i.tolist(),
                "SR": sr_i.tolist(),
                "IDX": idx.tolist(),
            }
        )
    cols = [f.name for f in PROFILES_SCHEMA.fields]
    return pd.DataFrame(out, columns=cols)


def _interp_one_wmo_arrow(table):
    """The cubic Spark kernel. Single-argument on purpose: applyInArrow
    inspects the arity to decide whether to pass the grouping key."""
    return _interp_wmo_arrow_kernel(table, "cubic")


def _interp_wmo_arrow_kernel(table, method: str):
    """Per-WMO kernel on a pyarrow.Table — same math and gates as the
    _interp_one_wmo reference, minus the pandas materialization: level
    arrays are read as ONE flat values buffer + offsets (zero-copy
    where the buffer allows) instead of a pandas object column of 150
    per-row numpy arrays, the QC product is vectorized over the whole
    flat buffer, and passthrough columns leave via Table.take. Measured
    1.3× end-to-end over an applyInPandas kernel on the warm
    30k-profile microbench (21.5k → 28.0k profiles/s on local[32]) —
    conversion overhead, not spline math, is the bottleneck at these
    widths."""
    import pyarrow as pa

    limit_blas_threads()
    pref = pref64().astype("f8")

    dm = table.column("DATA_MODE").to_numpy(zero_copy_only=False)
    use_adj = bool((dm == 1).all()) and all(
        table.column(c).null_count == 0
        for c in ("PRES_ADJUSTED", "TEMP_ADJUSTED", "PSAL_ADJUSTED")
    )
    p_col, t_col, s_col = (
        ("PRES_ADJUSTED", "TEMP_ADJUSTED", "PSAL_ADJUSTED")
        if use_adj
        else ("PRES", "TEMP", "PSAL")
    )

    def flat(name: str, dtype: str):
        arr = table.column(name).combine_chunks()
        return (
            arr.values.to_numpy(zero_copy_only=False).astype(dtype, copy=False),
            arr.offsets.to_numpy(),
        )

    pres_f, po = flat(p_col, "f8")

    def flat_aligned(name: str, dtype: str) -> np.ndarray:
        # every level column is sliced with PRES's offsets (po); ragged
        # input (per-row list lengths disagreeing across columns) must
        # fail fast here, not silently misalign every later profile
        vals, offs = flat(name, dtype)
        if not np.array_equal(offs, po):
            raise ValueError(
                f"ragged level arrays: {name} offsets disagree with "
                f"{p_col} (per-row lengths must match across level columns)"
            )
        return vals

    temp_f = flat_aligned(t_col, "f8")
    psal_f = flat_aligned(s_col, "f8")
    # per-level QC product vectorized over the whole flat buffer at once
    qc_f = (
        flat_aligned("PRES_QC", "i1")
        * flat_aligned("TEMP_QC", "i1")
        * flat_aligned("PSAL_QC", "i1")
    )
    good_f = qc_f == 1

    kept: list[int] = []
    nvals: list[int] = []
    ct_rows: list[np.ndarray] = []
    sr_rows: list[np.ndarray] = []
    idx_rows: list[np.ndarray] = []
    for i in range(table.num_rows):
        s, e = po[i], po[i + 1]
        good = good_f[s:e]
        if good.sum() < MIN_GOOD_LEVELS:
            continue
        p, t, sal = pres_f[s:e][good], temp_f[s:e][good], psal_f[s:e][good]
        _, jdx = np.unique(p, return_index=True)
        if jdx.shape[0] <= MIN_UNIQUE_PRES or jdx.shape[0] != jdx[-1] - jdx[0] + 1:
            continue
        p_u, t_u, s_u = p[jdx], t[jdx], sal[jdx]
        deltamin = DELTAMIN_FACTOR * (p[1] - p[0])
        in_span = (pref >= p.min() - deltamin) & (pref <= p.max() + DELTAMAX_DBAR)
        if in_span.sum() < MIN_TARGET_LEVELS:
            continue
        sr = sr_from_sp(s_u)
        ct = ct_from_t(sr, t_u, p_u)
        ct_i = np.zeros(NLEVELS, dtype="f4")
        sr_i = np.zeros(NLEVELS, dtype="f4")
        idx = np.zeros(NLEVELS, dtype="i1")
        if method == "gsw":
            both = _interp_levels_gsw(p_u, ct, sr, pref[in_span])
        else:
            both = cubic_interp_multi(p_u, np.stack([ct, sr], axis=1), pref[in_span])
        ct_i[in_span] = both[:, 0].astype("f4")
        sr_i[in_span] = both[:, 1].astype("f4")
        idx[in_span] = 1
        kept.append(i)
        nvals.append(int(idx.sum()))
        ct_rows.append(ct_i)
        sr_rows.append(sr_i)
        idx_rows.append(idx)

    base = table.select(
        ["WMO", "DAC", "IPROF", "JULD", "LATITUDE", "LONGITUDE", "DATA_MODE", "FLAG"]
    ).take(pa.array(kept, type=pa.int64()))
    k = len(kept)
    offs = pa.array(np.arange(k + 1, dtype="i4") * NLEVELS)

    def fixed_lists(rows: list[np.ndarray], np_dtype: str, pa_type) -> pa.Array:
        flat_v = (
            np.concatenate(rows) if rows else np.empty(0, dtype=np_dtype)
        )
        return pa.ListArray.from_arrays(offs, pa.array(flat_v, type=pa_type))

    out = (
        base.append_column("NVALUES", pa.array(np.asarray(nvals, "i4")))
        .append_column("CT", fixed_lists(ct_rows, "f4", pa.float32()))
        .append_column("SR", fixed_lists(sr_rows, "f4", pa.float32()))
        .append_column("IDX", fixed_lists(idx_rows, "i1", pa.int8()))
    )
    from pyspark.sql.pandas.types import to_arrow_schema

    return out.cast(to_arrow_schema(PROFILES_SCHEMA))


def interpolate_profiles(
    raw: DataFrame,
    summary: DataFrame | None = None,
    num_partitions: int | None = None,
    method: str = "cubic",
) -> DataFrame:
    """raw (+ FLAG from summary or recomputed) → interpolated profiles.

    One exchange (groupBy WMO), Arrow in/out (applyInArrow on flat
    list buffers), NumPy inside — the Spark twin of the reference's
    pool.map(proceed_single_wmo).

    ``method``: "cubic" (default — the dependency-free spline, F9) or
    "gsw" (the reference's alternate gsw.sa_ct_interp surface,
    interpolation.py:21,79; env-gated on the gsw package).

    The explicit repartition on WMO is load-bearing: AQE's partition
    coalescing targets shuffle *bytes* and is blind to Python-kernel CPU
    cost, so it happily collapses a UDF-heavy stage onto one core
    (measured 3x slower end-to-end). A user-specified repartition by the
    group key pins the parallelism and the groupBy reuses its exchange —
    still exactly one shuffle."""
    from ..functions.qc import combine_qc

    if method not in ("cubic", "gsw"):
        raise ValueError(f"method must be cubic|gsw, got {method!r}")
    if method == "cubic":
        kernel = _interp_one_wmo_arrow
    else:
        # fast-fail on the driver (executors share the env in local mode,
        # but on a cluster a missing lib should fail before the shuffle)
        _require_gsw()

        def kernel(table):
            return _interp_wmo_arrow_kernel(table, "gsw")
    flagged = raw.withColumn("FLAG", combine_qc("POSITION_QC", "JULD_QC").cast("byte"))
    # quality gate before the expensive kernel (X2/X9: filter first)
    flagged = flagged.filter(F.col("FLAG") == 1)
    # ship only what the kernel reads (round 14, guide §4.1): FLAG is
    # already computed, so POSITION_QC/JULD_QC and the PLATFORM string
    # would otherwise cross the WMO exchange and the Arrow boundary on
    # every raw row for nothing
    flagged = flagged.select(
        "WMO", "DAC", "IPROF", "JULD", "LATITUDE", "LONGITUDE",
        "DATA_MODE", "FLAG", "PRES", "TEMP", "PSAL",
        "PRES_ADJUSTED", "TEMP_ADJUSTED", "PSAL_ADJUSTED",
        "PRES_QC", "TEMP_QC", "PSAL_QC",
    )
    n = num_partitions or flagged.sparkSession.sparkContext.defaultParallelism
    return (
        flagged.repartition(n, "WMO").groupBy("WMO")
        .applyInArrow(kernel, PROFILES_SCHEMA)
    )


def write_profiles(profiles: DataFrame, path: str, n_buckets: int = 64) -> None:
    """Partitioned profile sink: WMO-bucketed directories + sorted within
    — per-WMO ranged reads (reference interpolation.py:153-162) become
    partition pruning + row-group skipping."""
    (
        profiles.withColumn("WMO_BUCKET", F.pmod(F.col("WMO"), F.lit(n_buckets)))
        .sortWithinPartitions("WMO", "IPROF")
        .write.mode("overwrite")
        .partitionBy("WMO_BUCKET")
        .parquet(path)
    )
