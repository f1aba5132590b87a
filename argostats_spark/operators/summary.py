"""Summary build (SURVEY.md §3.1 / M1) — one row per profile.

The reference scans ~20k NetCDF files with a multiprocessing pool,
builds a per-WMO pandas frame (get_wmo_infos, reference: src/argostats/
toctools.py:153-183) and concatenates on the driver (toctools.py:145 —
the memory-bound stage). Here the whole thing is one distributed plan
over the raw table: window-derived per-WMO columns, FLAG from QC
product-combine, no driver union.

At 100 TB the raw table is read partitioned by WMO (parquet layout from
the ingest stage) so the window over WMO shuffles once, and the result
is written back partitioned the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.qc import combine_qc
from ..schemas import PLATFORMS


def decode_platform(summary: DataFrame) -> DataFrame:
    """PLATFORM_TYPE byte → platform string (round-trip check surface;
    code 0 decodes to the blank/unknown entry, an out-of-range code to
    null)."""
    names = F.array(*(F.lit(name) for name in PLATFORMS))
    return summary.withColumn(
        "PLATFORM", F.try_element_at(names, F.col("PLATFORM_TYPE").cast("int") + 1)
    )


def build_summary(raw: DataFrame) -> DataFrame:
    """raw ragged table → summary table (SUMMARY_SCHEMA shape).

    Columns derived exactly like the reference:
    - IPROF: per-WMO profile index ordered by JULD (W1, toctools.py:175)
    - N_PROF: profiles per WMO (toctools.py:167-170)
    - N_LEVELS: levels in the raw file (size of the PRES array)
    - FLAG: POSITION_QC × JULD_QC product (A9, toctools.py:178-187)
    - PLATFORM_TYPE: int8 dictionary code via a literal map lookup
      (toctools.py:195-196 np.vectorize(PLATFORMS.index); the ~40-entry
      dictionary rides in the plan, zero joins and zero extra jobs).
      Unknown or missing platform strings encode to 0 (the blank
      entry) — the reference would raise; a 100 TB ingest must not die
      on one new float model.
    """
    code = F.lit(0)
    if "PLATFORM" in raw.columns:
        codes = F.create_map(
            *(x for i, name in enumerate(PLATFORMS) for x in (F.lit(name), F.lit(i)))
        )
        code = F.coalesce(F.try_element_at(codes, F.col("PLATFORM")), code)
    w = W.partitionBy("WMO")
    w_order = w.orderBy("JULD", "IPROF")
    return raw.select(
        "DAC",
        "WMO",
        (F.row_number().over(w_order) - 1).cast("short").alias("IPROF"),
        F.size("PRES").cast("short").alias("N_LEVELS"),
        F.count(F.lit(1)).over(w).cast("short").alias("N_PROF"),
        "LONGITUDE",
        "LATITUDE",
        "JULD",
        "DATA_MODE",
        code.cast("byte").alias("PLATFORM_TYPE"),
        combine_qc("POSITION_QC", "JULD_QC").cast("byte").alias("FLAG"),
    )


def summary_stats(summary: DataFrame) -> DataFrame:
    """The reference's README analytics (A6-A8, A10, A12): per-DAC float
    and profile counts plus first/last profile dates."""
    return summary.groupBy("DAC").agg(
        F.countDistinct("WMO").alias("n_floats"),
        F.count(F.lit(1)).alias("n_profiles"),
        F.min("JULD").alias("first_juld"),
        F.max("JULD").alias("last_juld"),
    )
