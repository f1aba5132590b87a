"""Parquet table loaders (SURVEY.md §2.1 S5-S8 collapsed to Parquet).

The reference persists its summary table as a pickle (src/argostats/
toctools.py:72-83) and the interpolated store as a hand-rolled
self-describing binary file (src/argostats/binaryfiles.py). Both become
``spark.read.parquet`` / ``df.write.parquet``: the schema travels in the
Parquet footer, ranged per-WMO reads (interpolation.py:153-162) become
predicate pushdown + row-group skipping, and the preallocated-offset
chunk writes (binaryfiles.py:54-85) become task-isolated part files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 64,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (SCALE.md): co-locates every future join/
    aggregation on ``bucket_cols`` — two tables bucketed the same way
    join with ZERO shuffle exchanges (asserted in tests/test_plans.py).

    This is the at-rest answer to the reference's 'records contiguous
    per WMO' layout (README.md:146-158): bucket pruning + no-shuffle
    joins instead of byte-offset arithmetic."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table_name)
