"""Parquet table loaders (SURVEY.md §2.1 S5-S8 collapsed to Parquet).

The reference persists its summary table as a pickle (src/argostats/
toctools.py:72-83) and the interpolated store as a hand-rolled
self-describing binary file (src/argostats/binaryfiles.py). Both become
``spark.read.parquet`` / ``df.write.parquet``: the schema travels in the
Parquet footer, ranged per-WMO reads (interpolation.py:153-162) become
predicate pushdown + row-group skipping, and the preallocated-offset
chunk writes (binaryfiles.py:54-85) become task-isolated part files.

``load_table`` is the query registry's one Parquet reader. A read with
no schema runs a Spark job to read a footer, so ``load_table`` infers a
table's schema once per process, keyed by (realpath, the session's
``_INFERENCE_CONFS`` values), and gives it to every later read, which
runs no job. The entry keeps the files' (name, size, mtime_ns); when
they differ, the read infers again and replaces it, so a rewritten table
never reads with a stale schema. A path the driver cannot see (a URI) is
read plainly and not cached.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TESTDATA_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# session confs that change the schema Parquet inference yields
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

# (realpath, conf values) -> (file signature, inferred schema)
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}


def _file_signature(path: str) -> tuple:
    files = [path] if os.path.isfile(path) else [
        os.path.join(root, f) for root, _, fs in os.walk(path) for f in fs]
    return tuple(sorted(
        (os.path.relpath(f, path), (st := os.stat(f)).st_size, st.st_mtime_ns) for f in files))


def load_table(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per path
    and inference confs, re-inferred when the files change."""
    if not os.path.exists(path):
        return spark.read.parquet(path)
    real = os.path.realpath(path)
    key = (real, tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS))
    sig = _file_signature(real)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == sig:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (sig, df.schema)
    return df


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
