"""sources.tables.load_table: one schema inference per table, reused by
every later read while the files and the inference confs are unchanged.

A Parquet read without a schema runs one Spark job to read a footer; a
registry builder that reads four tables ran four jobs before returning
its DataFrame. These tests pin that a repeated build runs none, and
that the cache never serves a schema the files or confs no longer give.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, TimestampType

from argostats_spark.queries import QUERIES, _t
from argostats_spark.sources.tables import load_table


def _jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.mark.parametrize("name", ["q1_pricing_summary", "join_multiway", "window_suite"])
def test_second_build_runs_no_jobs(spark, sf_dir, name):
    first = QUERIES[name](spark, sf_dir)
    second, jobs = _jobs(spark, f"reader_rebuild_{name}", lambda: QUERIES[name](spark, sf_dir))
    assert jobs == 0
    assert second.schema == first.schema
    assert _rows(second) == _rows(first)


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_rewritten_table_is_read_with_its_new_schema(spark, tmp_path, layout):
    path = str(tmp_path / "t.parquet")

    def write(table: pa.Table) -> None:
        if layout == "file":
            pq.write_table(table, path)
        else:
            spark.createDataFrame(table.to_pandas()).coalesce(1).write.mode(
                "overwrite"
            ).parquet(path)

    write(pa.table({"a": [1, 2], "b": ["x", "y"]}))
    assert load_table(spark, path).columns == ["a", "b"]
    assert load_table(spark, path).count() == 2

    write(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"], "c": [0.5, 1.5, 2.5]}))
    df = load_table(spark, path)
    assert df.columns == ["a", "b", "c"]
    assert _rows(df) == [(1, "x", 0.5), (2, "y", 1.5), (3, "z", 2.5)]


def test_inference_conf_change_is_not_served_from_the_cache(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"k": pa.array([b"ab", b"cd"], pa.binary())}), path)
    conf = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(conf, None)
    try:
        spark.conf.set(conf, "false")
        assert isinstance(load_table(spark, path).schema["k"].dataType, BinaryType)
        spark.conf.set(conf, "true")
        df = load_table(spark, path)
        assert isinstance(df.schema["k"].dataType, StringType)
        assert _rows(df) == [("ab",), ("cd",)]
    finally:
        if before is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, before)


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_ts_encodings_read_as_timestamp(spark, tmp_path, unit):
    # both encodings the testdata generator has shipped: TIMESTAMP(NANOS)
    # (read as INT64 under nanosAsLong) and TIMESTAMP(MICROS) without a
    # zone (read as TIMESTAMP_NTZ); either way `ts` is a µs TimestampType
    ns = [1_700_000_000_123_456_789, 1_700_003_600_000_001_000]
    ts = pa.array(ns, pa.timestamp("ns"))
    if unit == "us":
        ts = ts.cast(pa.timestamp("us"), safe=False)
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": ts}),
        str(tmp_path / "events.parquet"),
        version="2.6",
        coerce_timestamps=None,
    )
    for _ in range(2):  # the first read infers, the second reuses the schema
        ev = _t(spark, str(tmp_path), "events")
        assert isinstance(ev.schema["ts"].dataType, TimestampType)
        got = [r[0] for r in ev.orderBy("event_id").select(F.unix_micros("ts")).collect()]
        assert got == [v // 1000 for v in ns]
