"""spread_for_cpu's min-bytes-per-partition floor (round 15, VERDICT
r14 item 7): a KB-scale input must not fan to the full core count —
the spread is clamped to input_bytes // floor partitions — while the
measured-win configurations (the 580-780 KB sf0.1 corpora → full
spread) keep their round-12/14 behavior."""

from __future__ import annotations

import os
from urllib.parse import urlparse

import pytest

from argostats_spark.session import SPREAD_MIN_BYTES_PER_PART, spread_for_cpu


@pytest.fixture()
def docs_small(spark):
    # sf0.001 documents: ~64 KB parquet — the 16 KiB/partition floor
    # clamps the spread to 3 partitions instead of the core count
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


@pytest.fixture()
def docs_big(spark):
    # sf0.1 documents: ~580 KB — 16 KiB/partition allows 36 partitions,
    # the full spread on hosts up to 36 cores (the measured
    # cosine_topk/dsir/text_suite win configuration)
    return spark.read.parquet("/root/testdata/sf0.1/documents.parquet")


def test_small_input_spread_is_clamped(spark, docs_small):
    # the expected count from this host's cores and the file's bytes:
    # the ~64 KB corpus allows 3 partitions at the 16 KiB floor, so the
    # spread stays below the core count only on hosts with more than 3
    p = spark.sparkContext.defaultParallelism
    scan_parts = docs_small.rdd.getNumPartitions()
    file_bytes = sum(os.path.getsize(urlparse(f).path) for f in docs_small.inputFiles())
    allowed = file_bytes // SPREAD_MIN_BYTES_PER_PART
    want = max(scan_parts, min(p, allowed))
    out_parts = spread_for_cpu(docs_small).rdd.getNumPartitions()
    assert out_parts == want
    if allowed < p:
        assert out_parts < p


def test_tiny_input_does_not_fan_out(spark, tmp_path):
    # a parquet well under the 16 KiB floor: the spread is a no-op
    path = str(tmp_path / "tiny.parquet")
    spark.range(5).write.parquet(path)
    tiny = spark.read.parquet(path).coalesce(1)
    assert spread_for_cpu(tiny).rdd.getNumPartitions() == 1


def test_big_input_gets_full_spread(spark, docs_big):
    # the expected count from this host's cores and the file's bytes:
    # min(cores, 36) on the sf0.1 corpus, never below the scan's split
    p = spark.sparkContext.defaultParallelism
    scan_parts = docs_big.rdd.getNumPartitions()
    file_bytes = sum(os.path.getsize(urlparse(f).path) for f in docs_big.inputFiles())
    want = max(scan_parts, min(p, file_bytes // SPREAD_MIN_BYTES_PER_PART))
    assert spread_for_cpu(docs_big).rdd.getNumPartitions() == want


def test_already_spread_input_is_returned_unchanged(spark, docs_big):
    p = spark.sparkContext.defaultParallelism
    wide = docs_big.repartition(p)
    assert spread_for_cpu(wide) is wide


def test_rows_unchanged_by_spread(spark, docs_big):
    a = sorted(r["doc_id"] for r in docs_big.select("doc_id").collect())
    b = sorted(
        r["doc_id"] for r in spread_for_cpu(docs_big).select("doc_id").collect()
    )
    assert a == b
