"""fastText-style quality classifier (operators/quality_classifier.py):
exact differential of the distributed full-batch GD loop against a
plain-Python reference (the k-means / BPE verification pattern), plus
separation behavior, row-local scoring semantics, and streaming==batch.
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from argostats_spark.operators.quality_classifier import (
    doc_feature_rows,
    quality_fit,
    quality_score_rows,
)

B = 64


def _toks(text: str) -> list[str]:
    return [t for t in text.lower().split() if t]


def _buckets(text: str, n_buckets: int = B) -> list[int]:
    tk = _toks(text)
    grams = tk + [" ".join(p) for p in zip(tk, tk[1:])]
    return [
        int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % n_buckets
        for g in grams
    ]


def _q14(x: float):
    """Mirror Spark's cast(double as decimal(28,14)): exact binary
    value quantized to 14 dp, HALF_UP."""
    from decimal import ROUND_HALF_UP, Decimal

    return Decimal(x).quantize(Decimal("1e-14"), rounding=ROUND_HALF_UP)


def _ref_fit(pos, neg, n_buckets=B, epochs=10, lr=1.0, l2=0.0,
             lr_bias=None):
    """Reference: full-batch logistic GD over l1-normalized hashed
    bags, zero init, gradient terms quantized to DECIMAL(28,14) and
    summed exactly — the exact contract quality_fit implements."""
    rows = []
    for y, corpus in ((1.0, pos), (0.0, neg)):
        for t in corpus:
            bk = _buckets(t, n_buckets)
            if not bk:
                continue
            x = {}
            for b_ in bk:
                x[b_] = x.get(b_, 0.0) + 1.0 / len(bk)
            rows.append((y, x))
    lr_bias = min(lr / 100.0, 1.0) if lr_bias is None else lr_bias
    n = len(rows)
    w = [0.0] * n_buckets
    bias = 0.0
    hist = []
    from decimal import Decimal

    for _ in range(epochs):
        grad = [Decimal(0)] * n_buckets
        gb = Decimal(0)
        loss = Decimal(0)
        for y, x in rows:
            z = bias + sum(w[j] * v for j, v in x.items())
            p = 1.0 / (1.0 + math.exp(-z))
            r = p - y
            nf = len(x)
            for j, v in x.items():
                grad[j] += _q14(r * v)
            gb += _q14(r / nf) * nf
            ll = -(
                y * math.log(max(p, 1e-15))
                + (1 - y) * math.log(max(1 - p, 1e-15))
            )
            loss += _q14(ll / nf) * nf
        hist.append(float(loss) / n)
        for j in range(n_buckets):
            w[j] -= lr * (float(grad[j]) / n + l2 * w[j])
        bias -= lr_bias * float(gb) / n
    return w, bias, hist


POS = [
    "the curated encyclopedia article discusses the history of science",
    "careful prose with citations and structure wins the quality gate",
    "the history of science article cites careful structured sources",
    "quality prose discusses structured history with citations",
]
NEG = [
    "click here buy now cheap cheap deals deals",
    "win win win free free prizes click buy",
    "cheap deals click here free prizes buy now",
    "buy cheap win free click deals now prizes",
]


def test_fit_matches_python_reference(spark):
    pos = spark.createDataFrame([(t,) for t in POS], "text string")
    neg = spark.createDataFrame([(t,) for t in NEG], "text string")
    w, b, hist = quality_fit(pos, neg, n_buckets=B, epochs=10, lr=1.0)
    rw, rb, rhist = _ref_fit(POS, NEG, epochs=10, lr=1.0)
    assert b == pytest.approx(rb, abs=1e-9)
    for j in range(B):
        assert w[j] == pytest.approx(rw[j], abs=1e-9), j
    for h, rh in zip(hist, rhist):
        assert h == pytest.approx(rh, abs=1e-9)
    # loss must actually decrease — the loop is optimizing, not churning
    assert hist[-1] < hist[0]


def test_feature_rows_l1_normalized(spark):
    df = spark.createDataFrame([("aa aa bb",), ("",)], "text string")
    rows = doc_feature_rows(df, 1.0, n_buckets=B).collect()
    assert len(rows) == 1  # zero-gram doc dropped
    feats = {s["bucket"]: s["x"] for s in rows[0]["feats"]}
    # grams: aa aa bb "aa aa" "aa bb" -> 5 grams, counts {aa:2, bb:1,
    # 'aa aa':1, 'aa bb':1} over whatever buckets they hash into
    assert sum(feats.values()) == pytest.approx(1.0)
    got_buckets = sorted(
        set(_buckets("aa aa bb"))
    )
    assert sorted(feats) == got_buckets


def test_scores_separate_and_row_semantics(spark):
    pos = spark.createDataFrame([(t,) for t in POS], "text string")
    neg = spark.createDataFrame([(t,) for t in NEG], "text string")
    w, b, _ = quality_fit(pos, neg, n_buckets=B, epochs=30, lr=2.0)

    held = spark.createDataFrame(
        [
            (0, "the science article discusses history with careful citations"),
            (1, "free cheap prizes click now buy deals win"),
            (2, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["q_score"] for r in
           quality_score_rows(held, w, b).collect()}
    assert out[0] > 0.5 > out[1]
    assert out[2] is None  # zero-gram -> NULL, never 0.5
    # row shape: original columns intact, one added column
    cols = quality_score_rows(held, w, b).columns
    assert cols == ["doc_id", "text", "q_score"]

    # score equals the reference sigmoid exactly (6 dp round)
    bk = _buckets(POS[0])
    z = b + sum(w[j] / len(bk) for j in bk)
    want = round(1.0 / (1.0 + math.exp(-z)), 6)
    got = quality_score_rows(
        spark.createDataFrame([(POS[0],)], "text string"), w, b
    ).collect()[0]["q_score"]
    assert got == pytest.approx(want, abs=1e-9)


def test_score_rows_keeps_caller_columns_named_like_its_temps(spark):
    """quality_score_rows stages its gram buckets in temp columns; a
    caller column with one of those names must come out unchanged."""
    docs = spark.createDataFrame(
        [(0, POS[0], "keep", 7)], "doc_id long, text string, __qc_b string, __QC_N int"
    )
    out = quality_score_rows(docs, [0.1] * B, -0.2)
    assert out.columns == ["doc_id", "text", "__qc_b", "__QC_N", "q_score"]
    r = out.collect()[0]
    assert (r["__qc_b"], r["__QC_N"]) == ("keep", 7)
    assert r["q_score"] == quality_score_rows(
        docs.select("doc_id", "text"), [0.1] * B, -0.2
    ).collect()[0]["q_score"]


def test_score_rows_streaming_equals_batch(spark, tmp_path):
    pos = spark.createDataFrame([(t,) for t in POS], "text string")
    neg = spark.createDataFrame([(t,) for t in NEG], "text string")
    w, b, _ = quality_fit(pos, neg, n_buckets=B, epochs=5, lr=1.0)

    new = spark.createDataFrame(
        [(0, POS[1]), (1, NEG[1]), (2, "unrelated novel words entirely")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "in")
    new.repartition(2).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    batch = {
        r["doc_id"]: r["q_score"]
        for r in quality_score_rows(spark.read.parquet(src), w, b).collect()
    }
    stream = spark.readStream.schema(schema).parquet(src)
    scored = quality_score_rows(stream, w, b)
    assert scored.isStreaming
    q = (
        scored.writeStream.format("memory")
        .queryName("qc_stream").outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["doc_id"]: r["q_score"]
            for r in spark.sql("SELECT * FROM qc_stream").collect()
        }
    finally:
        q.stop()
    assert got == batch


def test_fit_partition_independent(spark):
    """DECIMAL gradient sums + driver-side Decimal accumulation: the
    fitted model must be bit-identical under any partition layout —
    the property the materialized-model oracle pattern requires."""
    pos = spark.createDataFrame([(t,) for t in POS], "text string")
    neg = spark.createDataFrame([(t,) for t in NEG], "text string")
    w1, b1, h1 = quality_fit(pos.repartition(7), neg.repartition(5),
                             n_buckets=B, epochs=6, lr=1.0)
    w2, b2, h2 = quality_fit(pos.coalesce(1), neg.coalesce(1),
                             n_buckets=B, epochs=6, lr=1.0)
    assert w1 == w2 and b1 == b2 and h1 == h2
