"""fastText-style quality classifier (Joulin et al. 2016, "Bag of
Tricks for Efficient Text Classification") — the trained quality
filter of the CCNet / GPT-3 curation recipe: fit a linear classifier
to separate a small high-quality corpus (positives, e.g. curated
reference pages) from random crawl text (negatives), then keep crawl
documents the classifier scores as target-like. DSIR
(operators/dsir.py) is the importance-WEIGHTING member of this family;
this is the discriminative-CLASSIFIER member — both are standard, and
real pipelines run both.

Green-field scope (no counterpart in the reference's oceanographic
engine). The Spark shape is the point:

- features are hashed unigram+bigram buckets with ℓ₁-normalized
  counts (the fastText bag, same gram/bucket scheme as DSIR so the
  two share mental model and tests), built in ONE corpus pass and
  cached as a row-local array column — no explode survives into the
  training loop;
- training is full-batch logistic-regression gradient descent where
  EACH EPOCH is exactly one Spark job: the current weight vector
  rides into the plan as a B-sized array LITERAL, the per-document
  margin z = w·x + b is an in-row fold (zero joins, zero shuffles),
  and the gradient is one explode → groupBy(bucket) aggregate whose
  output is at most B+1 rows. Driver traffic per epoch: the B-float
  gradient — model-sized, never corpus-sized. EXACTLY deterministic:
  zero init, fixed lr schedule, and gradient terms summed in
  DECIMAL(28,14) (order-independent), so the fit is bit-identical
  under any partition layout — the materialized-model-oracle
  property (pinned by test);
- scoring (:func:`quality_score_rows`) is the dsir_score_rows /
  lm_score_rows pattern: row-shaped, stateless, stream-safe — the
  fitted model as an array literal, the score an in-row fold.

At 100 TB: the feature pass is one scan; each epoch re-scans the
cached feature table (epochs × one-shuffle jobs — 20-50 epochs is
the fastText norm, so the loop is bounded and each round's shuffle
payload is (bucket, grad-term) pairs, combiner-friendly). B is fixed
by construction (expression-size-bounded through ~64k buckets; ship
the model as a broadcast map join beyond — same tradeoff as DSIR,
documented there).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

__all__ = [
    "doc_feature_rows",
    "quality_fit",
    "quality_score_rows",
]


def _gram_buckets(text_col: str, n_buckets: int):
    """Row-local hashed gram buckets — THE DSIR feature map
    (dsir.hashed_gram_buckets: lowercased unigrams + bigrams,
    md5-prefix hash mod n_buckets), imported rather than copied so the
    two operators can never silently desynchronize (review finding
    r7)."""
    from .dsir import hashed_gram_buckets

    return hashed_gram_buckets(F.col(text_col), n_buckets)


def doc_feature_rows(
    docs: DataFrame,
    label: float,
    n_buckets: int = 4096,
    text_col: str = "text",
) -> DataFrame:
    """One corpus pass → the cached training representation: one row
    per document with ``y`` (the label) and ``feats`` — an array of
    (bucket, x) structs where x is the ℓ₁-normalized count (the
    fastText mean-of-embeddings bag, linearized). Zero-gram documents
    are dropped (nothing to learn from, and they'd divide by zero).
    Row-local: no shuffle; the groupBy is WITHIN the array
    (aggregate over sorted buckets), not across rows."""
    b = _gram_buckets(text_col, n_buckets)
    # count duplicates within the bucket array in-row, O(grams): sort,
    # find run BOUNDARIES (positions where the value changes), zip each
    # run start with the next start — no per-element array rebuild (a
    # concat/slice fold is O(grams²) per row: ~50M struct copies for a
    # 5k-token web page; review finding r7). Each intermediate is
    # STAGED as a projected column before any lambda references it —
    # a lambda referencing the raw expression re-inlines the whole
    # tokenize+md5 pipeline per element (the measured-90×
    # CollapseProject trap, SCALE.md "repetition stats"; re-measured
    # live here: the unstaged form timed out a 10-minute parity run
    # that the staged form finishes in seconds). Shuffle-free.
    staged = docs.select(
        F.lit(float(label)).alias("y"), F.array_sort(b).alias("__sb")
    )
    sb = F.col("__sb")
    n_grams = F.size(sb)
    idx = F.when(
        n_grams > 0, F.sequence(F.lit(1), n_grams)
    ).otherwise(F.array().cast("array<int>"))
    starts = F.filter(
        idx,
        lambda i: (i == 1)
        | (F.element_at(sb, i) != F.element_at(sb, i - 1)),
    )
    staged2 = staged.where(n_grams > 0).select("y", "__sb", starts.alias("__st"))
    st = F.col("__st")
    ends = F.concat(
        F.slice(st, 2, F.size(st)), F.array((n_grams + 1).cast("int"))
    )
    feats = F.zip_with(
        st,
        ends,
        lambda s_, e_: F.struct(
            F.element_at(sb, s_.cast("int")).alias("bucket"),
            ((e_ - s_).cast("double") / n_grams.cast("double")).alias("x"),
        ),
    )
    return staged2.select("y", feats.alias("feats"))


def quality_fit(
    pos: DataFrame,
    neg: DataFrame,
    n_buckets: int = 4096,
    epochs: int = 30,
    lr: float = 2.0,
    l2: float = 0.0,
    text_col: str = "text",
    lr_bias: float | None = None,
) -> tuple[list[float], float, list[float]]:
    """Fit the logistic model; returns (weights[B], bias, loss_history).

    Full-batch GD, one Spark job per epoch: margins fold in-row against
    the weight LITERAL, the gradient is one explode+agg bounded by B
    rows. The cached feature table is built once (one pass over each
    corpus). Loss history (mean log-loss per epoch, pre-step) comes
    free from the same aggregate — use it to pick epochs; fastText
    training is typically 5-50 epochs at lr ~0.1-2 on normalized bags.
    """
    # The bias "feature" is 1 per document while the l1-normalized
    # weight features are ~1/doc_len — curvatures differ by orders of
    # magnitude, so one lr either stalls the weights or diverges the
    # bias. lr applies to the weights; lr_bias (default lr/100,
    # capped at 1) to the intercept — the per-coordinate-scale trick
    # any practical GD on normalized bags needs.
    lr_bias = min(lr / 100.0, 1.0) if lr_bias is None else lr_bias
    feats = (
        doc_feature_rows(pos, 1.0, n_buckets, text_col)
        .unionByName(doc_feature_rows(neg, 0.0, n_buckets, text_col))
        .localCheckpoint(eager=True)
    )
    n_docs = feats.count()
    if n_docs == 0:
        raise ValueError("no trainable documents (all zero-gram?)")

    w = [0.0] * n_buckets
    b = 0.0
    history: list[float] = []
    for _ in range(epochs):
        w_arr = F.array(*[F.lit(x) for x in w])
        z = F.aggregate(
            F.col("feats"),
            F.lit(float(b)),
            lambda acc, s: acc + s.x * F.element_at(w_arr, (s.bucket + 1).cast("int")),
        )
        # p − y is the shared residual of every gradient term AND the
        # bias gradient; log-loss rides along for the history
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        staged = feats.select(
            "feats",
            (p - F.col("y")).alias("resid"),
            (
                -(
                    F.col("y") * F.log(F.greatest(p, F.lit(1e-15)))
                    + (F.lit(1.0) - F.col("y"))
                    * F.log(F.greatest(F.lit(1.0) - p, F.lit(1e-15)))
                )
            ).alias("loss"),
        )
        # DECIMAL(28,14) sums, the k-means partition-independence
        # mechanism (clustering.py:85-93): each per-row term is rounded
        # ONCE by the cast (deterministic per value, HALF_UP) and
        # decimal addition is exact, so the fitted model is independent
        # of partition layout / reduction order — the property the
        # oracle-ordering guard needs to regenerate a byte-identical
        # model in a different session. Terms are O(1) magnitudes
        # (|resid| <= 1, x <= 1, loss <= 35), far inside the cast range.
        dec = "decimal(28,14)"
        grad_rows = (
            staged.select(
                "resid", "loss",
                F.size("feats").alias("nf"),
                F.explode("feats").alias("s"),
            )
            .groupBy(F.col("s.bucket").alias("bucket"))
            .agg(
                F.sum((F.col("resid") * F.col("s.x")).cast(dec)).alias("g"),
                # each document's resid/loss appears once per feature;
                # divide by the doc's feature count to sum it once
                F.sum((F.col("resid") / F.col("nf")).cast(dec)).alias("gb"),
                F.sum((F.col("loss") / F.col("nf")).cast(dec)).alias("l"),
            )
            .collect()
        )
        # gb/l arrive as one exact Decimal per bucket group but the
        # collect() row order is nondeterministic — accumulate them as
        # Decimals (exact, order-independent) and convert once
        from decimal import Decimal

        grad = [0.0] * n_buckets
        gb_d = Decimal(0)
        loss_d = Decimal(0)
        for r in grad_rows:
            grad[int(r["bucket"])] = float(r["g"]) / n_docs
            gb_d += r["gb"]
            loss_d += r["l"]
        grad_b = float(gb_d) / n_docs
        history.append(float(loss_d) / n_docs)
        for j in range(n_buckets):
            w[j] -= lr * (grad[j] + l2 * w[j])
        b -= lr_bias * grad_b
    return w, b, history


def quality_score_rows(
    docs: DataFrame,
    weights: list[float],
    bias: float,
    n_buckets: int | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Apply the fitted model row-locally: adds ``q_score`` — the
    sigmoid probability the document is target-quality — keeping the
    frame row-shaped (stateless streaming map, the dsir_score_rows /
    lm_score_rows pattern). Zero-gram documents score NULL (nothing to
    classify — not 0.5, which a threshold gate would treat as a real
    coin-flip score)."""
    n_buckets = len(weights) if n_buckets is None else n_buckets
    assert n_buckets == len(weights)
    w_arr = F.array(*[F.lit(float(x)) for x in weights])
    # STAGE the bucket array and its size as projected columns (round
    # 15, guide §1.2 "don't compute things twice"): the inline form
    # referenced size(_gram_buckets(text)) INSIDE the fold lambda, so
    # every fold step re-evaluated the whole tokenize+hash gram array —
    # O(grams²) per document (measured: 110 s to score the 5k-doc
    # sf0.001 corpus, ~22 ms/doc; staged: the same scoring is
    # O(grams)). Arithmetic is unchanged — the same element_at/size
    # doubles fold in the same order — so scores are bit-identical
    # (oracle parity green). The frame stays a stateless projection
    # (no exchange, no Python; plan-pinned).
    # temp names absent from the caller's frame (case-insensitively, as
    # Spark resolves them), so no caller column is replaced and dropped
    bcol, ncol = "__qc_b", "__qc_n"
    taken = {c.lower() for c in docs.columns}
    while bcol in taken or ncol in taken:
        bcol, ncol = bcol + "_", ncol + "_"
    staged = docs.withColumn(bcol, _gram_buckets(text_col, n_buckets))
    staged = staged.withColumn(ncol, F.size(F.col(bcol)))
    n = F.col(ncol)
    z = F.aggregate(
        F.col(bcol),
        F.lit(float(bias)),
        lambda acc, bk: acc
        + F.element_at(w_arr, (bk + 1).cast("int")) / n.cast("double"),
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return staged.withColumn("q_score", F.when(n > 0, score)).drop(bcol, ncol)
