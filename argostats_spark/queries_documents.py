"""Document / embedding family of the query inventory (split out of
queries.py): text analysis, multimodal metadata, the dedup family,
similarity search, decontamination, and the training-data sampling
surface — every entry a (Spark builder, DuckDB oracle SQL) pair
registered into the same QUERIES/ORACLES dicts as queries.py (which
imports this module at its bottom).

Cross-engine determinism rules are documented in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .functions.arrays import cosine_similarity, dot_product, l2_norm
from .functions.text import STOPWORDS, quality_score, tokens, word_ngrams
from .queries import _t, query
from .session import spread_for_cpu

# =========================================================================
# Trained-model materialization for derived oracles
# =========================================================================
#
# Some operators (PQ codebooks, k-means centroids) carry a driver-
# trained model whose floats are partition-order artifacts; verifying
# the OPERATOR (encode / score / assign) cross-engine means the model
# rides in as data — the same tolerance policy BASELINE.md applies to
# the atlas spline. The queries() callable writes the model to a
# per-user tmp parquet (driver-local pyarrow — the model is KBs, no
# cluster filesystem involved) and the DuckDB twin recomputes the
# whole operator from it. Staging into a unique mkdtemp + os.replace
# keeps concurrent runs atomic (round-5 advice).


def _model_parquet_path(name: str) -> str:
    import getpass
    import os
    import tempfile

    try:
        user = getpass.getuser()
    except Exception:
        user = f"uid{os.getuid()}"
    return os.path.join(
        tempfile.gettempdir(), f"argostats_spark_{user}", f"{name}.parquet"
    )


def _write_model_parquet(name: str, columns: dict) -> str:
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq_

    dest = _model_parquet_path(name)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    stage_dir = tempfile.mkdtemp(dir=os.path.dirname(dest))
    stage = os.path.join(stage_dir, "model.parquet")
    pq_.write_table(pa.table(columns), stage)
    os.replace(stage, dest)
    os.rmdir(stage_dir)
    return dest


# --- WARC+robots fixture (multimodal_features 'warc' limb) ---------------
# A spec-correct member-gzip WARC archive built from these constants and
# written (atomically) to a temp dir; the limb runs the REAL pipeline
# read_warc -> warc_to_documents -> apply_robots over it, and the DuckDB
# twin derives every expected value (md5/char/token counts) from the SAME
# expected-text literals in SQL — nothing is a frozen opaque hash.
_WARC_ROBOTS_BODY = (
    "User-agent: *\n"
    "Disallow: /private/\n"
    "Allow: /private/ok/\n"
    "Disallow: /*.pdf$\n"
)
# (url, status_line, content_type, html, encoding)
_WARC_PAGES = [
    ("http://a.example.com/public/x.html", b"HTTP/1.1 200 OK",
     b"text/html; charset=utf-8",
     "<html><body><h1>Public</h1><p>Hello public world</p></body></html>",
     "utf-8"),
    ("http://a.example.com/private/secret.html", b"HTTP/1.1 200 OK",
     b"text/html",
     "<html><body><p>Secret stuff here</p></body></html>", "utf-8"),
    ("http://a.example.com/private/ok/fine.html", b"HTTP/1.1 200 OK",
     b"text/html",
     "<html><body><p>Allowed deep path</p></body></html>", "utf-8"),
    ("http://b.example.com/page", b"HTTP/2 200",  # no dotted minor
     b"text/html",
     "<html><body><div>Beta</div><div>Gamma page</div></body></html>",
     "utf-8"),
    ("http://b.example.com/sjis", b"HTTP/1.1 200 OK",
     b'text/html; charset="Shift_JIS"',  # quoted charset, RFC 9110
     "<html><body><p>日本語のページ</p></body></html>",
     "shift_jis"),
    # dropped by warc_to_documents: non-HTML payload / non-200 status
    ("http://a.example.com/img.png", b"HTTP/1.1 200 OK", b"image/png",
     None, None),
    ("http://a.example.com/missing", b"HTTP/1.1 404 Not Found",
     b"text/html",
     "<html><body><p>gone</p></body></html>", "utf-8"),
]


def _warc_record(warc_type: bytes, extra: bytes, body: bytes) -> bytes:
    hdr = (
        b"WARC/1.0\r\nWARC-Type: " + warc_type + b"\r\n" + extra
        + b"Content-Length: " + str(len(body)).encode() + b"\r\n"
    )
    return hdr + b"\r\n" + body + b"\r\n\r\n"


def _warc_fixture_bytes() -> bytes:
    """The archive: warcinfo + request (both skipped by responses_only)
    + the 7 response records above, as TWO concatenated gzip members
    (the Common Crawl layout; mtime=0 for byte determinism)."""
    import gzip

    recs = [
        _warc_record(b"warcinfo", b"", b"software: argostats-fixture\r\n"),
        _warc_record(
            b"request",
            b"WARC-Target-URI: http://a.example.com/public/x.html\r\n",
            b"GET /public/x.html HTTP/1.1\r\nHost: a.example.com\r\n\r\n",
        ),
    ]
    for url, status, ctype, html, enc in _WARC_PAGES:
        payload = (b"\x89PNGfixturebytes" if html is None
                   else html.encode(enc))
        body = (status + b"\r\nContent-Type: " + ctype + b"\r\n\r\n"
                + payload)
        recs.append(_warc_record(
            b"response",
            b"WARC-Target-URI: " + url.encode() + b"\r\n", body,
        ))
    mid = len(recs) // 2
    return (
        gzip.compress(b"".join(recs[:mid]), mtime=0)
        + gzip.compress(b"".join(recs[mid:]), mtime=0)
    )


def _ensure_warc_fixture() -> str:
    """Write the fixture archive under the model-parquet temp dir
    (atomic rename, concurrent-safe) and return the directory holding
    it, for a binaryFile scan."""
    import os
    import tempfile

    dest = _model_parquet_path("warc_fixture")  # reuse the user temp dir
    fix_dir = os.path.join(os.path.dirname(dest), "warc_fixture")
    os.makedirs(fix_dir, exist_ok=True)
    final = os.path.join(fix_dir, "fixture.warc.gz")
    data = _warc_fixture_bytes()
    try:
        with open(final, "rb") as f:
            if f.read() == data:
                return fix_dir
    except OSError:
        pass
    fd, stage = tempfile.mkstemp(dir=fix_dir)
    with os.fdopen(fd, "wb") as f:
        f.write(data)
    os.replace(stage, final)
    return fix_dir


# --- CSV/TSV ingest fixture (decontaminate 'csv_ingest' limb) ------------
# Labeled (line, kind) literals; kind in {'header','good','bad'}. The
# engine writes the LINES verbatim and runs the real quarantine ingest
# (sources/csvsrc.py) over them; the DuckDB twin re-reads the SAME file
# with DuckDB's OWN CSV parser for the good side — a genuine
# two-independent-parsers differential on typed parsing, quoting, and
# permissive row rejection — and derives the quarantine side (md5 of
# each raw line, header-vs-parse reason) from these literals in SQL.
_CSV_FIXTURE_CSV = [
    ("doc_id,label,score", "header"),          # schema-derived header
    ('"DOC_ID", "LABEL", "SCORE"', "header"),  # quoted/spaced/upper variant
    ("101,alpha,0.5", "good"),
    ('102,"beta, quoted",1.25', "good"),       # quoted separator
    ("103,gamma,-2.75", "good"),
    ("104,delta,0.015625", "good"),            # binary-exact double
    ("105,epsilon,notanumber", "bad"),         # bad cast
    ("106,toofew", "bad"),                     # arity short
    ("107,zeta,0.5,extra", "bad"),             # arity long
    ("108,eta,3", "good"),                     # int literal into double
]
_CSV_FIXTURE_TSV = [
    ("201\ttabbed label\t4.5", "good"),
    ("202\twide\t1.5\textra", "bad"),
    ("203\tok\t-0.25", "good"),
]


def _csv_fixture_dir() -> str:
    import os

    return os.path.join(
        os.path.dirname(_model_parquet_path("csv_fixture")), "csv_fixture"
    )


def _ensure_csv_fixture() -> str:
    """Write fixture.csv / fixture.tsv from the labeled literals above
    (atomic rename, concurrent-safe; the _ensure_warc_fixture pattern)
    and return the directory."""
    import os
    import tempfile

    fix_dir = _csv_fixture_dir()
    os.makedirs(fix_dir, exist_ok=True)
    for fname, rows in (
        ("fixture.csv", _CSV_FIXTURE_CSV),
        ("fixture.tsv", _CSV_FIXTURE_TSV),
    ):
        final = os.path.join(fix_dir, fname)
        data = ("\n".join(line for line, _ in rows) + "\n").encode()
        try:
            with open(final, "rb") as f:
                if f.read() == data:
                    continue
        except OSError:
            pass
        fd, stage = tempfile.mkstemp(dir=fix_dir)
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        os.replace(stage, final)
    return fix_dir


def _train_and_write_pq(spark: SparkSession, sf_dir: str):
    """Train the PQ codebooks (deterministic: content-ordered sample →
    driver NumPy, partition-independent by test) and materialize them
    for the oracle. Shared by the ann_suite builder and the
    oracle-ordering guard below — ONE definition of the model recipe."""
    from .operators.pq import pq_train

    e = _t(spark, sf_dir, "embeddings")
    books = pq_train(e, m=8, ksub=16, vec_col="embedding",
                     sample_rows=400, seed=7)
    _write_model_parquet(
        "pq_codebooks",
        {
            "block": [b for b in range(len(books)) for _ in books[b]],
            "code": [c for b in range(len(books)) for c in range(len(books[b]))],
            "centroid": [books[b][c] for b in range(len(books))
                         for c in range(len(books[b]))],
        },
    )
    return books


def _train_and_write_kmeans(spark: SparkSession, sf_dir: str):
    """Train the k-means model (deterministic: content-hash init + exact
    DECIMAL Lloyd sums, partition-independent by test) and materialize
    the centroids for the oracle. Shared by the clustering_suite
    builder and the oracle-ordering guard below."""
    from .operators.clustering import kmeans_fit

    e = _t(spark, sf_dir, "embeddings")
    cents = kmeans_fit(e, k=8, iters=8, vec_col="embedding", seed=42,
                       init="hash")
    _write_model_parquet(
        "kmeans_centroids",
        {"cell": list(range(len(cents))), "centroid": cents},
    )
    return cents


def _train_and_write_qc(spark: SparkSession, sf_dir: str):
    """Train the fastText-style source classifier (src0-9 vs src10-19
    — the corpus's sources have genuinely distinct token distributions,
    so the fit has real signal to find, unlike the `lang` tag which is
    text-uncorrelated in this synthetic corpus; deterministic: DECIMAL
    gradient sums + driver-side Decimal accumulation,
    partition-independent by test) and materialize (bucket, w) for the
    oracle, bias at bucket=-1. Shared by the quality_filter builder
    and the oracle-ordering guard below."""
    from .operators.quality_classifier import quality_fit

    d = _t(spark, sf_dir, "documents")
    grp = F.substring("source", 4, 10).cast("int")
    pos = d.where(grp < 10)
    neg = d.where((grp >= 10) | grp.isNull())
    # lr=500 on l1-normalized bags (features ~1/doc_len, so the
    # weight-space curvature is tiny — see quality_fit's lr_bias note).
    # 8 epochs: the loss is descending and the weights are far from
    # zero — enough signal for the oracle to pin the full GD + scoring
    # math; the LEARNING demonstration (loss curve, held-out
    # separation, 2/3 accuracy at 30 epochs) lives in
    # test_quality_classifier.py, not in this driver row, and each
    # epoch is a scheduler-bound ~0.9 s Spark job the driver pays twice
    # (query + oracle-ordering guard).
    w, b, _ = quality_fit(pos, neg, n_buckets=256, epochs=8, lr=500.0)
    _write_model_parquet(
        "qc_weights",
        {"bucket": list(range(-1, len(w))), "w": [b] + list(w)},
    )
    return w, b


# The driver's correctness scale (the brief pins oracle comparison at
# sf=0.01). The model parquet path is NOT keyed by sf, so the guard
# must train at the same sf the driver queries at — honor the parity
# harness's env override so a non-default run stays aligned. If a
# caller nevertheless queries at a third sf, the BUILDERS overwrite the
# models at their own sf, so query-before-oracle ordering is always
# consistent; only oracle-first at a non-default sf would read a
# wrong-scale model — and the driver contract fixes that sf here.
import os as _os

_DRIVER_SF_DIR = _os.environ.get("ARGOSTATS_PARITY_SF", "/root/testdata/sf0.01")


def ensure_model_parquets(sf_dir: str = _DRIVER_SF_DIR) -> None:
    """Driver-ordering guard, mirroring ensure_atlas_oracle_parquet: if
    the correctness driver evaluates the ann_suite / clustering_suite
    oracle SQL BEFORE running the Spark queries on a clean machine, the
    model parquets would not exist (or could be stale from an older
    corpus). Both trainings are PARTITION-INDEPENDENT (content-ordered
    PQ sample; content-hash k-means init + exact DECIMAL Lloyd sums —
    pinned by tests), so regenerating here yields byte-identical models
    to whatever the Spark queries will (re)write, at any ordering.

    Regenerates unconditionally (the atlas policy: an exists-check
    would trust a stale or half-written model forever; the writer
    stages into a unique tempdir and os.replace()s atomically). Uses
    the active SparkSession when one exists; otherwise spins up a small
    local one and stops it."""
    import os

    if not os.path.isdir(sf_dir):  # no testdata in this environment —
        return                     # nothing the oracles could read either
    # getActiveSession() is thread-local: a driver that created its
    # session on another thread would look session-less here, and
    # builder.getOrCreate() would hand back that SAME default session —
    # which the finally block must then NOT stop (stopping the shared
    # SparkContext kills every later driver query). Only own a session
    # when no SparkContext exists at all.
    from pyspark import SparkContext

    spark = SparkSession.getActiveSession()
    if spark is None and SparkContext._active_spark_context is not None:
        spark = SparkSession.builder.getOrCreate()  # reuse, never stop
    own = spark is None
    if own:
        spark = (
            SparkSession.builder.master("local[8]")
            .appName("argostats_model_twin")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.sql.session.timeZone", "UTC")
            .getOrCreate()
        )
    try:
        _train_and_write_pq(spark, sf_dir)
        _train_and_write_kmeans(spark, sf_dir)
        _train_and_write_bpe(spark, sf_dir)
        _train_and_write_qc(spark, sf_dir)
    finally:
        if own:
            spark.stop()


# =========================================================================
# Text analysis on documents (training-data pipeline surface)
# =========================================================================

_TOKS_SQL = r"string_split_regex(trim(lower(text)), '\s+')"


@query(
    "text_suite",
    rf"""
    WITH t AS (
      SELECT doc_id, lang, text,
             {_TOKS_SQL} AS ltoks,
             CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS n_tok,
             CAST(length(text) AS DOUBLE) AS n_chr,
             CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE)
               AS n_punct,
             trim(regexp_replace(
               regexp_replace(lower(text), '[\x00-\x1f\x7f]', ' ', 'g'),
               '\s+', ' ', 'g')) AS norm
      FROM documents
    ),
    s AS (
      SELECT *,
             len(list_filter(ltoks, x -> x IN ('the','and','of','to','is'))) AS s_en,
             len(list_filter(ltoks, x -> x IN ('der','die','und','ist','das'))) AS s_de,
             len(list_filter(ltoks, x -> x IN ('le','la','et','est','les'))) AS s_fr,
             len(list_filter(ltoks, x -> x IN ('el','la','que','es','los'))) AS s_es,
             list_transform(range(1, greatest(len(ltoks) - 1, 0) + 1),
                            i -> array_to_string(list_slice(ltoks, i, i + 1), ' ')) AS g2,
             list_transform(range(1, greatest(len(ltoks) - 2, 0) + 1),
                            i -> array_to_string(list_slice(ltoks, i, i + 2), ' ')) AS g3
      FROM t
    ),
    r AS (
      SELECT *,
             CASE WHEN len(ltoks) > 0
                  THEN CAST(list_max(list_transform(list_distinct(ltoks),
                         d -> len(list_filter(ltoks, x -> x = d)))) AS DOUBLE)
                       / CAST(len(ltoks) AS DOUBLE)
                  ELSE 0.0 END AS top_raw,
             CASE WHEN len(g2) > 0
                  THEN CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
                       / CAST(len(g2) AS DOUBLE)
                  ELSE 0.0 END AS d2_raw,
             CASE WHEN len(g3) > 0
                  THEN CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
                       / CAST(len(g3) AS DOUBLE)
                  ELSE 0.0 END AS d3_raw
      FROM s
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
           CAST(len(ltoks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(ltoks)) AS BIGINT) AS n_unique,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           round(
             least(n_tok / 20.0, 1.0) * 0.4
             + (CASE WHEN n_tok > 0 AND n_chr / n_tok >= 3.0 AND n_chr / n_tok <= 12.0
                     THEN 1.0 ELSE 0.5 END) * 0.3
             + (1.0 - least((CASE WHEN n_chr > 0 THEN n_punct / n_chr ELSE 0.0 END) * 4.0, 1.0))
               * 0.3,
           6) AS quality,
           ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp60,
           ('0x' || substr(md5(text), 1, 15))::BIGINT % 64 AS shard,
           CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
                WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                WHEN s_fr >= s_es THEN 'fr'
                ELSE 'es' END AS pred,
           md5(norm) AS norm_hash,
           CAST(length(norm) AS BIGINT) AS norm_len,
           round(top_raw, 6) AS top_tok_frac,
           round(d2_raw, 6) AS dup_2gram_frac,
           round(d3_raw, 6) AS dup_3gram_frac,
           CAST(CASE WHEN top_raw > 0.20 OR d2_raw > 0.20 OR d3_raw > 0.18
                     THEN 1 ELSE 0 END AS BIGINT) AS repetitive
    FROM r
    """,
)
def q_text_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis suite: ONE scan of the documents table computing
    every per-document text operator as a wide row (merged from the
    former ``text_token_stats`` / ``text_quality`` / ``text_langid`` /
    ``text_fingerprint`` / ``text_normalize`` queries — a single-pass
    plan a real curation pipeline would run, and one registry slot in
    the driver's 50-query correctness window):

    - token counting (whitespace tokenizer): n_tokens / n_unique /
      n_chars_actual;
    - quality scoring (length / punctuation / word-shape ratios),
      rounded to 6 decimals (functions/text.quality_score);
    - 60-bit md5-prefix fingerprint + shard assignment (md5 is the one
      hash both engines share; the engine also exposes xxhash64 where
      no oracle is needed);
    - language-ID stopword vote (argmax, ties to the earlier language
      in STOPWORDS order) returned per-document beside the true lang
      label;
    - canonical normalization (control-strip, lower, whitespace
      collapse, trim) verified as md5 + length so the full normalized
      text is checked without shipping it. Control-strip and lower()
      commute (control chars are caseless), so normalize_text == the
      oracle's lower-first expression.

    - Gopher-style repetition stats (round 6): most-frequent-token
      fraction (sorted-run aggregate — O(n log n) per row, no
      per-distinct rescan), duplicate 2-/3-gram fractions
      (1 − distinct/total over the in-row shingle lists), and the
      combined `repetitive` gate as 0/1. All ratios are exact small-
      integer quotients, so the doubles are bit-identical cross-engine
      and the > threshold comparisons cannot flip. Computed via the
      STAGED form (with_repetition_stats) — the intermediate token and
      shingle arrays are projected columns evaluated once per row; the
      inline expression forms re-tokenize per array element and were
      measured ~90× slower on this exact suite.

    All columns are built-in column expressions — JVM-side, one
    whole-stage-codegen span, no Python in the path.
    """
    from .functions.text import normalize_text, with_repetition_stats

    # the stopword-vote token array is STAGED as a projected column:
    # the vote references it once per language filter plus the argmax
    # chain, and the inline form re-tokenized the document at every
    # reference (the same CollapseProject hazard with_repetition_stats
    # documents; measured 1.31 s -> 0.69 s on this limb at sf0.1, r8)
    # spread_for_cpu: the per-row work here (tokenize + shingle + md5 +
    # repetition stats) is the expensive-map case; measured -28..45%
    # at sf0.1 (SCALE.md "input spread"), identical rows (every stat
    # is row-local)
    d = with_repetition_stats(
        spread_for_cpu(_t(spark, sf_dir, "documents"))
    ).withColumn(
        "__tl", F.transform(tokens(F.col("text")), lambda t: F.lower(t))
    )
    toks_lower = tokens(F.lower(F.col("text")))
    toks_li = F.col("__tl")

    def vote(words: list[str]):
        def is_marker(t):
            out = F.lit(False)
            for w in words:
                out = out | (t == F.lit(w))
            return out

        return F.size(F.filter(toks_li, is_marker))

    pred = F.lit("und")
    best = F.lit(0)
    for lang, words in STOPWORDS.items():
        s = vote(words)
        pred = F.when(s > best, F.lit(lang)).otherwise(pred)
        best = F.greatest(best, s)

    fp = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long")
    norm = normalize_text("text")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.size(toks_lower).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks_lower)).cast("long").alias("n_unique"),
        F.length("text").cast("long").alias("n_chars_actual"),
        F.round(quality_score("text"), 6).alias("quality"),
        fp.alias("fp60"),
        (fp % 64).alias("shard"),
        pred.alias("pred"),
        F.md5(norm).alias("norm_hash"),
        F.length(norm).cast("long").alias("norm_len"),
        F.round("top_raw", 6).alias("top_tok_frac"),
        F.round("d2_raw", 6).alias("dup_2gram_frac"),
        F.round("d3_raw", 6).alias("dup_3gram_frac"),
        (
            (F.col("top_raw") > 0.20) | (F.col("d2_raw") > 0.20)
            | (F.col("d3_raw") > 0.18)
        ).cast("long").alias("repetitive"),
    )


@query(
    "tfidf_lm_suite",
    r"""
    WITH tok AS (
      SELECT doc_id, source,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
      FROM documents
    ),
    consts AS (SELECT count(DISTINCT source) AS n_src FROM documents),
    tf AS (SELECT source, tok, count(*) AS tf FROM tok GROUP BY source, tok),
    dft AS (SELECT tok, count(DISTINCT source) AS df FROM tf GROUP BY tok),
    scored AS (
      SELECT tf.source, tf.tok, tf.tf, dft.df,
             tf.tf * (ln((1.0 + consts.n_src) / (1.0 + dft.df)) + 1.0) AS score
      FROM tf, dft, consts WHERE tf.tok = dft.tok
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY score DESC, tok ASC) AS rnk
      FROM scored
    ),
    vocab AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS t, count(*) AS v FROM vocab),
    nll AS (
      SELECT doc_id,
             round(avg(-ln((vocab.c + 1.0) / (tot.t + tot.v))), 6) AS d_nll
      FROM tok, vocab, tot WHERE tok.tok = vocab.tok GROUP BY doc_id
    ),
    dec AS (
      SELECT doc_id, d_nll,
             CAST(ntile(10) OVER (ORDER BY d_nll, doc_id) AS BIGINT) AS decile
      FROM nll
    )
    SELECT 'tfidf' AS part, source AS k1, tok AS k2,
           CAST(rnk AS BIGINT) AS rnk, tf AS n, round(score, 6) AS score
    FROM ranked WHERE rnk <= 5
    UNION ALL
    SELECT 'lm_decile', 'all', CAST(NULL AS VARCHAR), decile,
           count(*), round(avg(d_nll), 5)
    FROM dec GROUP BY decile
    UNION ALL
    SELECT 'vocab', 'all', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
           v, CAST(t AS DOUBLE)
    FROM tot
    """,
)
def q_tfidf_lm_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level text statistics a training-data curation pipeline
    runs beside the per-document pass (tagged union, three parts):

    - ``tfidf``: per-source top-5 terms by smoothed TF-IDF
      (tf · (ln((1+N)/(1+df)) + 1), the sklearn smoothing), ranked
      with a deterministic (score DESC, term ASC) tiebreak. One
      explode → one (source, doc, term) aggregate shared by the whole
      suite → vocabulary-sized re-aggregations; df is a window count
      over the (source, term) table — the corpus is never reshuffled
      a second time.
    - ``lm_decile``: CCNet-style unigram language-model quality score
      (Wenzek et al. 2019): add-one-smoothed corpus unigram LM, each
      document scored by its mean negative log-probability, documents
      ranked into exact deciles, per-decile count + mean NLL. The
      vocab count table is broadcast onto the exploded tokens (at
      web-corpus scale a 100M-type vocab outgrows a broadcast — the
      join key is the token, so the fallback is a plain shuffle join
      on the same plan); the exact-decile ntile is a global sort over
      (rounded NLL, doc_id) — the scale path replaces it with
      approx_percentile bucket edges, this demo keeps it exact so the
      oracle can hash it.
    - ``vocab``: corpus totals (vocabulary size, total token count) —
      the LM's denominators, pinned so a smoothing drift cannot pass
      silently.

    Cross-engine determinism: ranks compare (score, term) where equal
    scores come from equal (tf, df) integers — identical doubles both
    sides — so ties break on the term string in both engines; the ln()
    outputs are rounded (6/5 dp) in every hashed value.
    """
    # N = number of source collections, counted on the documents table
    # (NOT the exploded tokens — that would cost a full tokenize pass
    # for a scalar, and would silently exclude a source whose documents
    # are all token-less; the oracle counts the same way). NULL sources
    # are excluded to match SQL count(DISTINCT source) semantics —
    # DataFrame .distinct() would count NULL as a group and skew every
    # idf on corpora with unattributed documents. This tiny
    # column-pruned scan is the suite's ONLY eager prefix.
    n_src = (
        _t(spark, sf_dir, "documents")
        .where(F.col("source").isNotNull())
        .select("source").distinct().count()
    )

    # ONE corpus tokenize for the whole suite (round-14 continuation —
    # the dsir shared-exchange pattern applied here; the round-12 form
    # tokenized twice: the eager tf checkpoint + the LM scoring pass).
    # `base` is a per-(source, doc, tok) count aggregate whose exchange
    # every consumer shares via AQE stage reuse: tf re-aggregates it to
    # (source, tok), the LM scores from it per doc. Nothing below is
    # eager (no checkpoint, no collect — the corpus totals ride a
    # broadcast 1-row aggregate, df rides a window count), so the suite
    # compiles into one physical plan and the executed plan has exactly
    # one parquet scan of the corpus and one explode (plan-pinned). The
    # isnotnull(tok) filter is a row-wise no-op for canonicalization:
    # the LM's inner join on tok pushes exactly this predicate into
    # its copies of the subtree, and a copy without it would diverge
    # canonically and re-tokenize (the dsir lesson, dsir.py).
    base = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id", "source",
            F.explode(tokens(F.lower(F.col("text")))).alias("tok"),
        )
        .where(F.col("tok").isNotNull())
        .groupBy("source", "doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tf = base.groupBy("source", "tok").agg(F.sum("c").alias("tf"))
    # df as a WINDOW count over tf partitioned by tok, not a separate
    # groupBy(tok) + broadcast join: tf has exactly one row per
    # (source, tok), so count(source) over the tok partition IS
    # count(DISTINCT source) with NULL skipped — and unlike a join
    # against a derived aggregate, a window cannot be column-pruned
    # into a canonically divergent second tokenize (measured: both a
    # countDistinct aggregate and a count(source) aggregate were
    # rewritten by the optimizer into distinct-(source, tok) subtrees
    # that bypassed `base` and re-exploded the corpus).
    wtok = W.partitionBy("tok")
    scored = tf.withColumn(
        "df", F.count(F.col("source")).over(wtok)
    ).withColumn(
        "score",
        F.col("tf")
        * (F.log((F.lit(1.0) + F.lit(float(n_src))) / (F.lit(1.0) + F.col("df"))) + F.lit(1.0)),
    )
    w = W.partitionBy("source").orderBy(F.col("score").desc(), F.col("tok").asc())
    tfidf_rows = (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select(
            F.lit("tfidf").alias("part"),
            F.col("source").alias("k1"),
            F.col("tok").alias("k2"),
            F.col("rnk").cast("long").alias("rnk"),
            F.col("tf").cast("long").alias("n"),
            F.round("score", 6).alias("score"),
        )
    )

    from .operators.textstats import nll_deciles

    # The LM vocab is the tf aggregate re-summed over sources (round
    # 12, kept). Its smoothing totals T and V attach via a lazy 1-row
    # aggregate + broadcast cross join. Unpartitioned window sums
    # would move the ENTIRE vocab — ~100M rows on a web corpus, per
    # this suite's own scale note — to ONE partition (the WindowExec
    # no-partition choke), and measured only ~5% faster at sf0.1
    # (OPTIMIZATION_r15.md, "tfidf_lm_suite T/V totals"); the aggregate
    # rides the vocab exchange via ReusedExchange, so the plan keeps 1
    # corpus scan / 1 explode and nothing is eager. An empty vocab
    # still yields the totals row (n=0, score=NULL): a global
    # aggregate always emits one row.
    #
    # The per-doc score is the weighted form Σ c·m_nlp / Σ c over
    # `base`, the same multiset sum as the round-12 avg over exploded
    # occurrences — identical at 6 dp on every SF (verified
    # row-for-row at sf0.001/0.01/0.1), the same rounding margin the
    # DuckDB oracle's own avg already tolerates.
    vocab = tf.groupBy("tok").agg(F.sum("tf").alias("c"))
    tot = vocab.agg(F.sum("c").alias("__t"), F.count(F.lit(1)).alias("__v"))
    voc = vocab.crossJoin(F.broadcast(tot))
    vocab_row = tot.select(
        F.lit("vocab").alias("part"),
        F.lit("all").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.lit(None).cast("long").alias("rnk"),
        F.col("__v").alias("n"),
        F.col("__t").cast("double").alias("score"),
    )
    m_nlp = -F.log(
        (F.col("c") + F.lit(1.0)) / (F.col("__t") + F.col("__v")).cast("double")
    )
    nll = (
        base.join(F.broadcast(voc.select("tok", m_nlp.alias("m_nlp"))), "tok")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("c") * F.col("m_nlp")) / F.sum("c"), 6
            ).alias("d_nll")
        )
    )
    dec = nll_deciles(nll, exact=True)
    lm_rows = dec.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"), F.round(F.avg("d_nll"), 5).alias("avg_nll")
    ).select(
        F.lit("lm_decile").alias("part"), F.lit("all").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("decile").alias("rnk"), F.col("n_docs").alias("n"),
        F.col("avg_nll").alias("score"),
    )

    # vocab_row (the totals row) is the lazy aggregate above — not a
    # driver collect of T and V, an action that would break the
    # one-plan stage reuse
    return tfidf_rows.unionByName(lm_rows).unionByName(vocab_row)


# =========================================================================
# Deduplication family on documents
# =========================================================================

@query(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash, count(*) AS n_copies,
           CAST(min(doc_id) AS BIGINT) AS keep_id
    FROM documents GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy, keep lowest id (dedup operator #1)."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").cast("long").alias("keep_id"),
    )


_SHINGLES_SQL = r"""
      SELECT doc_id, lang,
             list_distinct(
               list_transform(
                 range(1, greatest(len(string_split_regex(trim(lower(text)), '\s+')) - 2, 0) + 1),
                 i -> array_to_string(
                        list_slice(string_split_regex(trim(lower(text)), '\s+'), i, i + 2), ' ')
               )
             ) AS sh
      FROM documents
"""


@query(
    "dedup_ngram_jaccard",
    f"""
    WITH d AS ({_SHINGLES_SQL})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
    FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.04
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs (dedup operator #4): word-3-gram
    shingle sets, same-language blocking, |∩|/|∪| >= 0.04."""
    d = _t(spark, sf_dir, "documents")
    sh = F.array_distinct(word_ngrams("text", 3))
    docs = d.select("doc_id", "lang", sh.alias("sh"))
    a = docs.alias("a")
    b = docs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    jac = inter.cast("double") / union
    return (
        a.join(b, (F.col("a.lang") == F.col("b.lang")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            jac.alias("jac_raw"),
        )
        .filter(F.col("jac_raw") >= 0.04)
        .select("id_a", "id_b", F.round("jac_raw", 6).alias("jaccard"))
    )


_SH_EXPR = (
    r"list_distinct(list_transform("
    r"range(1, greatest(len(string_split_regex(trim(lower(text)), '\s+')) - 2, 0) + 1), "
    r"i -> array_to_string(list_slice(string_split_regex(trim(lower(text)), '\s+'), i, i + 2),"
    r" ' ')))"
)

_MINHASH_SQL = f"""
      SELECT doc_id,
             {_SH_EXPR} AS sh,
             list_aggregate(list_transform({_SH_EXPR}, t -> md5('s1|' || t)), 'min') AS mh1,
             list_aggregate(list_transform({_SH_EXPR}, t -> md5('s2|' || t)), 'min') AS mh2
      FROM documents
"""


@query(
    "dedup_minhash_lsh",
    f"""
    WITH d AS ({_MINHASH_SQL}),
    mhp AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                   6) AS jaccard
      FROM d a JOIN d b
        ON a.mh1 = b.mh1 AND a.mh2 = b.mh2 AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6
    )
    SELECT 'all' AS part, id_a, id_b, jaccard FROM mhp
    UNION ALL
    SELECT 'inc' AS part, id_a, id_b, jaccard FROM mhp
    WHERE id_a % 10 >= 8 OR id_b % 10 >= 8
    """,
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup (dedup operator #2) as a tagged union:

    - ``all``: word-3-gram shingle minhash signatures (min of salted
      md5 — identical hash family in both engines), one band of two
      rows as the LSH bucket key, candidates verified by exact shingle
      Jaccard >= 0.6.
    - ``inc`` (round 8): the INCREMENTAL snapshot-refresh form — docs
      with doc_id % 10 >= 8 play the new crawl increment, the rest the
      already-indexed history. Only the increment is shingled for
      signatures (minhash_index over the old corpus is the persisted
      artifact); candidates come from the same band keys, old text is
      read only for candidate ids, and the result must equal the batch
      pairs restricted to pairs touching a new id — which is exactly
      what the twin states (the batch join + the touch-new predicate).

    Scale shape: the bucket equi-join replaces the O(n²) pair space —
    at 100 TB the band key is the shuffle key and verification touches
    only candidates. Shingles (not raw tokens) keep the hash space
    large enough that buckets stay small under a tiny vocabulary. The
    incremental form never re-hashes the history: per-increment cost
    is one scan of the increment + the band-key join against the
    signature index."""
    from .operators.dedup import minhash_index, minhash_lsh_pairs_incremental

    d = _t(spark, sf_dir, "documents")
    plain = _minhash_lsh_pairs_inline(d).select(
        F.lit("all").alias("part"), "id_a", "id_b", "jaccard"
    )
    old = d.filter(F.col("doc_id") % 10 < 8)
    new = d.filter(F.col("doc_id") % 10 >= 8)
    inc = minhash_lsh_pairs_incremental(
        new,
        minhash_index(old, num_hashes=2, hasher="md5"),
        corpus=old,
        num_hashes=2,
        bands=1,
        threshold=0.6,
        hasher="md5",
    ).select(
        F.lit("inc").alias("part"), "id_a", "id_b",
        F.round("jaccard", 6).alias("jaccard"),
    )
    return plain.unionByName(inc)


def _lsh_shingles(d: DataFrame) -> DataFrame:
    """The registry pair plan's shingle stream: 3-gram shingles with
    ZERO extra shuffles — slice the token array by 1 and 2, arrays_zip,
    explode, all codegen (the posexplode+lead()-window form costs a
    full shuffle+sort by doc_id; the interpreted-HOF form measured 8x
    slower still). Exposed for bench.py's per-stage attribution."""
    tk = d.select("doc_id", tokens(F.lower(F.col("text"))).alias("tk"))
    return (
        tk.select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.col("tk").alias("t0"),
                    F.slice("tk", 2, F.size("tk")).alias("t1"),
                    F.slice("tk", 3, F.size("tk")).alias("t2"),
                )
            ).alias("z"),
        )
        .filter(F.col("z.t2").isNotNull())
        .select("doc_id", F.concat_ws(" ", "z.t0", "z.t1", "z.t2").alias("g"))
    )


def _lsh_doc_signatures(d: DataFrame, sh_raw: DataFrame | None = None) -> DataFrame:
    """Per-doc signatures: ONE shuffle over the full shingle stream —
    both band mins in a single grouped aggregate, NO distinct count
    (round-10 A/B, scripts/bench_lsh_pairs_ab.py `v4_lazy_nsh`): the
    former count_distinct here made Catalyst plan a mixed
    distinct/non-distinct aggregate, whose Expand doubles the shingle
    stream through the exchange. The |shingle set| each pair's Jaccard
    needs is only needed for CANDIDATE docs, so the pair plan derives
    it from the already-distinct candidate shingle table instead —
    serialized fresh-JVM A/B: full pairs subplan 2.07→1.60 s at sf0.1,
    identical verified pair set both orders. Exposed for bench.py's
    per-stage attribution (the 'sig' limb times exactly this subplan)."""
    if sh_raw is None:
        sh_raw = _lsh_shingles(d)
    return sh_raw.groupBy("doc_id").agg(
        F.min(F.md5(F.concat(F.lit("s1|"), F.col("g")))).alias("mh1"),
        F.min(F.md5(F.concat(F.lit("s2|"), F.col("g")))).alias("mh2"),
    )


def _minhash_lsh_pairs_inline(d: DataFrame) -> DataFrame:
    """The registry's banded-MinHash pair plan over a documents frame
    (md5 hash family, one 2-row band, Jaccard >= 0.6) — shared by
    dedup_minhash_lsh (plain) and dedup_groups_lsh (behind the
    exact-collapse pre-pass). Kept inline-SQL-twin-compatible: the
    DuckDB _MINHASH_SQL evaluates the identical hash family."""
    # Everything codegen, no arrays, no Python: shingles + signatures
    # from the stage helpers above (partial-aggregate min(md5)), and
    # Jaccard verification as exploded equi-joins restricted to
    # candidate pairs — |∩| is a count, |∪| is n_a + n_b − |∩|, so
    # shingle payloads never travel with a pair. Duplicates survive the
    # signature stage: min(md5) over a multiset equals min over its
    # set, so signatures don't need distinct — only verification does,
    # and that dedups candidates only.
    sh_raw = _lsh_shingles(d)
    stats = _lsh_doc_signatures(d, sh_raw)
    a, b = stats.alias("a"), stats.alias("b")
    # candidates are tiny by LSH construction — materialize once
    # (localCheckpoint) so the expensive stats agg isn't re-derived for
    # every downstream reference (lineage reuse, not data reuse, was
    # measured to re-run the whole subtree per reference)
    cand = a.join(
        b,
        (F.col("a.mh1") == F.col("b.mh1"))
        & (F.col("a.mh2") == F.col("b.mh2"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"),
    ).localCheckpoint(eager=True)

    # Verification touches candidate docs only: ONE more pass over the
    # shingle stream, gated by a broadcast of the candidate id set (no
    # full-table shuffle — and Spark's runtime bloom filter pushes the
    # id gate below the shingle explode onto the scan, measured: an
    # explicit pre-shingle semi join was flat). Round 13
    # (bench_lsh_cum_pairs_ab.py, VERDICT r12 item 1): the intersection
    # is ROW-LOCAL — one collect_set aggregate per candidate doc (the
    # set dedups in the aggregate, replacing the former distinct +
    # count-table aggregate + two-join + groupBy intersection: three
    # verify exchanges collapse into one), the per-doc sets joined
    # onto the pair (AQE picks broadcast at candidate sizes — not
    # forced, see the withsets note), |∩| =
    # size(array_intersect(...)) in-row. The sets
    # table is candidate-sized (the bound the former sh_cand table
    # already assumed) and eagerly checkpointed: downstream CC-loop
    # actions re-derive verification from a materialized KB table.
    # Measured fresh-JVM, identical pair set and identical
    # q_dedup_groups_lsh output per run, interleaved children: pairs
    # subplan 1.44→1.37 s / row 3.13→2.61 s at sf0.1 (wins every
    # round); pairs 2.48→1.73 / row 5.40→3.41 at sf1 (−30/−37% — the
    # win grows with scale; SCALE.md table).
    ids = (
        cand.select(F.col("id_a").alias("doc_id"))
        .union(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    sh_sets = (
        sh_raw.join(F.broadcast(ids), "doc_id")
        .groupBy("doc_id").agg(F.collect_set("g").alias("sh"))
        .localCheckpoint(eager=True)
    )
    pa = sh_sets.select(F.col("doc_id").alias("id_a"),
                        F.col("sh").alias("sh_a"),
                        F.size("sh").alias("n_a"))
    pb = sh_sets.select(F.col("doc_id").alias("id_b"),
                        F.col("sh").alias("sh_b"),
                        F.size("sh").alias("n_b"))
    # NO forced broadcast of pa/pb (round 14; VERDICT r13 item 1 /
    # ADVICE medium): the sets tables carry each candidate doc's FULL
    # distinct-shingle array — size ∝ candidates × doc-shingles, which
    # grows linearly with a near-dup-heavy corpus. A forced hint pins
    # them under Spark's 8 GB broadcast ceiling where the shuffle
    # form degrades gracefully; AQE broadcasts them anyway at
    # candidate sizes (the checkpoint gives it exact stats). Measured
    # interleaved fresh-JVM (scripts/bench_lsh_cum_pairs_ab.py
    # v0_shipped vs v12_noforce): flat at sf0.1 (mixed per-round
    # ordering within noise), noforce wins 2/3 rounds at sf1 —
    # identical pair set and row output all 12 children; SCALE.md.
    # The id-set broadcast above stays forced: 8-byte ids, the bound
    # the pre-r13 plan already carried.
    withsets = cand.join(pa, "id_a").join(pb, "id_b")
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = n_inter.cast("double") / (F.col("n_a") + F.col("n_b") - n_inter)
    return (
        withsets.select("id_a", "id_b", jac.alias("jac_raw"))
        .filter(F.col("jac_raw") >= 0.6)
        .select("id_a", "id_b", F.round("jac_raw", 6).alias("jaccard"))
    )


# =========================================================================
# Similarity search on embeddings
# =========================================================================

@query(
    "cosine_topk",
    """
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
    pairs AS (
      SELECT qid, vec_id,
             round(
               list_sum(list_transform(range(1, len(qv) + 1),
                        i -> CAST(qv[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(range(1, len(qv) + 1),
                          i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                          i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))),
             5) AS sim
      FROM q JOIN embeddings ON vec_id <> qid
    )
    SELECT qid, vec_id, sim FROM (
      SELECT qid, vec_id, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
      FROM pairs
    ) WHERE rn <= 5
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (similarity-search baseline): JVM-side
    zip_with/aggregate dot products, ranking window per query. The
    IVF-bucketed scale path is operators/similarity.py."""
    e = _t(spark, sf_dir, "embeddings")
    q = F.broadcast(
        e.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
    )
    # spread_for_cpu on the PROBE side only (round-14 continuation):
    # a compact embeddings parquet is one input split, so the 10×N
    # 64-dim cosine folds — this row's dominant cost — ran as a single
    # task. The query side stays unspread (10 broadcast rows). One
    # action, spread paid once; gated no-op when the scan's splits
    # already cover the cores. Measured fresh-JVM interleaved
    # (scripts/bench_row_spread_ab.py): 1.28/1.37 → 0.91/0.80 s min
    # at sf0.1 (−35-40%), identical rows.
    pairs = q.join(spread_for_cpu(e), F.col("vec_id") != F.col("qid")).select(
        "qid", "vec_id",
        F.round(cosine_similarity("qv", "embedding"), 5).alias("sim"),
    )
    w = W.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "vec_id", "sim")
    )


@query(
    "vector_norms",
    """
    SELECT vec_id, label,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 5) AS l2,
           CAST(len(list_distinct(list_transform(embedding,
                 x -> round(CAST(x AS DOUBLE), 1)))) AS BIGINT) AS n_distinct_rounded
    FROM embeddings WHERE vec_id < 100
    """,
)
def q_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 sorted/distinct array ops + vector norms over the embedding
    column (array higher-order functions, no explode)."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    rounded = F.transform("embedding", lambda x: F.round(x.cast("double"), 1))
    return e.select(
        "vec_id", "label",
        F.round(l2_norm("embedding"), 5).alias("l2"),
        F.size(F.array_distinct(rounded)).cast("long").alias("n_distinct_rounded"),
    )


def _clustering_suite_oracle_sql(dim: int = 64, sem_threshold: float = 0.4) -> str:
    """Generated DuckDB twin for the clustering suite: the label-
    centroid limb is a plain grouped mean; the k-means limb reads the
    driver-trained centroids from the model parquet and re-derives the
    nearest-centroid assignment independently, with the 64-term squared
    distance written as an explicit left-associated chain so the
    arithmetic is bit-identical to the engine's zip_with fold
    (similarity.py::_nearest_centroid) — argmin ties and round(...,6)
    then agree exactly. The semdedup limb re-derives the WHOLE
    SemDeDup pipeline from the same model: within-cell cosine pairs
    (the list_transform dot/norm shape embedding_near_pairs proved
    bit-equal to the engine's fold, so the raw >= threshold boundary
    set matches), then components by recursive transitive closure vs
    the engine's pointer jumping — two algorithms, one answer."""
    path = _model_parquet_path("kmeans_centroids")
    d64 = " + ".join(
        f"(e.v[{i}] - c.centroid[{i}])*(e.v[{i}] - c.centroid[{i}])"
        for i in range(1, dim + 1)
    )
    return f"""
    WITH RECURSIVE c AS (
      SELECT CAST(cell AS INT) AS cell, centroid FROM read_parquet('{path}')
    ),
    emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    kd AS (
      SELECT e.vec_id, c.cell, {d64} AS d2 FROM emb e CROSS JOIN c
    ),
    ka AS (
      SELECT vec_id, cell, d2, row_number() OVER (
        PARTITION BY vec_id ORDER BY d2, cell) AS rn
      FROM kd
    ),
    av AS (
      SELECT ka.vec_id, ka.cell, emb.v,
             sqrt(list_sum(list_transform(emb.v, x -> x * x))) AS nrm
      FROM ka JOIN emb ON ka.vec_id = emb.vec_id WHERE ka.rn = 1
    ),
    pr AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM av a JOIN av b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE a.nrm * b.nrm > 0  -- zero-norm guard: the engine's
        -- cosine_similarity yields NULL there (pair dropped); without
        -- this, DuckDB's 0/0 = NaN compares >= threshold and the pair
        -- would enter the oracle's graph only
        AND list_sum(list_transform(range(1, len(a.v) + 1),
                     i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm)
            >= {sem_threshold!r}
    ),
    ud AS (SELECT ia AS u, ib AS v FROM pr UNION SELECT ib, ia FROM pr),
    reach(node, comp) AS (
      SELECT u, u FROM ud
      UNION
      SELECT ud.v, reach.comp FROM reach JOIN ud ON ud.u = reach.node
    ),
    lab AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node),
    sd AS (
      SELECT e.vec_id, coalesce(lab.comp, e.vec_id) AS comp_id
      FROM embeddings e LEFT JOIN lab ON e.vec_id = lab.node
    )
    SELECT 'label_centroid' AS part, CAST(label AS BIGINT) AS id,
           CAST(NULL AS INT) AS cell, count(*) AS n,
           round(CAST(sum(CAST(embedding[1] AS DOUBLE)) AS DOUBLE) / count(*), 5) AS c0,
           round(CAST(sum(CAST(embedding[2] AS DOUBLE)) AS DOUBLE) / count(*), 5) AS c1,
           round(CAST(sum(CAST(embedding[64] AS DOUBLE)) AS DOUBLE) / count(*), 5) AS c63,
           CAST(NULL AS DOUBLE) AS d2
    FROM embeddings GROUP BY label
    UNION ALL
    SELECT 'kmeans_assign' AS part, vec_id AS id, cell,
           CAST(NULL AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS c0,
           CAST(NULL AS DOUBLE) AS c1, CAST(NULL AS DOUBLE) AS c63,
           round(d2, 6) AS d2
    FROM ka WHERE rn = 1
    UNION ALL
    SELECT 'semdedup' AS part, CAST(vec_id AS BIGINT) AS id,
           CAST(NULL AS INT) AS cell,
           CAST(comp_id AS BIGINT) AS n,
           CAST(count(*) OVER (PARTITION BY comp_id) AS DOUBLE) AS c0,
           CAST(vec_id = comp_id AS DOUBLE) AS c1,
           CAST(NULL AS DOUBLE) AS c63, CAST(NULL AS DOUBLE) AS d2
    FROM sd
    """


@query("clustering_suite", _clustering_suite_oracle_sql())
def q_clustering_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The clustering family as one tagged union:

    - ``label_centroid``: per-label centroid components (the IVF
      coarse-quantizer training step): element_at on the vector +
      grouped mean.
    - ``kmeans_assign``: distributed Lloyd's k-means
      (operators/clustering.py::kmeans_fit — one shuffle per round,
      k·dim driver traffic) trained with the deterministic
      content-addressed init + exact-DECIMAL sums, centroids
      materialized to the model parquet, then every vector assigned to
      its nearest centroid with the JVM fold expression
      (assign_clusters). The oracle re-derives the assignment AND the
      per-vector squared distance from the centroids alone, so the
      driver hash covers the assignment operator end-to-end (the
      trained model rides in as data).
    - ``semdedup``: the full SemDeDup pipeline (Abbas et al. 2023,
      operators/clustering.py::semantic_dedup): within-cell cosine >=
      0.4 pairs (pair space bounded by the clustering — never
      corpus²) → pointer-jumping connected components → per-vector
      (comp_id, comp_size, keep) mapped onto the suite columns
      (n=comp_id, c0=comp_size, c1=keep). The oracle recomputes
      everything from the materialized centroids, with components by
      recursive transitive closure."""
    from .operators.clustering import assign_clusters, semantic_dedup

    e = _t(spark, sf_dir, "embeddings")
    comp = lambda i: F.element_at("embedding", i).cast("double")  # noqa: E731
    n = F.count(F.lit(1))
    labels = e.groupBy("label").agg(
        n.alias("n"),
        F.round(F.sum(comp(1)) / n, 5).alias("c0"),
        F.round(F.sum(comp(2)) / n, 5).alias("c1"),
        F.round(F.sum(comp(64)) / n, 5).alias("c63"),
    ).select(
        F.lit("label_centroid").alias("part"),
        F.col("label").cast("long").alias("id"),
        F.lit(None).cast("int").alias("cell"),
        "n", "c0", "c1", "c63",
        F.lit(None).cast("double").alias("d2"),
    )

    cents = _train_and_write_kmeans(spark, sf_dir)
    dists = [
        F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.array(*[F.lit(float(x)) for x in c]),
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for c in cents
    ]
    assigned = assign_clusters(e, cents).select(
        F.lit("kmeans_assign").alias("part"),
        F.col("vec_id").cast("long").alias("id"),
        F.col("cell").cast("int").alias("cell"),
        F.lit(None).cast("long").alias("n"),
        F.lit(None).cast("double").alias("c0"),
        F.lit(None).cast("double").alias("c1"),
        F.lit(None).cast("double").alias("c63"),
        F.round(F.array_min(F.array(*dists)), 6).alias("d2"),
    )

    sd = semantic_dedup(
        e, cents, threshold=0.4, id_col="vec_id", vec_col="embedding"
    ).select(
        F.lit("semdedup").alias("part"),
        F.col("vec_id").cast("long").alias("id"),
        F.lit(None).cast("int").alias("cell"),
        F.col("comp_id").cast("long").alias("n"),
        F.col("comp_size").cast("double").alias("c0"),
        F.col("keep").cast("double").alias("c1"),
        F.lit(None).cast("double").alias("c63"),
        F.lit(None).cast("double").alias("d2"),
    )
    return labels.unionByName(assigned).unionByName(sd)


@query(
    "embedding_near_pairs",
    """
    WITH n AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_sum(list_transform(range(1, len(a.v) + 1),
                 i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 5) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
          / (a.nrm * b.nrm) >= 0.4
    """,
)
def q_embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup operator #5), exact
    all-pairs form — the verification oracle for the LSH-bucketed scale
    path in operators/dedup.py::embedding_near_dups."""
    e = _t(spark, sf_dir, "embeddings")
    n = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        l2_norm("embedding").alias("nrm"),
    )
    a, b = n.alias("a"), n.alias("b")
    cos = dot_product(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cos.alias("c"),
        )
        .filter(F.col("c") >= 0.4)
        .select("id_a", "id_b", F.round("c", 5).alias("cosine"))
    )


@query(
    "array_level_filter",
    """
    SELECT vec_id,
           CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
           round(CAST(list_sum(list_transform(
                 list_filter(embedding, x -> x > 0),
                 x -> CAST(x AS DOUBLE))) AS DOUBLE), 5) AS sum_pos
    FROM embeddings WHERE vec_id < 200
    """,
)
def q_array_level_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/P8 per-level array predicate — the reference's QC level masks
    (filter over arrays_zip, interpolation.py:174-179) as higher-order
    functions; no explode, no UDF."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    pos = F.filter("embedding", lambda x: x > 0)
    return e.select(
        "vec_id",
        F.size(pos).cast("long").alias("n_pos"),
        F.round(
            F.aggregate(pos, F.lit(0.0), lambda acc, x: acc + x.cast("double")), 5
        ).alias("sum_pos"),
    )


@query(
    "array_adjacent_diff",
    """
    SELECT vec_id,
           round(CAST(list_sum(list_transform(range(1, len(embedding)),
                 i -> abs(CAST(embedding[i+1] AS DOUBLE) - CAST(embedding[i] AS DOUBLE))))
                 AS DOUBLE), 5) AS total_variation
    FROM embeddings WHERE vec_id < 200
    """,
)
def q_array_adjacent_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 adjacent-element differences over an intra-row array (the
    reference's np.diff over depth, atlas.py:316-324) via zip_with on
    shifted slices — total variation per vector."""
    from .functions.arrays import array_diff

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    # cast each element to double BEFORE differencing — f4 subtraction
    # would round differently from the oracle's double arithmetic
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    tv = F.aggregate(
        array_diff(as_double), F.lit(0.0), lambda acc, x: acc + F.abs(x)
    )
    return e.select("vec_id", F.round(tv, 5).alias("total_variation"))


@query(
    "argmin_argmax",
    """
    SELECT event_type,
           arg_max(user_id, value) AS top_user,
           round(max(value), 3) AS top_value,
           arg_min(event_id, value) AS cheapest_event
    FROM events GROUP BY event_type
    """,
)
def q_argmin_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 argmin/argmax (the reference's nearest-value lookup,
    bathy.py:29-30) as min_by/max_by aggregates."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.max_by("user_id", "value").alias("top_user"),
        F.round(F.max("value"), 3).alias("top_value"),
        F.min_by("event_id", "value").alias("cheapest_event"),
    )


@query(
    "grouping_sets",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (SURVEY §2.4 'absent' list)."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n
           FROM lineitem_gs
           GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                   (l_returnflag, l_linestatus))"""
    )


@query(
    "ocean_mask_gate",
    """
    WITH grid AS (
      SELECT CAST(i * 5 - 177.5 AS DOUBLE) AS glon,
             CAST(j * 5 - 87.5 AS DOUBLE) AS glat
      FROM range(0, 72) t(i) CROSS JOIN range(0, 36) s(j)
    ),
    g AS (
      SELECT glon, glat,
             CAST(floor((glat + 90) / 0.5) AS BIGINT) AS lat_idx,
             CAST(floor((glon + 180) / 0.5) AS BIGINT) AS lon_idx
      FROM grid
    ),
    mask AS (
      SELECT j AS lat_idx, i AS lon_idx
      FROM range(0, 720) t(i) CROSS JOIN range(0, 360) s(j)
      WHERE (j * 31 + i * 17) % 7 < 5
    )
    SELECT glon, glat FROM g JOIN mask USING (lat_idx, lon_idx)
    """,
)
def q_ocean_mask_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/P10/J3: land-mask gate as an arithmetic-index broadcast
    equi-join (operators/atlas.apply_ocean_mask) against a synthetic
    1/2° global mask (sources/bathy.synthetic_ocean_mask). The oracle
    regenerates the identical mask from the integer-index rule and
    brute-joins; equality proves the floor-index semantics
    (reference bathy/bathy.py:38-50, 77-78). Plan shape (BHJ, no BNLJ)
    is pinned by tests/test_plans.py."""
    from .operators.atlas import apply_ocean_mask, make_grid
    from .sources.bathy import synthetic_ocean_mask

    grid = make_grid(spark, (-180.0, 180.0, -90.0, 90.0), reso_deg=5.0)
    mask = synthetic_ocean_mask(spark, reso_deg=0.5)
    return apply_ocean_mask(grid, mask, mask_reso_deg=0.5).select("glon", "glat")


# =========================================================================
# Rows-only entries (no SQL-expressible oracle; the driver records a
# weaker rows-only check): approximate/stateful/pipeline operators.
# =========================================================================

@query(
    "approx_aggregates",
    """
    WITH topq AS (
      SELECT l_returnflag, q AS exact_top_qty, c AS exact_top_qty_count
      FROM (
        SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
               count(*) AS c,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY count(*) DESC, CAST(l_quantity AS BIGINT))
                 AS rn
        FROM lineitem GROUP BY 1, 2
      ) WHERE rn = 1
    )
    SELECT g.l_returnflag,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS hll_within_5pct,
           TRUE AS median_within_p40_p60,
           any_value(topq.exact_top_qty) AS exact_top_qty,
           CAST(any_value(topq.exact_top_qty_count) AS BIGINT)
             AS exact_top_qty_count,
           TRUE AS cms_never_underestimates,
           TRUE AS cms_within_eps,
           TRUE AS mg_contains_top,
           TRUE AS mg_bounds_ok
    FROM lineitem g JOIN topq ON g.l_returnflag = topq.l_returnflag
    GROUP BY g.l_returnflag
    """,
)
def q_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HLL distinct, quantile sketch). Sketch
    *values* differ per engine, so the derived deterministic oracle
    hashes exact anchors plus bound CHECKS instead: the HLL estimate
    (rsd=1%) must sit within 5% of the exact distinct count (a ≥5σ
    margin), and the sketch median must land between the exact p40/p60
    (group size ~20k at accuracy 10k → rank error ≤2, the p40-p60 band
    spans thousands of ranks). The oracle emits TRUE literals — a sketch
    drifting out of bounds flips a boolean and fails the hash."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.percentile_approx("l_quantity", F.lit(0.5), F.lit(10000)).alias("approx_median_qty"),
        F.expr("percentile(l_quantity, 0.4)").alias("p40"),
        F.expr("percentile(l_quantity, 0.6)").alias("p60"),
    )

    # CMS heavy-hitter limb (round 7): a count-min sketch per group
    # (eps=0.1%, conf=99%, fixed seed), probed at the group's exact
    # top l_quantity value. The sketch BYTES are engine-specific, so —
    # approx-family policy — the hashed columns are the exact anchors
    # (top value + its exact count, tie-break count desc then value
    # asc) plus the two CMS GUARANTEES as booleans: the estimate never
    # underestimates, and overshoots by at most eps·N (w.p. 1-delta;
    # deterministic here under the fixed seed). Sketches are
    # group-count-sized; the probe is a driver-side deserialize of
    # O(groups) few-KB payloads, not data motion.
    from pyspark.sql import Window as W

    eps = 0.001
    qlong = F.col("l_quantity").cast("long")
    topw = W.partitionBy("l_returnflag").orderBy(
        F.col("c").desc(), F.col("q").asc()
    )
    tops = {
        r["l_returnflag"]: (int(r["q"]), int(r["c"]))
        for r in (
            li.groupBy("l_returnflag", qlong.alias("q"))
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rn", F.row_number().over(topw))
            .where(F.col("rn") == 1)
            .collect()
        )
    }
    sk = li.groupBy("l_returnflag").agg(
        F.count_min_sketch(qlong, F.lit(eps), F.lit(0.99), F.lit(42)).alias("cms"),
        F.count(F.lit(1)).alias("n_rows"),
    ).collect()
    jvm = spark.sparkContext._jvm
    cms_rows = []
    for r in sk:
        q, c = tops[r["l_returnflag"]]
        sketch = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
            jvm.java.io.ByteArrayInputStream(bytes(r["cms"]))
        )
        est = int(sketch.estimateCount(jvm.java.lang.Long(q)))
        cms_rows.append((
            r["l_returnflag"], q, c,
            est >= c, est <= c + eps * int(r["n_rows"]),
        ))
    cms_df = spark.createDataFrame(
        cms_rows,
        "l_returnflag string, exact_top_qty long, exact_top_qty_count long, "
        "cms_never_underestimates boolean, cms_within_eps boolean",
    )

    # Misra-Gries merge limb (round 9): build truncated top-K count
    # states over TWO half-corpora, merge (operators/aggstate.py::
    # topk_state/merge_topk_states — the Agarwal et al. mergeable-
    # summaries shape), and pin the guarantees against the exact
    # anchors this query already hashes: the known exact top value
    # must SURVIVE the merge, and its merged interval [est, est+err]
    # must contain its exact count. Merged-state values are shard-
    # dependent, so — approx-family policy — the hashed columns are
    # the booleans (oracle emits TRUE), never the state itself. The
    # collect is flags x k_state rows, the CMS driver-probe precedent.
    from .operators.aggstate import merge_topk_states, topk_state

    mg_states = [
        topk_state(
            li.filter(F.col("l_orderkey") % 2 == r).select(
                "l_returnflag", qlong.alias("q")
            ),
            ["l_returnflag"], "q", k_state=12,
        )
        for r in (0, 1)
    ]
    mg = {}
    for r in merge_topk_states(["l_returnflag"], *mg_states).collect():
        mg.setdefault(r["l_returnflag"], {})[int(r["v"])] = (
            int(r["est"]), int(r["err"])
        )
    mg_rows = []
    for flag, (q, c) in tops.items():
        hit = mg.get(flag, {}).get(q)
        mg_rows.append((
            flag,
            hit is not None,
            hit is not None and hit[0] <= c <= hit[0] + hit[1],
        ))
    mg_df = spark.createDataFrame(
        mg_rows,
        "l_returnflag string, mg_contains_top boolean, mg_bounds_ok boolean",
    )

    return agg.select(
        "l_returnflag",
        F.col("exact_orders").cast("long").alias("exact_orders"),
        (
            F.abs(F.col("approx_orders") - F.col("exact_orders"))
            / F.col("exact_orders")
            <= 0.05
        ).alias("hll_within_5pct"),
        F.col("approx_median_qty").between(F.col("p40"), F.col("p60")).alias(
            "median_within_p40_p60"
        ),
    ).join(F.broadcast(cms_df), "l_returnflag").join(
        F.broadcast(mg_df), "l_returnflag"
    )


_SIMHASH_BITS = 60
_SIMHASH_MAXH = 4

_SIMHASH_SQL = f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                t -> t <> '')) AS t
      FROM documents
    ),
    h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
    votes AS (
      SELECT doc_id,
        {", ".join(f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
                   for i in range(_SIMHASH_BITS))}
      FROM h GROUP BY doc_id
    ),
    sig AS (
      SELECT doc_id,
             {" | ".join(f"(CASE WHEN v{i} > 0 THEN 1::BIGINT ELSE 0::BIGINT END << {i})"
                         for i in range(_SIMHASH_BITS))} AS s
      FROM votes
    )
    SELECT 'pairs' AS part, a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.s, b.s)) <= {_SIMHASH_MAXH}
    UNION ALL
    SELECT 'phash', media_id,
           CAST(CASE WHEN v >= CAST(9223372036854775808 AS HUGEINT)
                     THEN v - CAST('18446744073709551616' AS HUGEINT)
                     ELSE v END AS BIGINT),
           CAST(NULL AS INT)
    FROM (
      SELECT media_id,
             sum(CASE WHEN bit THEN (CAST(1 AS HUGEINT) << (r * 8 + cb))
                      ELSE CAST(0 AS HUGEINT) END) AS v
      FROM (
        SELECT a.media_id, a.r, a.c AS cb, (b.p > a.p) AS bit
        FROM (
          SELECT media_id, r, c,
                 ord(substr(body,
                      CAST(floor(r * (CAST(h AS DOUBLE) / 8)) AS INT) * w
                    + CAST(floor(c * (CAST(w AS DOUBLE) / 9)) AS INT) + 1,
                      1)) AS p
          FROM (
            SELECT doc_id AS media_id,
                   CAST(8 + doc_id % 32 AS INT) AS w,
                   CAST(8 + n_chars % 32 AS INT) AS h,
                   repeat(md5(text), 48) AS body
            FROM documents
          ) src, (SELECT r.range AS r, c.range AS c
                  FROM range(8) r, range(9) c) grid
        ) a JOIN (
          SELECT media_id, r, c,
                 ord(substr(body,
                      CAST(floor(r * (CAST(h AS DOUBLE) / 8)) AS INT) * w
                    + CAST(floor(c * (CAST(w AS DOUBLE) / 9)) AS INT) + 1,
                      1)) AS p
          FROM (
            SELECT doc_id AS media_id,
                   CAST(8 + doc_id % 32 AS INT) AS w,
                   CAST(8 + n_chars % 32 AS INT) AS h,
                   repeat(md5(text), 48) AS body
            FROM documents
          ) src2, (SELECT r.range AS r, c.range AS c
                   FROM range(8) r, range(9) c) grid2
        ) b ON a.media_id = b.media_id AND a.r = b.r AND b.c = a.c + 1
        WHERE a.c < 8
      ) bits GROUP BY media_id
    ) ph
    UNION ALL
    SELECT 'lev', id_a, id_b, hamming FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(levenshtein(a.title, b.title) AS INT) AS hamming
      FROM (SELECT doc_id, 'the ' || lang || ' corpus '
                           || CAST(doc_id % 25 AS VARCHAR) AS title
            FROM documents WHERE doc_id < 60) a
      JOIN (SELECT doc_id, 'the ' || lang || ' corpus '
                           || CAST(doc_id % 25 AS VARCHAR) AS title
            FROM documents WHERE doc_id < 60) b
        ON a.doc_id < b.doc_id
    ) WHERE hamming <= 2
"""


@query("dedup_simhash", _SIMHASH_SQL)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hamming-signature near-dup family as one tagged union:

    - ``pairs``: SimHash near-dup pairs (dedup operator #3): 60-bit
      bitwise-majority signature over md5-prefix token hashes +
      pigeonhole-block candidate join (operators/dedup.py). The md5
      hash family is shared with DuckDB, so the oracle brute-forces all
      pairs while Spark goes through the 6-block pigeonhole buckets —
      equality IS the completeness proof for the bucketing
      (max_hamming=4 < blocks=6). The engine's 64-bit xxhash64 variant
      stays the default path where no oracle is needed.
    - ``phash`` (round 8): the perceptual dHash64 of a REAL binary PGM
      payload per document (the multimodal_features synthetic-image
      recipe), computed through image_phash_table's mapInPandas decode
      (operators/multimodal.py:dhash64). The DuckDB twin recomputes the
      full hash relationally — nearest-neighbor 8x9 downsample with the
      IDENTICAL divide-then-multiply float order (r * (h/8.0): the
      order matters at trunc boundaries), adjacent-pixel bits, HUGEINT
      bit-pack, two's-complement fold to BIGINT — so every decode and
      all 64 bits are hash-pinned per document. phash near-dup PAIR
      generation shares hamming_block_pairs with the simhash path
      (dedup.py:303) and is pinned by the reencode/upscale pytest.
    - ``lev`` (round 8): Levenshtein near-dup pairs for SHORT strings
      (operators/dedup.py::edit_distance_pairs — the title/URL dedup
      metric where shingle MinHash degenerates) over a synthetic
      60-doc title slice. Spark runs the length-banded equi-join
      (plan-pinned: no CartesianProduct); the oracle brute-forces all
      pairs with DuckDB's built-in levenshtein — equality IS the
      completeness proof for the banding, the same argument the
      simhash pigeonhole limb makes."""
    from .operators.dedup import edit_distance_pairs, simhash_near_pairs
    from .operators.multimodal import image_phash_table, to_media_table

    d = _t(spark, sf_dir, "documents")
    pairs = simhash_near_pairs(
        d.select("doc_id", "text"),
        max_hamming=_SIMHASH_MAXH,
        blocks=6,
        bits=_SIMHASH_BITS,
        hasher="md5",
    ).select(F.lit("pairs").alias("part"), "id_a", "id_b", "hamming")
    w = (F.lit(8) + F.col("doc_id") % 32).cast("int")
    h = (F.lit(8) + F.col("n_chars") % 32).cast("int")
    payload = F.concat(
        F.concat_ws("", F.lit("P5\n"), w.cast("string"), F.lit(" "),
                    h.cast("string"), F.lit(" 255\n")),
        F.substring(F.repeat(F.md5(F.col("text").cast("binary")), 48), 1, w * h),
    ).cast("binary")
    media = to_media_table(
        d.withColumn("payload", payload), "doc_id", "payload", "image"
    )
    ph = image_phash_table(media).select(
        F.lit("phash").alias("part"),
        F.col("media_id").alias("id_a"),
        F.col("phash").alias("id_b"),
        F.lit(None).cast("int").alias("hamming"),
    )
    titles = d.filter(F.col("doc_id") < 60).select(
        "doc_id",
        F.concat(
            F.lit("the "), F.col("lang"), F.lit(" corpus "),
            (F.col("doc_id") % 25).cast("string"),
        ).alias("text"),
    )
    lev = edit_distance_pairs(titles, max_dist=2).select(
        F.lit("lev").alias("part"), "id_a", "id_b",
        F.col("dist").cast("int").alias("hamming"),
    )
    return pairs.unionByName(ph).unionByName(lev)


def _ann_suite_oracle_sql(m: int = 8, dsub: int = 8) -> str:
    """Generated DuckDB twin for the ANN suite: the IVF half is the
    exhaustive cosine scan (nprobe = all cells ≡ brute force); the PQ
    half reads the driver-trained codebooks from the materialized model
    parquet and recomputes EVERYTHING else — per-block nearest-sub-
    centroid code assignment AND the per-query ADC distances —
    independently.

    Every float sum is written as an explicit left-associated term
    chain so the arithmetic is bit-identical to the engine's
    fold/NumPy evaluation order (sub-distances: (a-b)*(a-b) summed in
    index order; the block total: d0+d1+...+d7 in block order): code
    argmin ties and the rank tiebreak then agree exactly, and
    round(...,6) compares equal rather than merely close."""
    path = _model_parquet_path("pq_codebooks")

    def sub_dist(vec: str) -> str:
        return " + ".join(
            f"({vec}[cb.block*{dsub} + {i}] - cb.centroid[{i}])"
            f"*({vec}[cb.block*{dsub} + {i}] - cb.centroid[{i}])"
            for i in range(1, dsub + 1)
        )

    d_cols = ", ".join(
        f"sum(CASE WHEN block = {b} THEN dd ELSE 0 END) AS d{b}"
        for b in range(m)
    )
    total = " + ".join(f"d{b}" for b in range(m))
    return f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
    pairs AS (
      SELECT qid, vec_id,
             round(
               list_sum(list_transform(range(1, len(qv) + 1),
                        i -> CAST(qv[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(range(1, len(qv) + 1),
                          i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                          i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))),
             5) AS sim
      FROM q JOIN embeddings ON vec_id <> qid
    ),
    cb AS (SELECT block, code, centroid FROM read_parquet('{path}')),
    emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    bd AS (
      SELECT e.vec_id, cb.block, cb.code, {sub_dist('e.v')} AS d
      FROM emb e CROSS JOIN cb
    ),
    codes AS (
      SELECT vec_id, block, code FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id, block ORDER BY d, code) AS rn
        FROM bd
      ) WHERE rn = 1
    ),
    qv2 AS (SELECT vec_id AS qid, v AS qv FROM emb WHERE vec_id < 5),
    pb AS (
      SELECT q.qid, c.vec_id, c.block, {sub_dist('q.qv')} AS dd
      FROM qv2 q CROSS JOIN codes c
      JOIN cb ON cb.block = c.block AND cb.code = c.code
      WHERE c.vec_id <> q.qid
    ),
    qd AS (SELECT qid, vec_id, {d_cols} FROM pb GROUP BY qid, vec_id),
    sq AS (
      SELECT vec_id,
             list_transform(v, x -> floor((x * 127.0) / ma + 0.5)) AS c
      FROM (SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) AS ma
            FROM emb)
      WHERE ma > 0
    ),
    sqp AS (
      SELECT q.qid, s.vec_id,
             round(
               list_sum(list_transform(range(1, len(q.qv) + 1),
                        i -> q.qv[i] * s.c[i]))
               / (sqrt(list_sum(list_transform(range(1, len(q.qv) + 1),
                          i -> q.qv[i] * q.qv[i])))
                  * sqrt(list_sum(list_transform(range(1, len(s.c) + 1),
                          i -> s.c[i] * s.c[i])))),
             5) AS sim
      FROM qv2 q JOIN sq s ON s.vec_id <> q.qid
    ),
    mrlp AS (
      SELECT q.qid, e.vec_id,
             round(
               list_sum(list_transform(range(1, 33),
                        i -> q.qv[i] * e.v[i]))
               / (sqrt(list_sum(list_transform(range(1, 33),
                          i -> q.qv[i] * q.qv[i])))
                  * sqrt(list_sum(list_transform(range(1, 33),
                          i -> e.v[i] * e.v[i])))),
             5) AS sim
      FROM qv2 q JOIN emb e ON e.vec_id <> q.qid
    ),
    hq AS (
      SELECT doc_id AS qid,
             list_distinct(list_filter(string_split_regex(trim(lower(text)),
                 '\\s+'), x -> x <> '')) AS qterms
      FROM documents WHERE doc_id < 3
    ),
    htk AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         x -> x <> '') AS tk
      FROM documents
    ),
    htot AS (SELECT count(*) AS n, avg(len(tk)) AS avgdl FROM htk),
    hmt AS (
      SELECT qq.qid, t.doc_id, t.dl, t.w
      FROM (SELECT doc_id, len(tk) AS dl, unnest(tk) AS w FROM htk) t
      JOIN (SELECT qid, unnest(qterms) AS w FROM hq) qq USING (w)
    ),
    htf AS (
      SELECT qid, doc_id, dl, w, count(*) AS tf
      FROM hmt GROUP BY qid, doc_id, dl, w
    ),
    hdf AS (
      SELECT w, count(*) AS df
      FROM (SELECT DISTINCT doc_id, w FROM hmt) GROUP BY w
    ),
    hsc AS (
      SELECT htf.qid, htf.doc_id,
             round(sum(
               ln(1 + (htot.n - hdf.df + 0.5) / (hdf.df + 0.5))
               * (htf.tf * 2.2)
               / (htf.tf + 1.2 * (0.25 + 0.75 * htf.dl / htot.avgdl))
             ), 6) AS score
      FROM htf JOIN hdf USING (w), htot
      GROUP BY htf.qid, htf.doc_id
    ),
    hlex AS (
      SELECT qid, doc_id, rk FROM (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY score DESC, doc_id) AS rk
        FROM hsc WHERE doc_id <> qid
      ) WHERE rk <= 10
    ),
    hden AS (
      SELECT qid, vec_id, rk FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY sim DESC, vec_id) AS rk
        FROM pairs WHERE qid < 3
      ) WHERE rk <= 10
    ),
    hfuse AS (
      SELECT qid, vec_id, round(sum(1.0 / (60 + rk)), 6) AS rrf,
             count(*) AS nl
      FROM (SELECT qid, doc_id AS vec_id, rk FROM hlex
            UNION ALL SELECT qid, vec_id, rk FROM hden)
      GROUP BY qid, vec_id
    )
    SELECT 'ivf' AS method, qid, vec_id, sim AS score FROM (
      SELECT qid, vec_id, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
      FROM pairs
    ) WHERE rn <= 5
    UNION ALL
    SELECT 'pq' AS method, qid, vec_id, score FROM (
      SELECT qid, vec_id, round({total}, 6) AS score,
             row_number() OVER (
               PARTITION BY qid ORDER BY round({total}, 6), vec_id) AS rn
      FROM qd
    ) WHERE rn <= 5
    UNION ALL
    SELECT 'sq8' AS method, qid, vec_id, sim AS score FROM (
      SELECT qid, vec_id, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
      FROM sqp
    ) WHERE rn <= 5
    UNION ALL
    SELECT 'mrl32' AS method, qid, vec_id, sim AS score FROM (
      SELECT qid, vec_id, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
      FROM mrlp
    ) WHERE rn <= 5
    UNION ALL
    SELECT 'hybrid' AS method, qid, vec_id, rrf AS score FROM hfuse
    UNION ALL
    SELECT 'hybrid_nl' AS method, qid, vec_id,
           CAST(nl AS DOUBLE) AS score FROM hfuse
    """


@query("ann_suite", _ann_suite_oracle_sql())
def q_ann_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approximate-nearest-neighbor family as one tagged union:

    - ``ivf``: IVF top-k, the zero-driver-round-trip variant
      (ivf_topk_scalable): k-means coarse quantizer, probe-cell explode
      → cell equi-join → ranking window. Probing ALL cells makes the
      IVF result EXACTLY brute force (every corpus vector lives in
      exactly one cell), so the driver hashes it against DuckDB's
      exhaustive scan — the derived deterministic oracle for an
      approximate-by-design operator. Recall at nprobe < ncells is
      pinned separately in tests.
    - ``pq``: product quantization (operators/pq.py): codebooks trained
      on a content-ordered sample (driver NumPy, KBs), the corpus
      encoded to m=8 uint8 codes in pure codegen, then ADC top-k —
      per-query distance tables over the COMPRESSED codes only. The
      codebooks are materialized to the model parquet and the oracle
      re-derives both the code assignment and the ADC scores from them
      (_pq_oracle_sql), so the driver hash covers encode + scoring
      end-to-end.
    - ``sq8`` (round 8): per-vector int8 scalar quantization
      (operators/pq.py::sq8_encode/sq8_topk — the FAISS QT_8bit /
      pgvector family): training-free 4x compression, codes from a
      fixed (mul, div, add, floor) IEEE-double chain the oracle
      replays exactly, and cosine ranking directly on the codes (the
      per-vector scale cancels — the float column is never read at
      query time). Recall@5 >= 0.9 vs brute force pinned in
      test_pq.py.
    - ``mrl32`` (round 8): Matryoshka prefix-dimension retrieval
      (operators/similarity.py::mrl_truncate/mrl_topk): cosine over
      the first 32 of 64 dims — the cheap wide stage of the MRL
      funnel (half the bytes through the scan; the full-dim re-rank
      stage and its exact-convergence pin live in
      test_dedup_similarity.py). The oracle recomputes the truncated
      cosine with the same 32-term fold."""
    from .operators.pq import pq_encode, pq_topk, sq8_encode, sq8_topk
    from .operators.similarity import ivf_assign, ivf_topk_scalable, train_centroids

    e = _t(spark, sf_dir, "embeddings")
    cents = train_centroids(e, n_centroids=8, sample_rows=1000)
    assigned = ivf_assign(e, cents)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    ivf = ivf_topk_scalable(
        assigned, q, cents, k=5, nprobe=len(cents), round_digits=5
    ).select(
        F.lit("ivf").alias("method"), "qid", "vec_id",
        F.col("cosine").alias("score"),
    )

    books = _train_and_write_pq(spark, sf_dir)
    enc = pq_encode(e.select("vec_id", "embedding"), books)
    pq = pq_topk(enc, q, books, k=5, exclude_self=True).select(
        F.lit("pq").alias("method"), "qid", "vec_id",
        F.col("adc_dist").alias("score"),
    )

    sq_corpus = sq8_encode(e.select("vec_id", "embedding")).filter(
        F.col("sq8_scale") > 0
    )
    sq = sq8_topk(sq_corpus, q, k=5, round_digits=5).select(
        F.lit("sq8").alias("method"), "qid", "vec_id",
        F.col("cosine").alias("score"),
    )

    from .operators.similarity import mrl_topk

    mrl = mrl_topk(
        e.select("vec_id", "embedding"), q, d=32, k=5, round_digits=5
    ).select(
        F.lit("mrl32").alias("method"), "qid", "vec_id",
        F.col("cosine").alias("score"),
    )
    # hybrid limb (round 10): lexical BM25 (each query = the distinct
    # tokens of documents 0..2, batched through bm25_scores_queries —
    # ONE corpus pass for all queries) + dense cosine (the cosine_topk
    # formula, round-5-before-rank), top-10 each, fused by Reciprocal
    # Rank Fusion (operators/similarity.py::rrf_fuse, k=60). The twin
    # replays the ENTIRE funnel — tf/df/dl/N/avgdl, both rankings with
    # their tie-breaks, and the fused reciprocal sums — so a drift in
    # any stage (tokenization, saturation, rounding, rank ties, the
    # fusion constant) flips the hash. vec_id and doc_id share the id
    # space by testdata construction.
    from .operators.similarity import rrf_fuse
    from .operators.textstats import bm25_scores_queries

    hd = _t(spark, sf_dir, "documents")
    hq = hd.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("qid"),
        F.array_distinct(tokens(F.lower(F.col("text")))).alias("terms"),
    )
    wlex = W.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    lexr = (
        bm25_scores_queries(hd, hq)
        .filter(F.col("doc_id") != F.col("qid"))
        .withColumn("rank", F.row_number().over(wlex))
        .filter(F.col("rank") <= 10)
        .select("qid", F.col("doc_id").alias("vec_id"), "rank")
    )
    q3 = F.broadcast(
        e.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
    )
    wden = W.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    denr = (
        q3.join(e, F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id",
            F.round(cosine_similarity("qv", "embedding"), 5).alias("sim"),
        )
        .withColumn("rank", F.row_number().over(wden))
        .filter(F.col("rank") <= 10)
        .select("qid", "vec_id", "rank")
    )
    # lazy localCheckpoint: two union branches project the same fused
    # frame — without the in-plan edge each branch would replay the
    # whole BM25+cosine funnel (union-branch lineage multiplication)
    fused = rrf_fuse([lexr, denr], on=["qid", "vec_id"]).localCheckpoint(
        eager=False
    )
    hyb = fused.select(
        F.lit("hybrid").alias("method"), "qid", "vec_id",
        F.col("rrf_score").alias("score"),
    )
    # n_lists corroboration gate, hashed (VERDICT r10 item 8): the
    # single-list-straggler count was the one rrf_fuse output column
    # without an oracle column — shipped as its own tagged rows so the
    # suite's shared (method, qid, vec_id, score) schema is untouched
    hybn = fused.select(
        F.lit("hybrid_nl").alias("method"), "qid", "vec_id",
        F.col("n_lists").cast("double").alias("score"),
    )
    return (
        ivf.unionByName(pq).unionByName(sq).unionByName(mrl)
        .unionByName(hyb).unionByName(hybn)
    )


@query(
    "multimodal_features",
    """
    SELECT 'decode' AS part, doc_id AS media_id, 'image' AS kind,
           CAST(8 + doc_id % 32 AS INT) AS width,
           CAST(8 + n_chars % 32 AS INT) AS height,
           TRUE AS decoded,
           CAST(NULL AS BIGINT) AS n_bytes, CAST(NULL AS VARCHAR) AS digest
    FROM documents
    UNION ALL
    SELECT 'meta', doc_id, CAST(NULL AS VARCHAR),
           CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS BOOLEAN),
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT), sha256(text)
    FROM documents
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal family as one tagged union (the former standalone
    ``binary_meta`` entry merged in as the ``meta`` part in round 6 to
    keep the registry inside the driver's 50-row window):

    - ``decode``: multimodal decode end-to-end with a derived
      deterministic oracle: each document becomes a REAL binary PGM
      (P5) payload — header with content-derived dimensions, md5-hex
      body bytes — so the pure-NumPy image decoder
      (operators/multimodal.py:_decode_ppm) actually parses it inside
      mapInPandas. The oracle re-derives width/height from the same doc
      fields and pins decoded=TRUE: a hash match proves the real decode
      path ran for every row (a fallback to fake_decode_meta would flip
      `decoded` and change the dims).
    - ``meta``: opaque binary payload + typed metadata (byte length,
      sha256 content digest) — the ingest-side plumbing every
      multimodal column carries."""
    from .operators.multimodal import extract_features, to_media_table

    d = _t(spark, sf_dir, "documents")
    w = (F.lit(8) + F.col("doc_id") % 32).cast("int")
    h = (F.lit(8) + F.col("n_chars") % 32).cast("int")
    # body: w*h ≤ 39*39 = 1521 bytes of ASCII hex (md5 repeated 48× =
    # 1536) — byte length == char length by construction, so substr by
    # chars is substr by bytes
    payload = F.concat(
        F.concat_ws("", F.lit("P5\n"), w.cast("string"), F.lit(" "),
                    h.cast("string"), F.lit(" 255\n")),
        F.substring(F.repeat(F.md5(F.col("text").cast("binary")), 48), 1, w * h),
    ).cast("binary")
    media = to_media_table(
        d.withColumn("payload", payload), "doc_id", "payload", "image"
    )
    decode = extract_features(media, feat_dim=16).select(
        F.lit("decode").alias("part"),
        "media_id", "kind", "width", "height", "decoded",
        F.lit(None).cast("long").alias("n_bytes"),
        F.lit(None).cast("string").alias("digest"),
    )
    b = F.col("text").cast("binary")
    meta = d.select(
        F.lit("meta").alias("part"),
        F.col("doc_id").alias("media_id"),
        F.lit(None).cast("string").alias("kind"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("boolean").alias("decoded"),
        F.octet_length(b).cast("long").alias("n_bytes"),
        F.sha2(b, 256).alias("digest"),
    )
    return decode.unionByName(meta)




_PR_ITER_SQL = """
    pr{k} AS (
      SELECT n.node,
             (CAST(1.0 AS DOUBLE) - 0.85) / nn.n
             + 0.85 * coalesce(CAST(s.s AS DOUBLE), 0.0) AS rank
      FROM prnodes n CROSS JOIN nn
      LEFT JOIN (
        SELECT ud.v AS node,
               sum(CAST(p.rank / CAST(dg.deg AS DOUBLE)
                        AS DECIMAL(38,14))) AS s
        FROM pr{j} p JOIN ud ON p.node = ud.u
                     JOIN dg ON dg.node = p.node
        GROUP BY ud.v
      ) s ON s.node = n.node
    )"""


@query(
    "dedup_components",
    f"""
    WITH RECURSIVE
    d AS ({_SHINGLES_SQL}),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.04
    ),
    ud AS (SELECT id_a AS u, id_b AS v FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
    reach(node, comp) AS (
      SELECT u, u FROM ud
      UNION
      SELECT ud.v, reach.comp FROM reach JOIN ud ON ud.u = reach.node
    ),
    lab AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node),
    full_lab AS (
      SELECT doc_id, coalesce(lab.comp, doc_id) AS comp_id
      FROM documents LEFT JOIN lab ON documents.doc_id = lab.node
    ),
    prnodes AS (SELECT DISTINCT u AS node FROM ud),
    dg AS (SELECT u AS node, count(*) AS deg FROM ud GROUP BY u),
    nn AS (SELECT count(*) AS n FROM prnodes),
    pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank
            FROM prnodes CROSS JOIN nn),
    {_PR_ITER_SQL.format(k=1, j=0)},
    {_PR_ITER_SQL.format(k=2, j=1)},
    {_PR_ITER_SQL.format(k=3, j=2)}
    SELECT 'comp' AS part,
           CAST(doc_id AS BIGINT) AS doc_id,
           CAST(comp_id AS BIGINT) AS comp_id,
           CAST(count(*) OVER (PARTITION BY comp_id) AS BIGINT) AS comp_size,
           CAST(doc_id = comp_id AS INT) AS keep
    FROM full_lab
    UNION ALL
    SELECT 'best',
           CAST(f.doc_id AS BIGINT),
           CAST(f.comp_id AS BIGINT),
           CAST(count(*) OVER (PARTITION BY f.comp_id) AS BIGINT),
           CAST(row_number() OVER (
                  PARTITION BY f.comp_id
                  ORDER BY d2.n_chars DESC NULLS LAST, f.doc_id) = 1 AS INT)
    FROM full_lab f JOIN documents d2 ON d2.doc_id = f.doc_id
    UNION ALL
    SELECT 'pagerank' AS part,
           CAST(pr3.node AS BIGINT),
           CAST(round(pr3.rank * 1e12) AS BIGINT),
           CAST(nn.n AS BIGINT),
           0
    FROM pr3 CROSS JOIN nn
    """,
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group clustering + template-hub ranking, tagged union:

    - ``comp``: n-gram-Jaccard near-dup pairs -> undirected connected
      components via distributed min-label propagation with pointer
      jumping (operators/graph.py) -> full-corpus labeling with
      canonical keep flags. The DuckDB twin computes the same
      components by recursive transitive closure - two entirely
      different algorithms, one answer. Green-field (no reference
      counterpart; dedup family #6).
    - ``best`` (round 8): the same labeling under the quality-
      preserving canonical-selection policy — keep the LONGEST member
      per component (score_col="n_chars", ties to min id, NULLs last;
      the RefinedWeb keep-the-longest convention) instead of the
      min-id member. One extra rank window over the same
      comp-partitioned exchange.
    - ``pagerank`` (round 8): 3 power-iteration rounds of PageRank
      over the SAME near-dup graph (operators/graph.py::pagerank,
      directed=False) — the link-centrality prior crawl pipelines use,
      here scoring template-hubness: boilerplate near-matching many
      documents accumulates rank. comp_id carries
      round(rank·1e12) as an exact BIGINT (pins every rank to 1e-12),
      comp_size carries the graph's node count. The twin unrolls the
      identical iteration (per-edge double contribution, cast to
      DECIMAL(38,14), exact order-free sum — the partition-
      independence mechanism shared with k-means/the classifier)."""
    from .operators.graph import duplicate_groups, pagerank

    d = _t(spark, sf_dir, "documents")
    # one pair generation feeds both limbs (the checkpoint stops the
    # quadratic jaccard query re-running per limb / per pagerank round)
    edges = (
        q_dedup_ngram_jaccard(spark, sf_dir)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    from .operators.graph import connected_components

    # one label propagation serves both keep policies (the CC loop is
    # the dominant cost; review finding r8)
    labels = connected_components(edges).localCheckpoint(eager=True)
    comp = duplicate_groups(d, edges, id_col="doc_id", labels=labels).select(
        F.lit("comp").alias("part"), "doc_id", "comp_id", "comp_size", "keep"
    )
    best = duplicate_groups(
        d, edges, id_col="doc_id", score_col="n_chars", labels=labels
    ).select(
        F.lit("best").alias("part"), "doc_id", "comp_id", "comp_size", "keep"
    )
    pr = pagerank(edges, directed=False, iterations=3)
    n_nodes = pr.count()
    prr = pr.select(
        F.lit("pagerank").alias("part"),
        F.col("node").cast("long").alias("doc_id"),
        F.round(F.col("rank") * F.lit(1e12)).cast("long").alias("comp_id"),
        F.lit(n_nodes).cast("long").alias("comp_size"),
        F.lit(0).alias("keep"),
    )
    return comp.unionByName(best).unionByName(prr)


def _exact_dup_fraction(d, text_col: str = "text") -> float:
    """Dup-rate probe for the collapse gate: estimated fraction of rows
    whose text has been seen before, from ONE map-side-partial
    approx_count_distinct sketch over xxhash64(text) (rsd 0.01) — no
    data-wide shuffle, so the probe costs one column scan, not an
    exchange. Deliberately cruder than the collapse key (no
    tokenize-eligibility filter, xxhash64 not md5, DEFAULT sketch
    precision — this feeds a plan CHOICE, not the answer; measured at
    5k docs: tokenize-keyed probe 0.79 s, rsd-0.01 sketch 0.76 s,
    default rsd-0.05 sketch 0.27 s, and the sketch cost is register-
    merge-bound, so it amortizes to a plain column scan at scale). NO
    sampling: an exact-dup PAIR survives a p-rate sample with
    probability p², so a sampled probe would wave dup-heavy corpora
    through the gate. The caller's gate threshold (10%) sits 2x above
    the 5% sketch error, so a dup-free corpus cannot spuriously pay
    the collapse."""
    probe = d.agg(
        F.count(text_col).alias("n"),
        F.approx_count_distinct(F.xxhash64(text_col)).alias("nd"),
    ).first()
    return 1.0 - probe["nd"] / probe["n"] if probe["n"] else 0.0


@query(
    "dedup_groups_lsh",
    f"""
    WITH RECURSIVE
    d AS ({_MINHASH_SQL}),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM d a JOIN d b ON a.mh1 = b.mh1 AND a.mh2 = b.mh2 AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6
    ),
    ud AS (SELECT id_a AS u, id_b AS v FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
    reach(node, comp) AS (
      SELECT u, u FROM ud
      UNION
      SELECT ud.v, reach.comp FROM reach JOIN ud ON ud.u = reach.node
    ),
    lab AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node),
    full_lab AS (
      SELECT doc_id, coalesce(lab.comp, doc_id) AS comp_id
      FROM documents LEFT JOIN lab ON documents.doc_id = lab.node
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(comp_id AS BIGINT) AS comp_id,
           CAST(count(*) OVER (PARTITION BY comp_id) AS BIGINT) AS comp_size,
           CAST(doc_id = comp_id AS INT) AS keep
    FROM full_lab
    """,
)
def q_dedup_groups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end scale-shaped dedup pipeline: shingles → minhash
    signatures → LSH bucket join → exact-Jaccard verification (all the
    dedup_minhash_lsh plan, one full-table shuffle) → connected
    components (pointer-jumping min-label, operators/graph.py) → full
    corpus keep flags. This is the query a 100 TB curation run executes;
    dedup_components keeps the quadratic-edge variant as the exactness
    oracle. DuckDB twin chains the banded pair SQL into a recursive
    transitive closure — different algorithms at every stage, one
    answer. Green-field (dedup family capstone).

    Fronted by the exact-collapse pre-pass (the dedup.py::
    minhash_lsh_pairs_collapsed pattern applied to the registry's
    inline pair plan): byte-identical texts collapse to one
    representative before shingling, members re-attach as jaccard-1.0
    edges. Component-equivalent to the plain plan by construction —
    exact duplicates have identical signatures, so the plain pipeline
    pairs them at jaccard 1.0 >= 0.6 — and pinned identical by test;
    the DuckDB twin keeps the plain recursive closure, so the driver
    hash cross-checks the equivalence every round.

    GATED on a dup-rate probe (round 8): a serialized quiet-box A/B
    (SCALE.md) measured the collapse at 1.9x FASTER at 50% exact dups
    (it removes the quadratic per-band candidate blowup of large
    identical groups) but 1.4x SLOWER on a dup-free corpus (the
    md5-keyed exchange + semi join buy nothing) — the r7 driver bench's
    +8% drift was real. One map-side approx_count_distinct sketch
    (no data-wide shuffle) estimates the exact-dup fraction; below 10%
    (2x the sketch's 5% error, and a rate at which the collapse's
    quadratic-blowup protection is not yet worth its exchange) the
    plain pipeline runs and the collapse exchange never happens. The collapsed path stays covered by the dup-heavy
    equivalence pytest (test_collapsed_lsh_groups_equal_plain); the
    driver correctness hash exercises whichever path the corpus
    selects, and both produce identical components by construction."""
    from .operators.graph import duplicate_groups

    # NO spread here (round-12 A/B, SCALE.md "input spread"): this
    # pipeline consumes `d` in several separate actions (dup-fraction
    # probe, signature pass, final labeling join), and an uncached
    # repartition re-shuffles the text per action — fresh-JVM it
    # measured +44% WORSE despite an in-session probe suggesting -22%
    d = _t(spark, sf_dir, "documents")
    # collapse eligibility must match the plain pipeline's reach: a doc
    # with < 3 tokens emits no shingles and stays a singleton there, so
    # it must stay one here too (and md5(NULL)=NULL must not glue
    # NULL-text docs into one bogus group).
    eligible = F.col("text").isNotNull() & (
        F.size(tokens(F.lower(F.col("text")))) >= 3
    )
    if _exact_dup_fraction(d) < 0.10:
        edges = _minhash_lsh_pairs_inline(d).select("id_a", "id_b")
        return duplicate_groups(d, edges, id_col="doc_id")
    keyed = d.filter(eligible).select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("__tk")
    )
    reps = keyed.groupBy("__tk").agg(F.min("doc_id").alias("rep_id"))
    members = keyed.join(reps, "__tk")
    member_edges = members.filter(F.col("doc_id") != F.col("rep_id")).select(
        F.col("rep_id").alias("id_a"), F.col("doc_id").alias("id_b")
    )
    rep_docs = d.join(reps.select(F.col("rep_id").alias("doc_id")), "doc_id", "semi")
    rep_pairs = _minhash_lsh_pairs_inline(rep_docs).select("id_a", "id_b")
    edges = rep_pairs.unionByName(member_edges)
    return duplicate_groups(d, edges, id_col="doc_id")


# blocklist phrases for the decontaminate blocklist limb — drawn from
# the synthetic corpus vocabulary so the limb has real positives; the
# DuckDB twin embeds the same list
_BLOCKLIST = ("slow", "slow query", "big join", "stream merge")


def _csv_ingest_limb_sql() -> str:
    """The decontaminate twin's csv_ingest fragment: good rows from
    DuckDB's OWN read_csv over the engine-written fixture files (two
    independent CSV parsers must agree on typed parse, quoting, and
    permissive rejection), quarantine rows derived in SQL from the
    same labeled literals the engine wrote (md5 of each raw line,
    header-vs-parse reason as n_hits)."""
    import os

    d = _csv_fixture_dir()
    cols = "{'doc_id': 'BIGINT', 'label': 'VARCHAR', 'score': 'DOUBLE'}"

    def esc(s: str) -> str:
        return s.replace("'", "''")

    reads = " UNION ALL ".join(
        f"SELECT * FROM read_csv('{os.path.join(d, fname)}', "
        f"columns={cols}, header=false, sep='{sep}', "
        f"ignore_errors=true, auto_detect=false)"
        for fname, sep in (("fixture.csv", ","), ("fixture.tsv", "\t"))
    )
    quarantined = ",\n      ".join(
        f"('{esc(line)}', {1 if kind == 'header' else 0})"
        for rows in (_CSV_FIXTURE_CSV, _CSV_FIXTURE_TSV)
        for line, kind in rows
        if kind != "good"
    )
    return f"""
    SELECT 'csv_ingest' AS part, CAST(g.doc_id AS BIGINT) AS doc_id,
           CAST(length(g.label) AS INT) AS n_grams,
           CAST(('0x' || substr(md5(g.label), 1, 7))::BIGINT AS INT) AS n_hits,
           g.score AS hit_ratio, 0 AS contaminated
    FROM ({reads}) g
    UNION ALL
    SELECT 'csv_ingest', ('0x' || substr(md5(q.line), 1, 15))::BIGINT,
           CAST(length(q.line) AS INT), CAST(q.is_hdr AS INT),
           CAST(('0x' || substr(md5(q.line), 1, 12))::BIGINT AS DOUBLE), 1
    FROM (VALUES {quarantined}) q(line, is_hdr)
    """


@query(
    "decontaminate",
    f"""
    WITH sh AS (SELECT doc_id, {_SH_EXPR} AS sh FROM documents),
    b AS (SELECT DISTINCT g
          FROM (SELECT unnest(sh) AS g FROM sh WHERE doc_id % 50 = 0)),
    c AS (SELECT doc_id, sh FROM sh WHERE doc_id % 50 <> 0),
    hits AS (
      SELECT doc_id, count(*) AS n_hits
      FROM (SELECT doc_id, unnest(sh) AS g FROM c) t JOIN b USING (g)
      GROUP BY doc_id
    ),
    toks2 AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS tk
      FROM documents
    ),
    toksb AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         x -> x <> '') AS tk
      FROM documents
    ),
    st2 AS (
      SELECT doc_id, tk, unnest(range(0, len(tk) - 10 + 1, 1)) AS s
      FROM toks2 WHERE len(tk) >= 10
    ),
    p2 AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(tk, s + 1, s + 10), ' ')) AS h
      FROM st2
    ),
    p2u AS (
      SELECT doc_id, s,
             md5(array_to_string(list_slice(tk, s + 1, s + 10), ' ')) AS h
      FROM st2
    ),
    c2 AS (SELECT doc_id, count(*) OVER (PARTITION BY h) AS c FROM p2)
    SELECT 'eval_ngram' AS part,
           CAST(c.doc_id AS BIGINT) AS doc_id,
           CAST(len(c.sh) AS INT) AS n_grams,
           CAST(coalesce(hits.n_hits, 0) AS INT) AS n_hits,
           round(CAST(coalesce(hits.n_hits, 0) AS DOUBLE)
                 / greatest(len(c.sh), 1), 6) AS hit_ratio,
           CAST(coalesce(hits.n_hits, 0) >= 1 AS INT) AS contaminated
    FROM c LEFT JOIN hits ON c.doc_id = hits.doc_id
    UNION ALL
    SELECT 'bloom' AS part,
           CAST(c.doc_id AS BIGINT) AS doc_id,
           CAST(len(c.sh) AS INT) AS n_grams,
           CAST(coalesce(hits.n_hits, 0) AS INT) AS n_hits,
           round(CAST(coalesce(hits.n_hits, 0) AS DOUBLE)
                 / greatest(len(c.sh), 1), 6) AS hit_ratio,
           CAST(coalesce(hits.n_hits, 0) >= 1 AS INT) AS contaminated
    FROM c LEFT JOIN hits ON c.doc_id = hits.doc_id
    UNION ALL
    SELECT 'dup_passage' AS part,
           CAST(doc_id AS BIGINT) AS doc_id,
           CAST(count(*) AS INT) AS n_grams,
           CAST(sum(CAST(c >= 2 AS INT)) AS INT) AS n_hits,
           round(CAST(sum(CAST(c >= 2 AS INT)) AS DOUBLE) / count(*), 6)
             AS hit_ratio,
           CAST(sum(CAST(c >= 2 AS INT)) >= 1 AS INT) AS contaminated
    FROM c2 GROUP BY doc_id
    UNION ALL
    SELECT 'blocklist' AS part,
           CAST(t.doc_id AS BIGINT) AS doc_id,
           CAST(len(t.tk) AS INT) AS n_grams,
           CAST(coalesce(h.n, 0) AS INT) AS n_hits,
           round(CAST(coalesce(h.n, 0) AS DOUBLE)
                 / greatest(len(t.tk), 1), 6) AS hit_ratio,
           CAST(coalesce(h.n, 0) >= 1 AS INT) AS contaminated
    FROM toksb t LEFT JOIN (
      SELECT doc_id, count(*) AS n FROM (
        SELECT doc_id, unnest(tk) AS gram FROM toksb
        UNION ALL
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(tk) - 1, 0) + 1),
                      i -> array_to_string(list_slice(tk, i, i + 1), ' ')))
        FROM toksb
      ) g JOIN (SELECT unnest([{", ".join("'" + p + "'" for p in _BLOCKLIST)}])
                  AS phrase) p
        ON g.gram = p.phrase
      GROUP BY doc_id
    ) h ON t.doc_id = h.doc_id
    UNION ALL
    SELECT 'warc_robots' AS part,
           ('0x' || substr(md5(wr.url), 1, 15))::BIGINT,
           CAST(len(list_filter(string_split_regex(trim(lower(wr.txt)),
                '\\s+'), x -> x <> '')) AS INT),
           CAST(length(wr.txt) AS INT),
           CAST(('0x' || substr(md5(wr.txt), 1, 12))::BIGINT AS DOUBLE),
           CAST(NOT wr.allowed AS INT)
    FROM (VALUES
      ('http://a.example.com/public/x.html', TRUE,
       'Public' || chr(10) || 'Hello public world'),
      ('http://a.example.com/private/secret.html', FALSE,
       'Secret stuff here'),
      ('http://a.example.com/private/ok/fine.html', TRUE,
       'Allowed deep path'),
      ('http://b.example.com/page', TRUE,
       'Beta' || chr(10) || 'Gamma page'),
      ('http://b.example.com/sjis', TRUE, '日本語のページ')
    ) wr(url, allowed, txt)
    UNION ALL
    SELECT 'dup_removal' AS part,
           CAST(k.doc_id AS BIGINT),
           CAST(len(k.tk) AS INT),
           CAST(len(k.tk) - len(k.kept) AS INT),
           CAST(('0x' || substr(md5(coalesce(array_to_string(
             list_transform(k.kept, i -> k.tk[i + 1]), ' '), '')), 1, 12))
             ::BIGINT AS DOUBLE),
           CAST(len(k.tk) - len(k.kept) > 0 AS INT)
    FROM (
      SELECT t.doc_id, t.tk,
             list_filter(range(0, len(t.tk)),
               i -> len(list_filter(coalesce(rc.cuts, []),
                        s -> s <= i AND i < s + 10)) = 0) AS kept
      FROM toks2 t LEFT JOIN (
        SELECT doc_id, list(s ORDER BY s) AS cuts FROM (
          SELECT doc_id, s,
                 row_number() OVER (PARTITION BY h
                                    ORDER BY doc_id, s) AS rnk,
                 count(*) OVER (PARTITION BY h) AS c
          FROM p2u
        ) WHERE c >= 2 AND rnk >= 2 GROUP BY doc_id
      ) rc ON t.doc_id = rc.doc_id
    ) k
    UNION ALL
    SELECT 'dup_line' AS part,
           CAST(lk.doc_id AS BIGINT),
           CAST(len(list_filter(lk.lines,
                x -> regexp_replace(x, '^\\s+|\\s+$', '', 'g') <> '')) AS INT),
           CAST(len(lk.lines) - len(lk.keptidx) AS INT),
           CAST(('0x' || substr(md5(coalesce(array_to_string(
             list_transform(lk.keptidx, i -> lk.lines[i + 1]), chr(10)), '')),
             1, 12))::BIGINT AS DOUBLE),
           CAST(len(lk.lines) - len(lk.keptidx) > 0 AS INT)
    FROM (
      WITH ml AS (
        SELECT doc_id,
               string_split(coalesce(array_to_string(
                 list_transform(range(0, len(tk), 8),
                   s -> array_to_string(list_slice(tk, s + 1, s + 8), ' ')),
                 chr(10)), ''), chr(10)) AS lines
        FROM toks2
      ),
      le AS (SELECT doc_id, lines, unnest(range(0, len(lines))) AS i FROM ml),
      lnb AS (
        SELECT doc_id, i,
               md5(regexp_replace(lines[i + 1], '^\\s+|\\s+$', '', 'g')) AS h
        FROM le
        WHERE regexp_replace(lines[i + 1], '^\\s+|\\s+$', '', 'g') <> ''
      ),
      lcuts AS (
        SELECT doc_id, list(i ORDER BY i) AS cuts FROM (
          SELECT doc_id, i,
                 row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rnk,
                 count(*) OVER (PARTITION BY h) AS c
          FROM lnb
        ) WHERE c >= 2 AND rnk >= 2 GROUP BY doc_id
      )
      SELECT m.doc_id, m.lines,
             list_filter(range(0, len(m.lines)),
               i -> NOT list_contains(coalesce(lc.cuts, []), i)) AS keptidx
      FROM ml m LEFT JOIN lcuts lc ON m.doc_id = lc.doc_id
    ) lk
    UNION ALL
    {_csv_ingest_limb_sql()}
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus contamination hygiene as one tagged union:

    - ``eval_ngram``: benchmark decontamination — every 50th document
      plays the held-out eval set; the rest are the corpus. A corpus
      doc is contaminated when any of its distinct word-3-grams appears
      in the benchmark n-gram set (the published exact-overlap practice
      — GPT-3 appendix C / The Pile use 13-grams on full-length text).
      Scale shape: benchmark n-grams broadcast (eval sets are tiny vs
      the corpus), corpus never fully shuffles (operators/decontam.py).
    - ``dup_passage``: corpus-INTERNAL duplicated-passage flags — the
      window-hash form of exact substring dedup (Lee et al. 2021):
      every 10-token span is hashed row-locally, a per-hash count
      window marks spans occurring >= 2 times anywhere in the corpus
      (within-document repeats count), and per-doc stats reuse the
      contamination column shape (n_windows / n_dup_windows / dup_frac
      / has_dup). One uniform span-hash exchange + one per-doc agg.
    - ``warc_robots`` (round 8): the crawl-ingest hygiene composition
      read_warc → warc_to_documents → apply_robots over a spec-correct
      member-gzip fixture archive built from module constants (HTTP/2
      status line, quoted Shift_JIS charset per RFC 9110, image + 404
      records that must drop, RFC 9309 wildcard/anchor/longest-match
      robots rules). Column mapping into this row's shape: doc_id = the
      60-bit md5 prefix of the URL (content-addressed in BOTH engines —
      the xxhash64 doc_id is not DuckDB-computable), n_grams = token
      count, n_hits = char count, hit_ratio = the 48-bit md5 prefix of
      the EXTRACTED TEXT as an exact double (< 2^53, so the equality is
      exact — it pins charset decode + html_to_text byte-for-byte), and
      contaminated = robots-DISALLOWED. The twin derives every value
      from expected-text literals; any drift in record parsing, text
      extraction, or robots evaluation flips the hash.
    - ``dup_line`` (round 8): line-level dedup, removal form — the
      CCNet paragraph-hash / RefinedWeb exact-line-dedup family over a
      deterministically re-flowed multi-line corpus (8-token lines);
      the twin re-derives the duplicated-line cut set with the same
      rank+count windows and hash-pins the rebuilt text.
    - ``csv_ingest`` (round 10): the CSV/TSV quarantine ingest
      (sources/csvsrc.py) over labeled fixture files — good rows are
      an independent-parser differential (DuckDB's read_csv vs the
      UniVocity from_csv path: typed parse, quoted separators,
      permissive arity/cast rejection, header-variant dropping);
      quarantine rows are md5-content-addressed with the
      header-vs-parse reason pinned in n_hits."""
    from .operators.decontam import flag_duplicate_passages, ngram_contamination

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    ev = ngram_contamination(corpus, bench, n=3).select(
        F.lit("eval_ngram").alias("part"),
        "doc_id", "n_grams", "n_hits", "hit_ratio", "contaminated",
    )
    dp = flag_duplicate_passages(
        d, window=10, stride=1, hasher="md5"
    ).select(
        F.lit("dup_passage").alias("part"),
        "doc_id",
        F.col("n_windows").alias("n_grams"),
        F.col("n_dup_windows").alias("n_hits"),
        F.col("dup_frac").alias("hit_ratio"),
        F.col("has_dup").alias("contaminated"),
    )
    # blocklist limb (round 7): the C4 bad-words census over the whole
    # corpus via the broadcast n-gram join (operators/blocklist.py) —
    # phrases drawn from the corpus vocabulary so the limb has real
    # positives; n_grams reuses the column as the doc's token count
    from .operators.blocklist import blocklist_hits

    bl = blocklist_hits(d, list(_BLOCKLIST), token_count=True).select(
        F.lit("blocklist").alias("part"),
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_grams"),
        F.col("n_hits").cast("int").alias("n_hits"),
        F.round(
            F.col("n_hits")
            / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"),
            6,
        ).alias("hit_ratio"),
        (F.col("n_hits") >= 1).cast("int").alias("contaminated"),
    )
    from .operators.robots import apply_robots
    from .sources.warc import read_warc, warc_to_documents

    fix_dir = _ensure_warc_fixture()
    wdocs = warc_to_documents(read_warc(spark, fix_dir + "/*.warc.gz"))
    robots = spark.createDataFrame(
        [("a.example.com", _WARC_ROBOTS_BODY)],
        "host string, robots_txt string",
    )
    wr = apply_robots(wdocs, robots).select(
        F.lit("warc_robots").alias("part"),
        F.conv(F.substring(F.md5("url"), 1, 15), 16, 10)
        .cast("long").alias("doc_id"),
        F.col("n_tokens").cast("int").alias("n_grams"),
        F.col("n_chars").cast("int").alias("n_hits"),
        F.conv(F.substring(F.md5("text"), 1, 12), 16, 10)
        .cast("double").alias("hit_ratio"),
        (~F.col("robots_allowed")).cast("int").alias("contaminated"),
    )
    # dup_removal limb (round 8): the REMOVAL form of exact substring
    # dedup (remove_duplicate_passages, Lee et al. 2021) over the same
    # 10-token md5 windows the dup_passage limb counts. The twin
    # re-derives the cut set relationally (rank + count windows over
    # the span hashes) and rebuilds the text with an EXISTS-over-cuts
    # keep-filter — no fold; hit_ratio carries the 48-bit md5 prefix of
    # the REBUILT text as an exact double, so every kept/cut token of
    # every document is hash-pinned.
    from .operators.decontam import remove_duplicate_passages

    rem = remove_duplicate_passages(
        d, window=10, stride=1, hasher="md5"
    ).select(
        F.lit("dup_removal").alias("part"),
        "doc_id",
        F.size(tokens(F.col("text"))).cast("int").alias("n_grams"),
        F.col("n_tokens_removed").cast("int").alias("n_hits"),
        F.conv(F.substring(F.md5("text_dedup"), 1, 12), 16, 10)
        .cast("double").alias("hit_ratio"),
        (F.col("n_tokens_removed") > 0).cast("int").alias("contaminated"),
    )
    # dup_line limb (round 8): line-level dedup, removal form — the
    # CCNet paragraph-hash / RefinedWeb exact-line-dedup family
    # (remove_duplicate_lines). The synthetic corpus is single-line, so
    # the limb derives a multi-line corpus BOTH engines build
    # identically: tokens re-flowed into 8-token lines joined by '\n'
    # (166 genuinely duplicated cross-document lines at sf0.001 — real
    # positives, not a fabricated fixture). hit_ratio carries the
    # 48-bit md5 prefix of the REBUILT text as an exact double, so
    # every kept/cut line of every document is hash-pinned; n_grams =
    # non-blank line count, n_hits = lines removed.
    from .operators.decontam import remove_duplicate_lines

    tk = tokens(F.col("text"))
    n_tok = F.size(tk)
    starts = F.when(
        n_tok > 0, F.sequence(F.lit(0), n_tok - 1, F.lit(8))
    ).otherwise(F.array().cast("array<int>"))
    reflow = F.array_join(
        F.transform(starts, lambda s: F.array_join(F.slice(tk, s + 1, 8), " ")),
        "\n",
    )
    ml = d.select("doc_id", reflow.alias("text"))
    dl = remove_duplicate_lines(ml, hasher="md5").select(
        F.lit("dup_line").alias("part"),
        "doc_id",
        F.col("n_lines").cast("int").alias("n_grams"),
        F.col("n_lines_removed").cast("int").alias("n_hits"),
        F.conv(F.substring(F.md5("text_dedup"), 1, 12), 16, 10)
        .cast("double").alias("hit_ratio"),
        (F.col("n_lines_removed") > 0).cast("int").alias("contaminated"),
    )
    # bloom limb (round 9): the SAME eval-contamination answer as
    # eval_ngram, computed through the Catalyst-native broadcast-bloom
    # pre-gate (operators/bloom.py) — corpus shingles are first gated
    # by a row-local literal-bloom membership test (zero joins for the
    # definitely-clean mass), and only bloom-passing candidates reach
    # the exact verify join. No false negatives is structural, so the
    # limb's output is IDENTICAL to eval_ngram's no matter the fpp —
    # the driver hash cross-checks the whole gate→verify composition
    # against the twin's plain join every round.
    from .functions.text import word_ngrams
    from .operators.bloom import (
        bloom_build,
        bloom_might_contain,
        bloom_to_bytes,
    )

    sh3 = F.array_distinct(word_ngrams("text", 3))
    bench_g = bench.select(F.explode(sh3).alias("g")).distinct()
    m_bits, k_h = 32768 * 16, 3  # 64 KiB literal, fpp ~1e-5 at this n
    blit = bloom_to_bytes(bloom_build(bench_g, "g", m_bits, k_h), m_bits)
    docs_g = corpus.select(
        "doc_id", sh3.alias("sh"), F.size(sh3).alias("n_grams")
    )
    cand = (
        docs_g.select("doc_id", F.explode("sh").alias("g"))
        .filter(bloom_might_contain("g", blit, m_bits, k_h))
    )
    bhits = (
        cand.join(F.broadcast(bench_g), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    nb = F.coalesce(F.col("n_hits"), F.lit(0))
    blm = docs_g.join(bhits, "doc_id", "left").select(
        F.lit("bloom").alias("part"),
        "doc_id",
        F.col("n_grams").cast("int").alias("n_grams"),
        nb.cast("int").alias("n_hits"),
        F.round(
            nb.cast("double") / F.greatest(F.col("n_grams"), F.lit(1)), 6
        ).alias("hit_ratio"),
        (nb >= 1).cast("int").alias("contaminated"),
    )
    # csv_ingest limb (round 10): the CSV/TSV quarantine ingest
    # (sources/csvsrc.py — explicit schema, corrupt-row quarantine,
    # header-variant dropping with quarantine_headers observability)
    # over the labeled fixture files. Good rows are a genuine
    # two-parser differential (the twin re-reads the same files with
    # DuckDB's own read_csv); quarantine rows are content-addressed:
    # doc_id = 60-bit md5 prefix of the raw line, hit_ratio = the
    # 48-bit md5 prefix as an exact double, n_hits = 1 iff the line
    # was a dropped header form. Good rows pin the typed parse:
    # doc_id/score pass through, n_hits carries a 28-bit md5 prefix
    # of the label.
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from .sources.csvsrc import read_csv_corpus

    cfix = _ensure_csv_fixture()
    cschema = StructType([
        StructField("doc_id", LongType()),
        StructField("label", StringType()),
        StructField("score", DoubleType()),
    ])
    cg, cb = read_csv_corpus(
        spark, cfix + "/fixture.csv", cschema,
        header=True, quarantine_headers=True,
    )
    tg, tb = read_csv_corpus(spark, cfix + "/fixture.tsv", cschema, sep="\t")
    cgood = cg.unionByName(tg).select(
        F.lit("csv_ingest").alias("part"),
        F.col("doc_id"),
        F.length("label").cast("int").alias("n_grams"),
        F.conv(F.substring(F.md5("label"), 1, 7), 16, 10)
        .cast("int").alias("n_hits"),
        F.col("score").alias("hit_ratio"),
        F.lit(0).alias("contaminated"),
    )
    cbad = cb.unionByName(tb).select(
        F.lit("csv_ingest").alias("part"),
        F.conv(F.substring(F.md5("raw_line"), 1, 15), 16, 10)
        .cast("long").alias("doc_id"),
        F.length("raw_line").cast("int").alias("n_grams"),
        (F.col("reason") == "header").cast("int").alias("n_hits"),
        F.conv(F.substring(F.md5("raw_line"), 1, 12), 16, 10)
        .cast("double").alias("hit_ratio"),
        F.lit(1).alias("contaminated"),
    )
    return (
        ev.unionByName(dp).unionByName(bl).unionByName(wr)
        .unionByName(rem).unionByName(dl).unionByName(blm)
        .unionByName(cgood).unionByName(cbad)
    )


# =========================================================================
# Training-data pipeline: deterministic split / stratified sample /
# normalization (operators/sampling.py, functions/text.py)
# =========================================================================

@query(
    "split_assign",
    """
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CASE WHEN b < 8000 THEN 'train'
                WHEN b < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 10000 AS b
          FROM documents)
    """,
)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-addressed train/val/test split: md5 hash
    bucket of the key, salt-versioned — identical assignment on every
    run/engine/cluster (operators/sampling.py). Zero shuffles."""
    from .operators.sampling import train_test_split

    d = _t(spark, sf_dir, "documents")
    return train_test_split(d, "doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"), "split"
    )


@query(
    "stratified_sample",
    """
    WITH s AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('sample' || CAST(doc_id AS VARCHAR))) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM documents),
    cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    tot AS (SELECT sum(sqrt(CAST(n AS DOUBLE))) AS z,
                   CAST(sum(n) AS DOUBLE) AS big_n
            FROM cnt),
    ks AS (
      SELECT lang,
             least(n, CAST(ceil(round(
               big_n * sqrt(CAST(n AS DOUBLE)) / z, 6)) AS BIGINT)) AS k
      FROM cnt, tot),
    m AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('mix' || CAST(doc_id AS VARCHAR))) AS rn
      FROM documents)
    SELECT 'frac20' AS part, CAST(doc_id AS BIGINT) AS doc_id, lang,
           CAST(NULL AS BIGINT) AS pos
    FROM s WHERE rn <= CEIL(n * 0.2)
    UNION ALL
    SELECT 'temp_mix' AS part, CAST(m.doc_id AS BIGINT) AS doc_id, m.lang,
           CAST(NULL AS BIGINT) AS pos
    FROM m JOIN ks ON m.lang = ks.lang WHERE m.rn <= ks.k
    UNION ALL
    SELECT 'wtd50' AS part, CAST(doc_id AS BIGINT) AS doc_id, lang,
           CAST(NULL AS BIGINT) AS pos
    FROM (
      SELECT doc_id, lang,
             round(ln((('0x' || substr(md5('wsamp' || CAST(doc_id AS VARCHAR)),
                        1, 12))::BIGINT + 1) / 281474976710656.0)
                   / CAST(n_chars AS DOUBLE), 12) AS kk
      FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
      ORDER BY kk DESC, doc_id LIMIT 50
    ) t
    UNION ALL
    SELECT 'cap8' AS part, CAST(doc_id AS BIGINT) AS doc_id, lang,
           CAST(NULL AS BIGINT) AS pos
    FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('cap' || CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS n
      FROM documents)
    WHERE rn <= 8 OR n <= 8
    UNION ALL
    SELECT 'mix100' AS part, CAST(doc_id AS BIGINT) AS doc_id, lang,
           CAST(pos AS BIGINT) AS pos
    FROM (
      SELECT doc_id, lang, source, rn AS pos,
             round(CAST(rn AS DOUBLE)
                   / (CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)), 9) AS k
      FROM (
        SELECT doc_id, lang, source,
               row_number() OVER (
                 PARTITION BY source
                 ORDER BY md5('mixorder' || CAST(doc_id AS VARCHAR)),
                          doc_id) AS rn,
               count(*) OVER (PARTITION BY source) AS n,
               count(*) OVER () AS tot
        FROM documents WHERE source IS NOT NULL)
      ORDER BY k, source, doc_id LIMIT 100)
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sampling family as one tagged union:

    - ``frac20``: exact 20% per-language sample, chosen by md5-hash
      order — deterministic and engine-independent
      (operators/sampling.py::stratified_sample_exact). One window
      shuffle; the approximate no-shuffle twin is sampleBy.
    - ``temp_mix``: α-temperature domain mixing (α=0.5, target =
      corpus size): per-language quota ∝ √n_lang — the standard
      pretraining mixture flattening (GPT-3 weights / Pile epochs /
      mBERT smoothing), small languages over-represented relative to
      raw share. Quotas from a tiny counts agg, attached as a literal
      map (no join), same single window exchange
      (operators/sampling.py::temperature_mixture); the oracle
      recomputes the quota arithmetic in SQL with the shared
      round-before-ceil convention.
    - ``wtd50`` (round 8): weighted sampling WITHOUT replacement
      (Efraimidis & Spirakis 2006) — top-50 by u^(1/w) with w =
      n_chars and u content-derived from md5 (exact (h48+1)/2^48
      double); ranked as ln(u)/w rounded to 12 decimals (the
      round-before-compare convention absorbing cross-engine libm ulp
      drift), doc_id tie-break. Plans as TakeOrderedAndProject — never
      a global sort (operators/sampling.py::weighted_sample).
    - ``cap8`` (round 8): per-source quota capping — keep at most 8
      docs per source, md5-priority ranked (RefinedWeb/Dolma-style
      head-domain downsampling). Runs the two-phase tail-skipping plan
      (operators/sampling.py::cap_per_group): under-cap groups bypass
      the window via a null-safe anti join against the over-cap group
      list; only the hot head is ranked. The oracle is the equivalent
      single-window form (equality pinned by test_sampling.py).
    - ``mix100`` (round 8): stride-scheduled mixture ordering
      (operators/sampling.py::mixture_order — Waldspurger-style stride
      scheduling for training-order construction): the i-th doc of
      source s gets key i/w_s, so every PREFIX of the key order holds
      each source at its mixture weight. Here weights ∝ source counts
      (w_s = n_s/n, one division — bit-reproducible by the oracle) and
      the limb hashes the first-100 interleave prefix with each row's
      per-source position. One window exchange + broadcast weight map;
      the prefix-ratio property and float-weight path are pinned in
      test_sampling.py."""
    from .operators.sampling import (
        cap_per_group,
        mixture_order,
        stratified_sample_exact,
        temperature_mixture,
        weighted_sample,
    )

    d = _t(spark, sf_dir, "documents")
    nul = F.lit(None).cast("long").alias("pos")
    frac = stratified_sample_exact(d, "lang", 0.2, "doc_id").select(
        F.lit("frac20").alias("part"),
        F.col("doc_id").cast("long").alias("doc_id"), "lang", nul,
    )
    mix = temperature_mixture(d, "lang", alpha=0.5, key_col="doc_id").select(
        F.lit("temp_mix").alias("part"),
        F.col("doc_id").cast("long").alias("doc_id"), "lang", nul,
    )
    wtd = weighted_sample(d, "n_chars", 50, "doc_id").select(
        F.lit("wtd50").alias("part"),
        F.col("doc_id").cast("long").alias("doc_id"), "lang", nul,
    )
    cap = cap_per_group(d, "source", 8, "doc_id").select(
        F.lit("cap8").alias("part"),
        F.col("doc_id").cast("long").alias("doc_id"), "lang", nul,
    )
    mord = (
        mixture_order(d, "source", weights=None, key_col="doc_id")
        .orderBy(F.col("mix_key").asc(), F.col("source").asc(),
                 F.col("doc_id").asc())
        .limit(100)
        .select(
            F.lit("mix100").alias("part"),
            F.col("doc_id").cast("long").alias("doc_id"), "lang",
            F.col("mix_pos").alias("pos"),
        )
    )
    return (
        frac.unionByName(mix).unionByName(wtd).unionByName(cap)
        .unionByName(mord)
    )


@query(
    "quality_filter",
    r"""
    WITH t AS (
      SELECT doc_id,
             round(
               least(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) / 20.0,
                     1.0) * 0.4
               + (CASE WHEN len(string_split_regex(trim(text), '\s+')) > 0
                        AND CAST(length(text) AS DOUBLE)
                            / len(string_split_regex(trim(text), '\s+')) >= 3.0
                        AND CAST(length(text) AS DOUBLE)
                            / len(string_split_regex(trim(text), '\s+')) <= 12.0
                       THEN 1.0 ELSE 0.5 END) * 0.3
               + (1.0 - least(
                    (CASE WHEN length(text) > 0
                          THEN CAST(length(text)
                                    - length(regexp_replace(text, '[^\w\s]', '', 'g'))
                                    AS DOUBLE) / length(text)
                          ELSE 0.0 END) * 4.0, 1.0)) * 0.3,
             6) AS quality
      FROM documents
    ),
    thr AS (SELECT round(quantile_cont(quality, 0.1), 6) AS thr FROM t),
    model AS (
      SELECT (SELECT w FROM read_parquet('{qc}') WHERE bucket = -1) AS bias,
             (SELECT list(w ORDER BY bucket) FROM read_parquet('{qc}')
              WHERE bucket >= 0) AS ws
    ),
    ft AS (
      SELECT doc_id, tk, list_concat(tk,
               list_transform(range(1, greatest(len(tk) - 1, 0) + 1),
                              i -> array_to_string(list_slice(tk, i, i + 1), ' '))
             ) AS grams
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(trim(lower(text)), '\s+'),
                               x -> x <> '') AS tk
            FROM documents)
    ),
    sc AS (
      -- bit-exact twin of quality_score_rows: same left fold, bias
      -- seed, per-element w[bucket]/n division, gram order (unigrams
      -- then bigrams), 6-dp round; zero-gram docs -> NULL
      SELECT ft.doc_id,
             CASE WHEN len(grams) = 0 THEN NULL
                  ELSE round(1.0 / (1.0 + exp(-(
                    list_reduce(
                      list_prepend(model.bias,
                        list_transform(grams,
                          g -> model.ws[(('0x' || substr(md5(g), 1, 8))::BIGINT % 256) + 1]
                               / CAST(len(grams) AS DOUBLE))),
                      (acc, v) -> acc + v)))), 6)
             END AS ft_en
      FROM ft, model
    ),
    dg AS (
      SELECT doc_id, lang, unnest(
        CASE WHEN length(t2) = 0 THEN []
             WHEN length(t2) < 3 THEN [t2]
             ELSE list_transform(range(1, length(t2) - 1),
                                 i -> substr(t2, i, 3))
        END) AS gram
      FROM (SELECT doc_id, lang, lower(text) AS t2 FROM documents)
    ),
    fitc AS (SELECT lang, gram, count(*) AS c FROM dg
             WHERE lang IS NOT NULL GROUP BY 1, 2),
    prof AS (
      SELECT lang, gram, pr FROM (
        SELECT lang, gram,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY c DESC, gram ASC) - 1 AS pr
        FROM fitc) WHERE pr < 64
    ),
    docc AS (SELECT doc_id, gram, count(*) AS c FROM dg GROUP BY 1, 2),
    docp AS (
      SELECT doc_id, gram, dr FROM (
        SELECT doc_id, gram,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY c DESC, gram ASC) - 1 AS dr
        FROM docc) WHERE dr < 64
    ),
    ctlangs AS (SELECT DISTINCT lang FROM fitc),
    ctdist AS (
      SELECT dp.doc_id, l.lang,
             sum(CASE WHEN p.pr IS NULL THEN 64
                      ELSE abs(dp.dr - p.pr) END) AS d
      FROM docp dp CROSS JOIN ctlangs l
      LEFT JOIN prof p ON p.lang = l.lang AND p.gram = dp.gram
      GROUP BY 1, 2
    ),
    ctbest AS (
      SELECT doc_id, lang AS ct_pred, CAST(d AS BIGINT) AS ct_dist FROM (
        SELECT doc_id, lang, d,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY d ASC, lang ASC) AS rn
        FROM ctdist) WHERE rn = 1
    )
    SELECT t.doc_id, t.quality,
           CASE WHEN length(d.text) > 0 THEN round(
             -list_sum(list_transform(
                list_sort(list_distinct(string_split(d.text, ''))),
                ch -> (CAST(len(list_filter(string_split(d.text, ''),
                                            x -> x = ch)) AS DOUBLE)
                       / len(string_split(d.text, '')))
                      * log2(CAST(len(list_filter(string_split(d.text, ''),
                                                  x -> x = ch)) AS DOUBLE)
                             / len(string_split(d.text, '')))
             )), 6) ELSE 0.0 END AS h_char,
           1 AS n_email, 1 AS n_ip, 1 AS n_phone,
           'HTTPS://Sub.Example.com:8080/Path/x?utm_source=news&ref='
             || d.doc_id || '#frag' AS first_url,
           'sub.example.com' AS url_host,
           'https://sub.example.com:8080/Path/x?ref=' || d.doc_id AS norm_url,
           'Contact <EMAIL> via HTTPS://Sub.Example.com:8080/Path/x'
             || '?utm_source=news&ref=' || d.doc_id
             || '#frag at <IP> or call <PHONE> :: '
             || substr(d.text, 1, 48) AS scrubbed,
           sc.ft_en, ctbest.ct_pred, ctbest.ct_dist
    FROM t JOIN documents d ON t.doc_id = d.doc_id
           JOIN sc ON t.doc_id = sc.doc_id
           LEFT JOIN ctbest ON t.doc_id = ctbest.doc_id, thr
    WHERE t.quality >= thr.thr
    """.replace("{qc}", _model_parquet_path("qc_weights")),
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality gate + the PII/URL curation surface, one row per
    surviving document.

    Quality half: keep documents at or above the exact global 10th
    percentile of the quality score. Exact percentile via one agg,
    threshold broadcast as a 1-row cross join — no second scan, no
    driver round-trip. Score and threshold are both rounded to 6
    decimals BEFORE comparison so the boundary set is bit-identical
    across engines (raw doubles can differ in the last ulp).

    PII/URL half: the synthetic corpus contains no PII or URLs, so the
    query PLANTS deterministic positives — a per-row derived string
    carrying one email, one mixed-case tracking URL, one IPv4, one
    NANP phone, and 48 chars of real document text as the
    false-positive guard — and runs the full curation surface over it:
    ``pii_counts``, ``scrub_pii`` (email → ip → phone order, with the
    lookaround-guarded phone pattern), ``extract_urls``, ``url_host``,
    and ``normalize_url`` (case-fold, fragment/utm strip). The oracle
    cannot replay Java-regex lookarounds in RE2, so it CONSTRUCTS the
    expected outputs from the known layout instead — every redaction
    span, the canonical URL, and the untouched filler are all
    driver-hashed.

    Classifier limb (round 7): ``ft_en`` — the fastText-style trained
    quality/source classifier (operators/quality_classifier.py, Joulin
    et al. 2016) scored over every surviving document. The model is
    trained HERE (full-batch logistic GD, one Spark job per epoch,
    DECIMAL-exact gradients so training is partition-independent),
    materialized to the qc_weights model parquet, and the DuckDB twin
    re-derives every score from that parquet with the identical
    left-fold order (bias seed, per-gram w[bucket]/n division, unigram
    then bigram order) — bit-exact z both engines, 6-dp rounded.
    Zero-gram documents score NULL on both sides."""
    from .functions.text import (
        char_entropy, extract_urls, normalize_url, pii_counts, quality_score,
        scrub_pii, url_host,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        # staged split array for char_entropy — without this the split
        # re-inlines once per distinct character (SCALE.md pitfall)
        "__cs", F.split(F.col("text"), "")
    )
    did = F.col("doc_id").cast("string")
    aug = F.concat(
        F.lit("Contact user"), did,
        F.lit("@Example.COM via HTTPS://Sub.Example.com:8080/Path/x"
              "?utm_source=news&ref="), did,
        F.lit("#frag at 10."), (F.col("doc_id") % 200).cast("string"),
        F.lit(".0."), (F.col("doc_id") % 250).cast("string"),
        F.lit(" or call 555-123-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" :: "), F.substring("text", 1, 48),
    )
    first_url = F.element_at(extract_urls(aug), 1)
    counts = pii_counts(aug)
    q = d.select(
        "doc_id",
        F.round(quality_score("text"), 6).alias("quality"),
        # round-8 column: Shannon char entropy (bits/char) — the
        # gibberish/encoded-blob signal; sorted-distinct fold order is
        # engine-identical and the 6-dp rounding absorbs log2 ulp drift
        char_entropy("text", chars=F.col("__cs")).alias("h_char"),
        counts.getField("emails").alias("n_email"),
        counts.getField("ipv4s").alias("n_ip"),
        counts.getField("phones").alias("n_phone"),
        first_url.alias("first_url"),
        url_host(first_url).alias("url_host"),
        normalize_url(first_url).alias("norm_url"),
        scrub_pii(aug).alias("scrubbed"),
    )
    # classifier limb (round 7): the fastText-style en-vs-rest model —
    # trained fresh here (deterministic + partition-independent, so the
    # oracle-ordering guard regenerates byte-identical weights) and
    # materialized for the DuckDB twin, which re-derives every score
    # from the parquet with the same left-fold order (bit-exact z).
    from .operators.quality_classifier import quality_score_rows

    w, bias = _train_and_write_qc(spark, sf_dir)
    scored = quality_score_rows(
        d.select("doc_id", "text"), w, bias
    ).select("doc_id", F.col("q_score").alias("ft_en"))

    # Cavnar-Trenkle langid limb (round 8): fit per-language rank
    # profiles on the labeled corpus (one staged explode + agg +
    # bounded rank window; the model is |langs|*64 entries — KBs on
    # the driver), then score every row with the inverted
    # union-profile scorer (operators/langid.py). The oracle
    # recomputes fit AND scoring relationally (count + row_number
    # windows, one out-of-place join), so the driver hash pins the
    # whole fit->score duality, not just the scorer.
    from .operators.langid import langid_fit, langid_score_rows

    profiles = langid_fit(d, top_k=64)
    ct = langid_score_rows(
        d.select("doc_id", "text"), profiles, top_k=64
    ).select(
        "doc_id",
        F.col("lang_pred").alias("ct_pred"),
        F.col("lang_dist").alias("ct_dist"),
    )

    thr = q.agg(F.round(F.percentile("quality", F.lit(0.1)), 6).alias("thr"))
    return (
        q.crossJoin(F.broadcast(thr))
        .filter(F.col("quality") >= F.col("thr"))
        .drop("thr")
        .join(scored, "doc_id")
        .join(ct, "doc_id")
    )


@query(
    "pack_sequences",
    r"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
      FROM documents
    ),
    st AS (
      SELECT doc_id, lang, tk, unnest(range(0, len(tk), 24)) AS tok_start
      FROM toks WHERE len(tk) > 0
    ),
    ch AS (
      SELECT doc_id, lang,
             CAST(tok_start // 24 AS BIGINT) AS window_id,
             CAST(tok_start AS BIGINT) AS tok_start,
             CAST(least(tok_start + 32, len(tk)) AS BIGINT) AS tok_end,
             CAST(least(32, len(tk) - tok_start) AS BIGINT) AS n_chunk_tokens,
             md5(array_to_string(
               list_slice(tk, tok_start + 1, least(tok_start + 32, len(tk))),
               ' ')) AS chunk_md5
      FROM st
    ),
    cn AS (
      SELECT doc_id, lang, tk, len(tk) AS n FROM toks WHERE len(tk) > 0
    ),
    cstarts AS (
      SELECT doc_id, lang, tk, n,
             list_sort(list_filter(range(1, n + 1),
               p -> ('0x' || substr(md5(tk[p]), 1, 8))::BIGINT % 4 = 0)) AS cc
      FROM cn
    ),
    cbounds AS (
      SELECT *, list_sort(list_distinct([0] || cc || [n])) AS b0
      FROM cstarts
    ),
    cstart2 AS (
      SELECT doc_id, lang, tk, n,
             list_sort(list_distinct(
               [0]
               || list_filter(cc, p -> p < n)
               || flatten(list_transform(range(1, len(b0)),
                    i -> range(b0[i] + 16, b0[i + 1], 16)))
             )) AS starts
      FROM cbounds
    ),
    cdc AS (
      SELECT doc_id, lang, tk, starts, starts || [n] AS bounds,
             unnest(range(0, len(starts))) AS i
      FROM cstart2
    ),
    bf AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 7 = 0 THEN 120
                  WHEN doc_id % 7 IN (1, 2, 3) THEN 60
                  ELSE 40 END AS n_tok
      FROM documents
    ),
    bfr AS (
      SELECT doc_id, lang, n_tok,
             row_number() OVER (PARTITION BY lang, n_tok
                                ORDER BY doc_id) - 1 AS r
      FROM bf
    ),
    bfc AS (
      SELECT lang,
             count(*) FILTER (WHERE n_tok = 120) AS c120,
             count(*) FILTER (WHERE n_tok = 60) AS c60,
             count(*) FILTER (WHERE n_tok = 40) AS c40
      FROM bf GROUP BY lang
    ),
    sraw AS (
      SELECT doc_id, lang,
             list_filter(list_transform(
               string_split(
                 regexp_replace(
                   regexp_replace(text,
                     '([A-Za-z0-9]{2}[.!?]+["'')\]]*)[ \t\n\r\f]+([A-Z0-9])',
                     '\1' || chr(30) || '\2', 'g'),
                   '([A-Za-z0-9]{2}[.!?]+["'')\]]*)[ \t\n\r\f]+([A-Z0-9])',
                   '\1' || chr(30) || '\2', 'g'), chr(30)),
               s -> trim(s)), s -> s <> '') AS ss
      FROM documents
    ),
    sfold AS (
      SELECT doc_id, lang, ss,
             list_transform(ss,
               s -> len(list_filter(string_split_regex(s, '\s+'),
                                    x -> x <> ''))) AS ns
      FROM sraw WHERE len(ss) > 0
    ),
    sstate AS (
      SELECT doc_id, lang, ss, ns,
             list_reduce(
               list_concat([[0, 0]],
                 list_transform(range(1, len(ns) + 1), i -> [i - 1, ns[i]])),
               (a, b) -> CASE
                 WHEN a[-1] > 0 AND a[-1] + b[2] > 24
                   THEN list_slice(a, 1, len(a) - 1) || b
                 ELSE list_slice(a, 1, len(a) - 1) || [a[-1] + b[2]]
               END) AS st
      FROM sfold
    ),
    sx AS (
      SELECT doc_id, lang, ss, ns,
             list_slice(st, 1, len(st) - 1) || [len(ss)] AS bnds,
             unnest(range(1, len(st))) AS j
      FROM sstate
    )
    SELECT 'fixed' AS part, doc_id, window_id, tok_start, tok_end,
           n_chunk_tokens, chunk_md5, lang,
           CAST(floor(
             coalesce(sum(n_chunk_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id, window_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             / 256.0) AS BIGINT) AS pack_id
    FROM ch
    UNION ALL
    SELECT 'cdc', doc_id, CAST(i AS BIGINT),
           CAST(starts[i + 1] AS BIGINT),
           CAST(bounds[i + 2] AS BIGINT),
           CAST(bounds[i + 2] - starts[i + 1] AS BIGINT),
           md5(array_to_string(
             list_slice(tk, starts[i + 1] + 1, bounds[i + 2]), ' ')),
           lang, CAST(NULL AS BIGINT)
    FROM cdc
    UNION ALL
    SELECT 'bestfit', bfr.doc_id, CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(bfr.n_tok AS BIGINT),
           CAST(bfr.n_tok > 100 AS VARCHAR), bfr.lang,
           CAST(CASE
             WHEN bfr.n_tok = 120 THEN bfr.r
             WHEN bfr.n_tok = 60 THEN bfc.c120 + bfr.r
             WHEN bfr.r < least(bfc.c40, bfc.c60)
               THEN bfc.c120 + bfr.r
             ELSE bfc.c120 + bfc.c60
                  + (bfr.r - least(bfc.c40, bfc.c60)) // 2
           END AS BIGINT)
    FROM bfr JOIN bfc ON bfr.lang IS NOT DISTINCT FROM bfc.lang
    UNION ALL
    SELECT 'sent', doc_id, CAST(j - 1 AS BIGINT),
           CAST(bnds[j] AS BIGINT),
           CAST(bnds[j + 1] AS BIGINT),
           CAST(list_sum(list_slice(ns, bnds[j] + 1, bnds[j + 1])) AS BIGINT),
           md5(array_to_string(list_slice(ss, bnds[j] + 1, bnds[j + 1]), ' ')),
           lang, CAST(NULL AS BIGINT)
    FROM sx
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunk/pack preprocessing family as one tagged union (round 8
    added the ``cdc`` and ``bestfit`` parts so every chunker/packer is
    driver-hashed with the registry still at 50):

    - ``fixed``: the composition a training pipeline actually runs —
      ``chunk_documents`` (32-token windows, stride 24, overlapping)
      then ``pack_chunks`` assigning each window to a per-language pack
      by exclusive running token total / 256 (operators/sampling.py).
      Window boundaries, per-chunk text md5, and pack assignment all
      hashed. Chunking is row-local (zero shuffle); packing is the one
      per-stratum window exchange — never a global running sum.
    - ``cdc``: content-defined chunking (chunk_documents_cdc) at
      min_tokens=1, max_tokens=16, divisor=4 — the parameterization
      whose cut process is CLOSED-FORM relational (content cuts at
      every boundary-hash token, forced cuts every max_tokens between
      them), so the DuckDB twin re-derives every boundary and chunk
      md5 from the same md5-prefix hash family with no fold. The
      min_tokens>1 run-bound semantics stay pinned by the pytest
      hypothesis/resync suite.
    - ``bestfit``: non-splitting best-fit packing
      (pack_chunks_bestfit) over synthetic item lengths {40, 60, 120}
      at budget 100, strata = lang — a length mix that exercises
      oversize singletons, best-fit filling of partial packs,
      multiplicity splitting, AND fresh multi-slot packs, while the
      resulting BFD assignment has a closed arithmetic form the twin
      states directly (oversize rank-identity; 60s offset by the
      oversize count; 40s pair into 60-pack remainders then fill
      2-slot packs). ``chunk_md5`` carries the oversize flag.
    - ``sent`` (round 8): sentence-bounded greedy chunking
      (chunk_documents_sentences at max_tokens=24): sentences from the
      cross-engine boundary regex (functions/text.py::sentences) fill
      chunks greedily, never splitting mid-sentence; the DuckDB twin
      replays the greedy fold with list_reduce over the identical
      [starts..., run] integer state. Boundary/oversize/Python-mirror
      tests in test_sampling.py."""
    from .operators.sampling import (
        chunk_documents,
        chunk_documents_cdc,
        chunk_documents_sentences,
        pack_chunks,
        pack_chunks_bestfit,
    )

    d = _t(spark, sf_dir, "documents")
    chunks = (
        chunk_documents(d, text_col="text", id_col="doc_id",
                        chunk_tokens=32, stride=24, carry_cols=("lang",))
        .withColumnRenamed("chunk_id", "window_id")
        .withColumn("chunk_md5", F.md5("chunk_text"))
        .drop("chunk_text")
    )
    packed = pack_chunks(
        chunks, "n_chunk_tokens", 256, "lang", ["doc_id", "window_id"]
    ).withColumnRenamed("chunk_id", "pack_id")
    fixed = packed.select(
        F.lit("fixed").alias("part"),
        "doc_id", "window_id", "tok_start", "tok_end", "n_chunk_tokens",
        "chunk_md5", "lang", "pack_id",
    )
    cdc = chunk_documents_cdc(
        d, text_col="text", id_col="doc_id",
        min_tokens=1, max_tokens=16, divisor=4, carry_cols=("lang",),
    ).select(
        F.lit("cdc").alias("part"),
        "doc_id",
        F.col("chunk_id").alias("window_id"),
        "tok_start", "tok_end", "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
        "lang",
        F.lit(None).cast("long").alias("pack_id"),
    )
    items = d.select(
        "doc_id", "lang",
        F.when(F.col("doc_id") % 7 == 0, 120)
        .when((F.col("doc_id") % 7).isin(1, 2, 3), 60)
        .otherwise(40).cast("long").alias("n_tok"),
    )
    bf = pack_chunks_bestfit(items, "n_tok", 100, "lang", "doc_id").select(
        F.lit("bestfit").alias("part"),
        "doc_id",
        F.lit(None).cast("long").alias("window_id"),
        F.lit(None).cast("long").alias("tok_start"),
        F.lit(None).cast("long").alias("tok_end"),
        F.col("n_tok").alias("n_chunk_tokens"),
        F.col("oversize").cast("string").alias("chunk_md5"),
        "lang",
        "pack_id",
    )
    sent = chunk_documents_sentences(
        d, text_col="text", id_col="doc_id", max_tokens=24,
        carry_cols=("lang",),
    ).select(
        F.lit("sent").alias("part"),
        "doc_id",
        F.col("chunk_id").alias("window_id"),
        F.col("sent_start").alias("tok_start"),
        F.col("sent_end").alias("tok_end"),
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
        "lang",
        F.lit(None).cast("long").alias("pack_id"),
    )
    return fixed.unionByName(cdc).unionByName(bf).unionByName(sent)


@query(
    "dsir_select",
    r"""
    WITH tk AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         t -> t <> '') AS tk
      FROM documents
    ),
    grams AS (
      SELECT doc_id, source,
             unnest(list_concat(
               tk,
               list_transform(range(1, greatest(len(tk) - 1, 0) + 1),
                              i -> array_to_string(list_slice(tk, i, i + 1),
                                                   ' '))
             )) AS gram
      FROM tk
    ),
    feat AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(gram), 1, 8))::BIGINT % 4096 AS bucket,
             count(*) AS c
      FROM grams GROUP BY 1, 2, 3
    ),
    tgt AS (SELECT bucket, sum(c) AS ct FROM feat
            WHERE source = 'src0' GROUP BY 1),
    rawt AS (SELECT bucket, sum(c) AS cr FROM feat
             WHERE source <> 'src0' GROUP BY 1),
    tots AS (SELECT (SELECT coalesce(sum(ct), 0) FROM tgt) AS t_tot,
                    (SELECT coalesce(sum(cr), 0) FROM rawt) AS r_tot),
    lam AS (
      SELECT coalesce(tgt.bucket, rawt.bucket) AS bucket,
             ln((coalesce(ct, 0) + 1.0) / (t_tot + 4096.0))
             - ln((coalesce(cr, 0) + 1.0) / (r_tot + 4096.0)) AS lam
      FROM tgt FULL OUTER JOIN rawt ON tgt.bucket = rawt.bucket, tots
    ),
    sc AS (
      SELECT f.doc_id,
             CAST(sum(f.c) AS BIGINT) AS n_grams,
             round(sum(f.c * lam.lam), 6) AS logw
      FROM feat f JOIN lam ON f.bucket = lam.bucket
      WHERE f.source <> 'src0'
      GROUP BY 1
    ),
    gk AS (
      SELECT doc_id, n_grams, logw,
             round(-ln(-ln(
               (('0x' || substr(md5('dsir' || CAST(doc_id AS VARCHAR)), 1, 8))
                  ::BIGINT + 0.5) / 4294967296.0)), 6) AS g
      FROM sc
    ),
    ranked AS (
      SELECT doc_id, n_grams, logw, g, round(logw + g, 6) AS score,
             row_number() OVER (ORDER BY round(logw + g, 6) DESC,
                                doc_id ASC) AS rnk
      FROM gk
    ),
    lam6 AS (
      SELECT bucket, round(lam, 6) AS lam6,
             row_number() OVER (ORDER BY round(lam, 6) DESC,
                                bucket ASC) AS rnk
      FROM lam
    )
    SELECT 'selected' AS part, CAST(doc_id AS BIGINT) AS id,
           CAST(rnk AS BIGINT) AS rnk, n_grams AS n,
           logw AS v1, g AS v2, score AS v3
    FROM ranked WHERE rnk <= 100
    UNION ALL
    SELECT 'bucket', CAST(bucket AS BIGINT), CAST(rnk AS BIGINT),
           CAST(NULL AS BIGINT), lam6, CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE)
    FROM lam6 WHERE rnk <= 10
    """,
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, arXiv:2302.03169; operators/dsir.py): select the k=100 raw
    documents most target-like under a hashed-ngram (uni+bigram,
    B=4096 md5 buckets) importance model, Gumbel top-k without
    replacement with content-derived (md5) noise. Target corpus =
    ``source = 'src0'``, raw corpus = every other source (both
    predicates drop NULL sources identically in both engines).

    Two parts, both fully recomputed by the oracle (the model is pure
    count arithmetic — nothing rides in as data):

    - ``selected``: the k chosen documents with rank, gram count,
      logw = Σ c·λ (6 dp), the deterministic Gumbel draw, and the
      ranking score. Ranking compares ROUNDED scores with a doc-id
      tiebreak so a 1-ulp ln() divergence cannot flip an order.
    - ``bucket``: the 10 most target-indicative feature buckets by
      rounded λ — model visibility, so a smoothing or hashing drift
      fails the hash even if the selection happens to survive it.

    Scale shape (module docstring has the full inventory): row-local
    feature explode, one (id, bucket) corpus shuffle, B-row λ table
    broadcast back, TakeOrdered selection — never a global sort, never
    a second corpus pass."""
    from .operators.dsir import dsir_select

    d = _t(spark, sf_dir, "documents")
    raw = d.where(F.col("source") != "src0")
    tgt = d.where(F.col("source") == "src0")
    selected, lam = dsir_select(raw, tgt, k=100, n_buckets=4096)
    sel_rows = selected.select(
        F.lit("selected").alias("part"),
        F.col("doc_id").cast("long").alias("id"),
        F.col("rank").alias("rnk"),
        F.col("n_grams").alias("n"),
        F.col("logw").alias("v1"),
        F.col("g").alias("v2"),
        F.col("score").alias("v3"),
    )
    lam6 = lam.select("bucket", F.round("lam", 6).alias("lam6"))
    w = W.orderBy(F.col("lam6").desc(), F.col("bucket").asc())
    bucket_rows = (
        lam6.orderBy(F.col("lam6").desc(), F.col("bucket").asc())
        .limit(10)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .select(
            F.lit("bucket").alias("part"),
            F.col("bucket").cast("long").alias("id"),
            "rnk",
            F.lit(None).cast("long").alias("n"),
            F.col("lam6").alias("v1"),
            F.lit(None).cast("double").alias("v2"),
            F.lit(None).cast("double").alias("v3"),
        )
    )
    return sel_rows.unionByName(bucket_rows)


def dsir_xxh_limb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stats_suite ``dsir_xxh`` limb — driver-visible coverage for
    the DSIR PRODUCTION fast path (VERDICT r13 item 3): runs the
    pipeline with ``hasher="xxhash64"`` — the hash family users
    actually run at 100 TB (pmod(xxhash64) native codegen, measured
    −29% on the feature pass vs the registry's md5) — and emits
    (which='dsir_xxh', grp='all', stat, sval, nval) rows for the
    invariants DuckDB can verify WITHOUT replaying xxhash64
    (lives in stats_suite because the registry window is exactly 50
    entries and dsir_select's headline bench row must keep measuring
    the md5 oracle contract alone):

    - ``n_selected`` / ``n_scored``: selection size and scored-doc
      count. Family-INDEPENDENT: a doc is scored iff it has ≥1 gram,
      regardless of which buckets its grams land in.
    - ``gram_mass``: Σ n_grams over every scored doc. The oracle
      recomputes it from the text (a doc with t≥1 tokens has 2t−1
      uni+bigrams); equality proves the xxhash64 feature pass counts
      every gram exactly once — a bucketing bug that drops or
      duplicates grams fails this even though the oracle never sees a
      bucket id.
    - ``lam_ok``: the fitted λ table respects its structure — ≤B rows,
      buckets in [0,B), no NaN λ.
    - ``agreement_ok``: the xxhash64-space selection overlaps the
      md5-space selection (same data, same k, same Gumbel noise — the
      noise is md5-of-doc-id in BOTH families) on ≥ k/2 documents.
      Measured 97-98/100 at sf0.001/sf0.01: the two feature spaces
      differ only by collision placement, so the importance ranking —
      and hence the selection — is essentially family-stable; < 50%
      overlap would mean the fast path computed a different MODEL,
      not a different hash.

    The registry's ``dsir_select`` row keeps md5 (the oracle replays
    its exact bucketing — that contract stands); THIS row is the one
    that exercises the xxhash64 code path driver-visibly every round.
    Same public functions dsir_select chains, kept apart so the
    scores frame stays visible for the invariants.

    Cost, stated plainly (SCALE.md "stats_suite sf1 limb
    adjudication"): the agreement invariant inherently needs BOTH
    hash families, so this limb runs two full corpus tokenize passes
    at build time — it roughly doubles the stats_suite BUILD
    (measured +15.9 s at sf1). Acceptable because stats_suite is a
    correctness-tier suite, not a headline bench row, and the
    driver's sf0.01 build is subsecond."""
    from .operators.dsir import (
        dsir_logratio_shared,
        dsir_resample,
        dsir_scores,
        dsir_select,
        doc_bucket_counts,
    )

    d = _t(spark, sf_dir, "documents")
    raw = d.where(F.col("source") != "src0")
    tgt = d.where(F.col("source") == "src0")
    k = 100
    n_buckets = 4096
    # same composition as the shipped dsir_select (round-14
    # continuation: one-plan shared-exchange fit + input spread —
    # fit and scoring share the per-doc aggregate via stage reuse,
    # window-sum totals, nothing eager; OPTIMIZATION_r14.md "dsir
    # one-plan shared-exchange fit"), in the PRODUCTION hash family.
    # The per-doc scores stay eagerly checkpointed: unlike the
    # shipped row (one consumer chain), FIVE invariant aggregates
    # below read them, and this is a correctness-tier limb, not a
    # bench row.
    raw_s = spread_for_cpu(raw)
    raw_feats = doc_bucket_counts(
        raw_s, "text", "doc_id", n_buckets, hasher="xxhash64"
    )
    # λ checkpointed here (≤B rows) because this limb, unlike the
    # shipped row, consumes it across TWO actions (the scores
    # checkpoint and the lam_ok invariant) — stage reuse never spans
    # actions, so without the pin lam_ok would re-pay a corpus pass
    lam = dsir_logratio_shared(
        raw_feats, spread_for_cpu(tgt), "text", n_buckets, 1.0,
        hasher="xxhash64",
    ).localCheckpoint(eager=True)
    scores = dsir_scores(raw_feats, lam, "doc_id").localCheckpoint(
        eager=True
    )
    sel = dsir_resample(scores, k, "doc_id")
    sel_md5, _ = dsir_select(raw, tgt, k=k, n_buckets=n_buckets,
                             hasher="md5")

    def m(name: str, agg_df: DataFrame) -> DataFrame:
        return agg_df.select(
            F.lit("dsir_xxh").alias("which"),
            F.lit("all").alias("grp"),
            F.lit(name).alias("stat"),
            F.lit(None).cast("string").alias("sval"),
            F.col("val").cast("double").alias("nval"),
        )

    n_selected = m("n_selected", sel.agg(F.count(F.lit(1)).alias("val")))
    n_scored = m("n_scored", scores.agg(F.count(F.lit(1)).alias("val")))
    gram_mass = m("gram_mass", scores.agg(F.sum("n_grams").alias("val")))
    lam_ok = m("lam_ok", lam.agg(
        (
            (F.count(F.lit(1)) <= n_buckets)
            & (F.min("bucket") >= 0)
            & (F.max("bucket") < n_buckets)
            & (F.max(F.isnan("lam").cast("int")) == 0)
        ).cast("long").alias("val")
    ))
    agreement = m("agreement_ok", sel.select("doc_id").join(
        sel_md5.select("doc_id"), "doc_id"
    ).agg((F.count(F.lit(1)) >= k // 2).cast("long").alias("val")))
    return (
        n_selected.unionByName(n_scored).unionByName(gram_mass)
        .unionByName(lam_ok).unionByName(agreement)
    )


def _train_and_write_bpe(spark: SparkSession, sf_dir: str, num_merges: int = 24):
    """Train the BPE tokenizer (deterministic: integer pair counts,
    (count desc, a asc, b asc) argmax tiebreak — partition-independent
    by test) and materialize the model for the oracle: the trained
    word → subwords map and the merge list. The words table is
    vocabulary-sized; collecting it to the driver is the same KB-scale
    model materialization the k-means / PQ oracles do (at a web-corpus
    vocabulary you'd ``words.write.parquet`` distributed instead and
    point the twin at that table)."""
    from .operators.bpe import bpe_train

    d = _t(spark, sf_dir, "documents")
    merges, words = bpe_train(d, num_merges)
    rows = sorted(
        ((r["word"], r["n"], list(r["symbols"])) for r in words.collect())
    )
    _write_model_parquet(
        "bpe_words",
        {
            "word": [r[0] for r in rows],
            "n": [r[1] for r in rows],
            "symbols": [r[2] for r in rows],
        },
    )
    _write_model_parquet(
        "bpe_merges",
        {
            "rank": list(range(1, len(merges) + 1)),
            "a": [m[0] for m in merges],
            "b": [m[1] for m in merges],
            "cnt": [m[2] for m in merges],
        },
    )
    return merges, words


# Single source of truth for the unigram tokenizer's piece-length
# window: interpolated into the DuckDB Viterbi twin below AND passed
# explicitly to unigram_train/unigram_encode in q_bpe_subwords, so the
# engine and the oracle can never silently desync on it (ADVICE r9 —
# the twin previously hardcoded the literal 8).
_UNIGRAM_MAX_PIECE_LEN = 8


def _bpe_suite_oracle_sql() -> str:
    """Generated DuckDB twin for bpe_subwords: the trained model (the
    word → subwords map — BPE training is an iterative argmax no SQL
    engine expresses) rides in as data, exactly the k-means/PQ policy;
    the oracle then re-derives the ENTIRE encode + aggregate surface
    independently — tokenization, the vocabulary join, subword
    frequencies, per-document subword counts and fertility, and the
    corpus totals. Training itself is pinned engine-side by the exact
    differential vs a reference Python BPE (tests/test_bpe.py).

    The unigram parts replay the per-word Viterbi DP from the model
    parquet with a RECURSIVE CTE — one iteration per character
    position (bounded by the longest word), state = the per-word
    best/backpointer lists. The DP recurrence performs the IDENTICAL
    float additions (best[j] + logp) in the identical order on the
    identical model doubles as the engine's Python kernel
    (operators/unigram.py::viterbi_segment), so scores are
    bit-identical and the argmax + tie-break ('min j among argmax' ==
    'first strict max over longest-first candidates') reproduce the
    segmentation exactly — proven by the engineered-tie differential
    in tests/test_unigram.py. NOTE: a struct-accumulator list_reduce
    formulation is NOT usable here — DuckDB 1.0's list_reduce drops
    accumulated list fields inside struct accumulators."""
    words = _model_parquet_path("bpe_words")
    merges = _model_parquet_path("bpe_merges")
    upieces = _model_parquet_path("unigram_pieces")
    return rf"""
    WITH RECURSIVE tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                t -> t <> '')) AS word
      FROM documents
    ),
    enc AS (
      SELECT t.doc_id, t.word, m.symbols
      FROM tok t JOIN read_parquet('{words}') m ON t.word = m.word
    ),
    sub AS (SELECT doc_id, unnest(symbols) AS sw FROM enc),
    swc AS (
      SELECT sw, CAST(count(*) AS BIGINT) AS c FROM sub GROUP BY sw
    ),
    topsw AS (
      SELECT sw, c, row_number() OVER (ORDER BY c DESC, sw ASC) AS rnk
      FROM swc
    ),
    doc AS (
      SELECT e.doc_id,
             CAST(count(*) AS BIGINT) AS n_tok,
             CAST(sum(len(e.symbols)) AS BIGINT) AS n_sub
      FROM enc e GROUP BY e.doc_id
    ),
    uw AS (
      SELECT word, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY word
    ),
    um AS (
      SELECT map(list(piece), list(logp)) AS mp
      FROM read_parquet('{upieces}')
    ),
    udp AS (
      SELECT word, 0 AS i, [0.0]::DOUBLE[] AS best,
             [-1]::INT[] AS bj, ['']::VARCHAR[] AS bp
      FROM uw
      UNION ALL
      SELECT word, i + 1,
             best || [win.s], bj || [CAST(win.j AS INT)], bp || [win.piece]
      FROM (
        SELECT word, i, best, bj, bp,
               list_filter(scored, c -> c.s = list_aggregate(
                 list_transform(scored, x -> x.s), 'max'))[1] AS win
        FROM (
          SELECT d.word, d.i, d.best, d.bj, d.bp,
            list_transform(
              list_filter(
                list_transform(range(greatest(0, d.i + 1 - {_UNIGRAM_MAX_PIECE_LEN}), d.i + 1),
                  j -> struct_pack(
                    j := j,
                    piece := substr(d.word, CAST(j + 1 AS INT),
                                    CAST(d.i + 1 - j AS INT)),
                    lp := CASE
                      WHEN len(um.mp[substr(d.word, CAST(j + 1 AS INT),
                                            CAST(d.i + 1 - j AS INT))]) > 0
                        THEN um.mp[substr(d.word, CAST(j + 1 AS INT),
                                          CAST(d.i + 1 - j AS INT))][1]
                      WHEN d.i + 1 - j = 1 THEN -100.0
                      ELSE NULL END)),
                c -> c.lp IS NOT NULL),
              c -> struct_pack(j := c.j, piece := c.piece,
                               s := d.best[CAST(c.j + 1 AS INT)] + c.lp)
            ) AS scored
          FROM udp d, um WHERE d.i < len(d.word)
        )
      )
    ),
    ufin AS (SELECT word, bj, bp FROM udp WHERE i = len(word)),
    ubt AS (
      SELECT word, len(word) AS pos, []::VARCHAR[] AS ps, bj, bp FROM ufin
      UNION ALL
      SELECT word, bj[pos + 1], list_prepend(bp[pos + 1], ps), bj, bp
      FROM ubt WHERE pos > 0
    ),
    useg AS (SELECT word, ps FROM ubt WHERE pos = 0)
    SELECT 'merge' AS part, CAST(NULL AS BIGINT) AS id, a || b AS k,
           CAST(rank AS BIGINT) AS rnk, CAST(cnt AS BIGINT) AS n,
           CAST(NULL AS DOUBLE) AS v
    FROM read_parquet('{merges}')
    UNION ALL
    SELECT 'subword', NULL, sw, rnk, c, CAST(NULL AS DOUBLE)
    FROM topsw WHERE rnk <= 50
    UNION ALL
    SELECT 'doc', doc_id, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
           n_sub, round(CAST(n_sub AS DOUBLE) / n_tok, 6)
    FROM doc
    UNION ALL
    SELECT 'vocab', NULL, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
           (SELECT count(*) FROM swc),
           (SELECT CAST(sum(c) AS DOUBLE) FROM swc)
    UNION ALL
    SELECT 'upiece', NULL, piece, CAST(rnk AS BIGINT), CAST(NULL AS BIGINT),
           round(logp, 9)
    FROM read_parquet('{upieces}')
    UNION ALL
    SELECT 'uword', NULL,
           s.word || '|' || array_to_string(s.ps, ' '),
           CAST(len(s.ps) AS BIGINT), uw.n,
           CASE WHEN len(list_filter(s.ps, p -> len(um.mp[p]) = 0)) = 0
                THEN 1.0 ELSE 0.0 END
    FROM useg s JOIN uw USING (word), um
    """


@query("bpe_subwords", _bpe_suite_oracle_sql())
def q_bpe_subwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training + corpus encoding (Sennrich
    et al. 2016; operators/bpe.py): 24 merges learned over the
    word-frequency table (training never re-touches the corpus — one
    corpus pass aggregates to distinct words, every merge round runs
    on that vocabulary-sized table with ONE ROW of driver traffic),
    then the corpus encoded by a broadcast join against the trained
    word → subwords map. Four driver-hashed parts:

    - ``merge``: the learned merge list in rank order (rides in as
      data — training is an iterative argmax no SQL engine expresses;
      the exact differential vs a reference Python BPE in
      tests/test_bpe.py pins it engine-side, the k-means/PQ policy);
    - ``subword``: top-50 corpus subwords by encoded frequency —
      re-derived by the oracle from documents + the model;
    - ``doc``: per-document subword count and fertility
      (subwords/token, 6 dp) — the encode path end-to-end;
    - ``vocab``: distinct subword types + total subword tokens.

    Integer counts everywhere; the one float (fertility) is a ratio of
    integers rounded at 6 dp — no sum-order sensitivity anywhere.

    Round 9 adds the UNIGRAM-LM tokenizer (Kudo 2018;
    operators/unigram.py) as two more parts — the last operator family
    that was pytest-only:

    - ``upiece``: the trained piece model (piece, rank, logp@9dp) —
      rides in as data like ``merge`` (Viterbi-EM training is
      iterative; pinned engine-side by test_unigram.py's exact
      differential + partition-independence + monotone-likelihood
      pins);
    - ``uword``: every DISTINCT corpus word Viterbi-encoded under that
      model — word, its segmentation (space-joined; pieces are
      whitespace-free so the join is unambiguous), piece count, corpus
      frequency, and the in-vocab flag. The DuckDB twin REPLAYS the
      per-word Viterbi DP from the model parquet with a bounded
      recursive CTE (one iteration per character position): identical
      float additions in identical order on identical model doubles →
      bit-identical argmax and tie-breaks (ties prefer the longer
      piece — the 'first strict max over longest-first candidates'
      rule is replayed as 'min j among argmax', the same thing).
    """
    from .operators.bpe import bpe_encode
    from .operators.unigram import unigram_encode, unigram_train

    merges, words = _train_and_write_bpe(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    enc = bpe_encode(d, words)

    merge_rows = spark.createDataFrame(
        [(i + 1, a + b, cnt) for i, (a, b, cnt) in enumerate(merges)],
        "rnk bigint, k string, n bigint",
    ).select(
        F.lit("merge").alias("part"), F.lit(None).cast("long").alias("id"),
        "k", "rnk", "n", F.lit(None).cast("double").alias("v"),
    )

    swc = (
        enc.select(F.explode("subwords").alias("sw"))
        .groupBy("sw")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = W.orderBy(F.col("c").desc(), F.col("sw").asc())
    sw_rows = (
        swc.orderBy(F.col("c").desc(), F.col("sw").asc()).limit(50)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .select(
            F.lit("subword").alias("part"), F.lit(None).cast("long").alias("id"),
            F.col("sw").alias("k"), "rnk", F.col("c").alias("n"),
            F.lit(None).cast("double").alias("v"),
        )
    )

    doc_rows = (
        enc.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("n_subwords").alias("n_sub"),
        )
        .select(
            F.lit("doc").alias("part"), F.col("doc_id").cast("long").alias("id"),
            F.lit(None).cast("string").alias("k"),
            F.lit(None).cast("long").alias("rnk"),
            F.col("n_sub").cast("long").alias("n"),
            F.round(F.col("n_sub") / F.col("n_tok"), 6).alias("v"),
        )
    )

    vocab_rows = swc.agg(
        F.count(F.lit(1)).alias("types"), F.sum("c").cast("double").alias("total")
    ).select(
        F.lit("vocab").alias("part"), F.lit(None).cast("long").alias("id"),
        F.lit(None).cast("string").alias("k"),
        F.lit(None).cast("long").alias("rnk"),
        F.col("types").cast("long").alias("n"), F.col("total").alias("v"),
    )

    umodel = unigram_train(
        d, vocab_size=240, em_rounds=2, seed_size=2000,
        max_piece_len=_UNIGRAM_MAX_PIECE_LEN,
    )
    _write_model_parquet(
        "unigram_pieces",
        {
            "rnk": list(range(1, len(umodel) + 1)),
            "piece": [p for p, _ in umodel],
            "logp": [lp for _, lp in umodel],
        },
    )
    upiece_rows = spark.createDataFrame(
        [(i + 1, p, lp) for i, (p, lp) in enumerate(umodel)],
        "rnk bigint, k string, lp double",
    ).select(
        F.lit("upiece").alias("part"), F.lit(None).cast("long").alias("id"),
        "k", "rnk", F.lit(None).cast("long").alias("n"),
        F.round(F.col("lp"), 9).alias("v"),
    )
    uenc = unigram_encode(d, umodel, max_piece_len=_UNIGRAM_MAX_PIECE_LEN)
    uword_rows = (
        uenc.groupBy(
            "word",
            F.array_join("pieces", " ").alias("seg"),
            "n_pieces",
            "in_vocab",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.lit("uword").alias("part"), F.lit(None).cast("long").alias("id"),
            F.concat(F.col("word"), F.lit("|"), F.col("seg")).alias("k"),
            F.col("n_pieces").cast("long").alias("rnk"),
            F.col("cnt").cast("long").alias("n"),
            F.when(F.col("in_vocab"), 1.0).otherwise(0.0).alias("v"),
        )
    )

    return (
        merge_rows.unionByName(sw_rows).unionByName(doc_rows)
        .unionByName(vocab_rows).unionByName(upiece_rows)
        .unionByName(uword_rows)
    )
