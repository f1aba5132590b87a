"""Text-analysis column expressions for the documents table.

Green-field scope beyond the reference (a training-data pipeline needs
these at 100 TB): language-ID heuristics, quality scoring, token
counting, repetition stats and normalization. Everything here is built-in
``pyspark.sql.functions`` — JVM-side, codegen'd, no Python in the hot
path — so the same expressions run unchanged over petabyte scans.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword heuristic
# language ID. Deliberately small: the point is the *operator shape*
# (score columns + greatest/when dispatch), not lexicography.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "das"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "que", "es", "los"],
}


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else x


def tokens(text) -> Column:
    """Whitespace tokenization (empty strings removed)."""
    return F.filter(F.split(F.trim(_c(text)), r"\s+"), lambda t: t != F.lit(""))


def token_count(text) -> Column:
    """Whitespace token count — the cheap tokenizer."""
    return F.size(tokens(text)).cast("long")


def punct_ratio(text) -> Column:
    t = _c(text)
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    return F.when(F.length(t) > 0, n_punct.cast("double") / F.length(t).cast("double")).otherwise(
        F.lit(0.0)
    )


def quality_score(text) -> Column:
    """Composite document-quality score in [0,1]: length sweet-spot,
    low punctuation noise, healthy mean word length. Deterministic and
    SQL-expressible (oracle-checkable)."""
    t = _c(text)
    n_tok = token_count(t).cast("double")
    mean_wordlen = F.when(n_tok > 0, F.length(t).cast("double") / n_tok).otherwise(F.lit(0.0))
    len_score = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    word_score = F.when((mean_wordlen >= 3.0) & (mean_wordlen <= 12.0), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    punct_score = F.lit(1.0) - F.least(punct_ratio(t) * F.lit(4.0), F.lit(1.0))
    return (len_score * F.lit(0.4) + word_score * F.lit(0.3) + punct_score * F.lit(0.3))


def lang_guess(text) -> Column:
    """Stopword-vote language ID over the STOPWORDS marker sets; 'und'
    (undetermined) when no marker hits."""
    toks = F.transform(tokens(text), lambda t: F.lower(t))

    def vote(words: list[str]):
        def is_marker(t):
            out = F.lit(False)
            for w in words:
                out = out | (t == F.lit(w))
            return out

        return F.size(F.filter(toks, is_marker))

    scores = {lang: vote(words) for lang, words in STOPWORDS.items()}
    expr = F.lit("und")
    best = F.lit(0)
    # greatest-vote dispatch, ties broken by dict order (deterministic)
    for lang, score in scores.items():
        expr = F.when(score > best, F.lit(lang)).otherwise(expr)
        best = F.greatest(best, score)
    return expr


def char_ngrams(text, n: int = 5) -> Column:
    """Array of character n-grams (shingles) — the MinHash input."""
    t = F.lower(_c(text))
    idx = F.sequence(F.lit(1), F.greatest(F.length(t) - F.lit(n - 1), F.lit(1)))
    return F.transform(idx, lambda i: t.substr(i, F.lit(n)))


def word_ngrams(text, n: int = 3) -> Column:
    """Array of word n-grams joined by single spaces. Documents with
    fewer than ``n`` tokens yield an EMPTY array (not a short joined
    shingle) — matching the SQL-oracle semantics
    (range(1, greatest(cnt-n+1, 0)+1) is empty for cnt < n), so short
    docs can never pair up as jaccard-1.0 duplicates."""
    toks = F.transform(tokens(text), lambda t: F.lower(t))
    cnt = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(cnt - F.lit(n - 1), F.lit(1)))
    return F.when(
        cnt >= n,
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " ")),
    ).otherwise(F.array().cast("array<string>"))


def top_token_frac(text) -> Column:
    """Most-frequent-token fraction — the Gopher-style repetition
    signal (Rae et al. 2021 §A1.1, adapted to whole-token counts).

    Scale shape: O(n log n) per row — sort the lowered token array,
    then ONE aggregate() pass tracks the longest equal-run. No
    per-distinct-token rescan (that would be O(n·u) and hurt on long
    web documents) and no explode/shuffle: the whole computation stays
    inside the row, so a corpus scan computes it at scan speed.
    Empty documents score 0.0.

    NOTE: this is the composable single-expression form. On a hot path
    that also needs the dup-n-gram fractions, use with_repetition_stats
    — referencing this expression more than once (or beside the others)
    re-inlines the whole token pipeline per reference (measured ~90×
    slower on the text_suite shapes).
    """
    toks = F.array_sort(F.transform(tokens(text), lambda t: F.lower(t)))
    n = F.size(toks)
    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc, t):
        run = F.when(t == acc["prev"], acc["run"] + F.lit(1)).otherwise(F.lit(1))
        return F.struct(
            t.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    best = F.aggregate(toks, zero, step)["best"]
    return F.when(
        n > 0, best.cast("double") / n.cast("double")
    ).otherwise(F.lit(0.0))


def dup_ngram_frac(text, n: int = 2) -> Column:
    """Fraction of word n-grams that are repeats of an earlier n-gram
    (1 − distinct/total) — the duplicate-n-gram repetition rule from
    the Gopher quality heuristics, adapted to n-gram counts. Pure
    array expressions over the in-row shingle list (word_ngrams), so
    like top_token_frac it costs no shuffle and no Python. Documents
    with fewer than ``n`` tokens score 0.0 (their shingle list is
    empty by word_ngrams' contract)."""
    g = word_ngrams(text, n)
    cnt = F.size(g)
    return F.when(
        cnt > 0,
        (cnt - F.size(F.array_distinct(g))).cast("double") / cnt.cast("double"),
    ).otherwise(F.lit(0.0))


def with_repetition_stats(df, text: str = "text"):
    """Stage the repetition statistics as PROJECTED columns —
    ``top_raw`` / ``d2_raw`` / ``d3_raw`` appended to ``df`` — instead
    of one nested expression per output.

    Why this exists: the single-expression forms (top_token_frac /
    dup_ngram_frac / is_repetitive) re-inline their whole subtree at
    every reference — a transform() lambda that references the token
    array re-tokenizes the document per element, and a gate that reuses
    three fractions recomputes all three. Staging each intermediate
    (lowered tokens → shingle lists → sorted array → raw fractions)
    through withColumn keeps every step a bound attribute that codegen
    evaluates once per row; CollapseProject leaves non-cheap aliased
    expressions staged. Measured on the text_suite shapes: ~90× faster
    than the inline forms (6.1 s → 0.07 s for 500 docs, local[8]).
    Callers round / threshold the raw columns and drop them.
    """
    toks = F.transform(tokens(F.col(text)), lambda t: F.lower(t))

    def grams(col: Column, n: int) -> Column:
        cnt = F.size(col)
        idx = F.sequence(F.lit(1), F.greatest(cnt - F.lit(n - 1), F.lit(1)))
        return F.when(
            cnt >= n,
            F.transform(idx, lambda i: F.array_join(F.slice(col, i, n), " ")),
        ).otherwise(F.array().cast("array<string>"))

    def dup_frac(col: Column) -> Column:
        cnt = F.size(col)
        return F.when(
            cnt > 0,
            (cnt - F.size(F.array_distinct(col))).cast("double") / cnt.cast("double"),
        ).otherwise(F.lit(0.0))

    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc, t):
        run = F.when(t == acc["prev"], acc["run"] + F.lit(1)).otherwise(F.lit(1))
        return F.struct(
            t.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    n = F.size(F.col("__rep_toks"))
    best = F.aggregate(F.array_sort("__rep_toks"), zero, step)["best"]
    return (
        df.withColumn("__rep_toks", toks)
        .withColumn("__rep_g2", grams(F.col("__rep_toks"), 2))
        .withColumn("__rep_g3", grams(F.col("__rep_toks"), 3))
        .withColumn(
            "top_raw",
            F.when(n > 0, best.cast("double") / n.cast("double")).otherwise(F.lit(0.0)),
        )
        .withColumn("d2_raw", dup_frac(F.col("__rep_g2")))
        .withColumn("d3_raw", dup_frac(F.col("__rep_g3")))
        .drop("__rep_toks", "__rep_g2", "__rep_g3")
    )


def is_repetitive(text) -> Column:
    """Gopher-style repetition gate: flag documents whose most frequent
    token exceeds 20% of all tokens, or whose duplicate-2-gram fraction
    exceeds 20%, or duplicate-3-gram fraction exceeds 18%. Thresholds
    follow the published Gopher rules' magnitudes; the comparisons run
    on exact count-ratio doubles (identical in any IEEE engine), so the
    flag is deterministic cross-engine."""
    return (
        (top_token_frac(text) > F.lit(0.20))
        | (dup_ngram_frac(text, 2) > F.lit(0.20))
        | (dup_ngram_frac(text, 3) > F.lit(0.18))
    )


def char_entropy(text, chars: Column | None = None) -> Column:
    """Shannon entropy of the character distribution, in bits/char —
    the classic gibberish/encoded-blob signal (base64 blobs and
    hex dumps sit near log2(alphabet) ≈ 4-6 bits with no word
    structure; natural English prose sits ≈ 4.0-4.5 with word
    structure; repeated-character spam collapses toward 0). Used
    alongside the zlib compression ratio (operators/textstats.py):
    entropy is per-character order-free, compression also sees
    repetition structure — the two disagree exactly on the
    interesting cases.

    Pure codegen: H = -Σ p·log2(p) over the per-char counts,
    computed as a fold over the SORTED distinct-char array (sorted so
    the float summation order is deterministic and engine-identical),
    rounded to 6 decimals (absorbs cross-engine log2 last-ulp drift).
    Empty/NULL-ish text → 0.0. Cost is O(distinct·len) per row — fine
    for curation columns; in a hot loop pass ``chars`` = a PROJECTED
    split-array column (``F.split(text, "")`` staged via withColumn/
    select) so the split isn't re-inlined once per distinct character
    — the repetition-stats pitfall, SCALE.md."""
    t = _c(text)
    cs = chars if chars is not None else F.split(t, "")
    n = F.size(cs).cast("double")
    uniq = F.array_sort(F.array_distinct(cs))
    counts = F.transform(
        uniq, lambda d: F.size(F.filter(cs, lambda x: x == d)).cast("double")
    )
    h = -F.aggregate(
        counts,
        F.lit(0.0),
        lambda acc, c: acc + (c / n) * F.log2(c / n),
    )
    return F.when(F.length(t) > 0, F.round(h, 6)).otherwise(F.lit(0.0))


def normalize_text(text) -> Column:
    """Canonical text normalization for dedup/tokenization pipelines:
    control chars → space, lowercase, whitespace runs collapsed to one
    space, trimmed. Pure codegen expressions, and every regex construct
    used ([\\x..] ranges, \\s) means the same thing to Java regex and
    DuckDB's RE2 — so the oracle computes the identical string."""
    t = F.regexp_replace(_c(text), "[\\x00-\\x1f\\x7f]", " ")
    return F.trim(F.regexp_replace(F.lower(t), "\\s+", " "))


# -------------------------------------------------------------------------
# PII scrubbing + URL handling (round 6) — the remaining standard
# text-curation operators. All pure regexp column expressions (Java
# regex, JVM-side); the patterns avoid constructs whose semantics
# differ between regex engines so tests can mirror them in Python `re`.
# -------------------------------------------------------------------------

# Conservative, high-precision patterns: a curation pipeline prefers
# missing an exotic phone format over redacting ordinary numbers.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # IPv4 with per-octet 0-255 bound (no \b on the dot side — Java and
    # re agree on \b, but the explicit bound keeps 999.1.1.1 unredacted)
    "ipv4": r"\b(?:(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}"
            r"(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\b",
    # +international (7-15 digits) or NANP-style 333-333-4444 groupings.
    # Boundary guards: no digit (or dotted-digit continuation, i.e. a
    # version/IP segment) may adjoin either end — but a bare sentence-
    # final '.' is NOT a continuation, so "call 555-123-4567." redacts.
    "phone": r"(?<!\d)(?<!\d\.)(?:\+\d{7,15}|\(?\d{3}\)?[-.\s]\d{3}[-.\s]\d{4})(?!\.?\d)",
}


def pii_counts(text) -> Column:
    """Struct of per-category PII match counts (emails, ipv4s, phones)
    — the audit pass a curation pipeline runs before deciding to scrub
    or drop. One regexp_count per category, whole-stage codegen."""
    t = _c(text)
    return F.struct(
        F.regexp_count(t, F.lit(PII_PATTERNS["email"])).alias("emails"),
        F.regexp_count(t, F.lit(PII_PATTERNS["ipv4"])).alias("ipv4s"),
        F.regexp_count(t, F.lit(PII_PATTERNS["phone"])).alias("phones"),
    )


def scrub_pii(text) -> Column:
    """Redact emails → <EMAIL>, IPv4 addresses → <IP>, phone numbers →
    <PHONE>. Email runs first so an address's digits can't be half-
    eaten by the phone pass; the order is part of the contract."""
    t = F.regexp_replace(_c(text), PII_PATTERNS["email"], "<EMAIL>")
    t = F.regexp_replace(t, PII_PATTERNS["ipv4"], "<IP>")
    return F.regexp_replace(t, PII_PATTERNS["phone"], "<PHONE>")


_URL_RE = r"(?i)https?://[^\s<>\"']+"


def extract_urls(text) -> Column:
    """Array of raw http(s) URLs found in free text."""
    return F.regexp_extract_all(_c(text), F.lit(_URL_RE), 0)


def url_host(url) -> Column:
    """Lower-cased host (authority minus userinfo/port) of a URL —
    empty string when the input is not an http(s) URL. The host is the
    key for per-domain dedup/blocklist joins, so it must be canonical:
    case-folded, port and credentials stripped."""
    host = F.regexp_extract(_c(url), r"^[Hh][Tt][Tt][Pp][Ss]?://(?:[^/@\s]*@)?([^/:?#\s]+)", 1)
    return F.lower(host)


def normalize_url(url) -> Column:
    """Canonical URL for exact URL-level dedup: scheme and host
    lower-cased (userinfo preserved — RFC 3986 credentials are
    case-sensitive, so lowering them would merge genuinely distinct
    URLs), fragment dropped, utm_* tracking params dropped (and a
    then-empty query dropped), trailing slash trimmed off a bare path.
    Pure regexp passes — no UDF, no parsing library."""
    u = _c(url)
    # lower scheme and host[:port] separately; userinfo and path keep case
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    auth = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    userinfo = F.regexp_extract(auth, r"^([^@]*@)", 1)   # '' when absent
    hostport = F.lower(F.regexp_replace(auth, r"^[^@]*@", ""))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    n = F.concat(scheme, F.lit("://"), userinfo, hostport, rest)
    n = F.regexp_replace(n, r"#.*$", "")                      # fragment
    n = F.regexp_replace(n, r"([?&])utm_[^=&#]*=[^&#]*", "$1")  # utm params
    n = F.regexp_replace(n, r"\?&+", "?")                     # tidy ?&&
    n = F.regexp_replace(n, r"&&+", "&")
    n = F.regexp_replace(n, r"[?&]$", "")                     # dangling ? or &
    n = F.regexp_replace(n, r"^(https?://[^/?#]+)/$", "$1")   # bare trailing /
    # the fragment/utm passes apply ONLY on the rebuilt-URL branch — a
    # non-scheme input passes through byte-for-byte (contract)
    return F.when(scheme == F.lit(""), _c(url)).otherwise(n)


# -------------------------------------------------------------------------
# Sentence segmentation (round 8) — the boundary heuristic that
# sentence-bounded chunking (operators/sampling.py::
# chunk_documents_sentences) builds on.
# -------------------------------------------------------------------------

# boundary: >=2 word chars + end punctuation (+ optional closing
# quotes/brackets), whitespace, then an uppercase/digit start. The
# 2-char floor keeps initials ("J. Smith") intact; known limitation:
# 2-letter abbreviations ("Dr. Who") still split — a curation chunker
# prefers a rare extra boundary over a missed one. No lookarounds and
# an EXPLICIT ASCII whitespace class (Java \s, RE2 \s, and Python \s
# disagree at the edges — \x0B, unicode spaces), so Java regex, DuckDB
# RE2, and the Python test mirror read the pattern identically. The
# next-sentence first char is CONSUMED into the replacement, so a match
# can shadow an immediately-following boundary whose sentence has
# exactly 2 word chars ("Yes. OK. Done." — the 'O' of 'OK' is eaten and
# 'K.' can't satisfy the 2-char floor); shadowed boundaries are always
# ISOLATED between marked ones, so ONE repeat pass catches all of them
# (sentences() applies the replacement twice; proof in the docstring).
SENTENCE_BOUNDARY = (
    '([A-Za-z0-9]{2}[.!?]+["\')\\]]*)[ \\t\\n\\r\\f]+([A-Z0-9])'
)
_SENT_SEP = "\u001e"  # RS control char: normalize strips it, raw text never has it


def sentences(text) -> Column:
    """Array of sentences: mark boundaries with a control-char
    separator (TWO replacement passes), split, trim, drop empties.

    Why two passes: the boundary consumes the next sentence's first
    char, so pass 1 can miss a boundary whose sentence is exactly 2
    word chars long if the PREVIOUS boundary matched ("Yes. OK. Done.").
    A missed boundary is therefore never adjacent to another missed one
    — its predecessor matched — and pass 2 rescans each missed site
    from a fresh separator with nothing left to shadow it (the pattern
    cannot re-match across the separator: it is not in the whitespace
    class). Pure codegen; the DuckDB twin nests the same two
    regexp_replace passes (pack_sequences 'sent' limb)."""
    rep = "$1" + _SENT_SEP + "$2"
    marked = F.regexp_replace(_c(text), SENTENCE_BOUNDARY, rep)
    marked = F.regexp_replace(marked, SENTENCE_BOUNDARY, rep)
    return F.filter(
        F.transform(F.split(marked, _SENT_SEP), lambda s: F.trim(s)),
        lambda s: s != "",
    )
