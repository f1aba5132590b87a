"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

The decode step needs codec libraries (PIL/ffmpeg/torchaudio) that are
NOT in this container, so decoding is stubbed two ways:

- ``decode_image`` raises NotImplementedError unless PIL is importable
  (clearly-marked stub; the mapInPandas plumbing around it is real),
- ``fake_decode_meta`` derives deterministic pseudo-metadata from the
  bytes (so schema/partitioning/batching paths are testable end-to-end).

The Spark-side shape is the part that matters at 100 TB:
- payloads stay in ``binary`` columns (parquet keeps them out of
  dictionary paths; scans project them only when asked),
- per-batch Arrow transfer via mapInPandas — one python worker round
  trip per ~10k rows, never per row,
- feature outputs are fixed-size arrays → ArrayType(FloatType()),
- repartition by a size-aware key before decode so one giant video
  doesn't skew a task.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # pragma: no cover
    from PIL import Image  # noqa: F401
    _HAS_PIL = True
except ImportError:
    _HAS_PIL = False

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),          # image|audio|video
    T.StructField("payload", T.BinaryType(), False),
    T.StructField("mime", T.StringType(), True),
    T.StructField("n_bytes", T.LongType(), False),
    T.StructField("sha256", T.StringType(), False),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("feature", T.ArrayType(T.FloatType()), False),
    # False = the payload could not really decode and the deterministic
    # fake filled in — downstream MUST be able to filter/alarm on this
    # (a JPEG corpus in a codec-less container would otherwise flow
    # noise features with no signal that decode never happened)
    T.StructField("decoded", T.BooleanType(), False),
])


def to_media_table(df: DataFrame, id_col: str, payload_col: str, kind: str) -> DataFrame:
    """Wrap any binary column as a typed media table with metadata —
    the 'typed metadata + opaque payload' data model."""
    b = F.col(payload_col).cast("binary")
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit(kind).alias("kind"),
        b.alias("payload"),
        F.lit(None).cast("string").alias("mime"),
        F.octet_length(b).cast("long").alias("n_bytes"),
        F.sha2(b, 256).alias("sha256"),
    )


def _decode_ppm(payload: bytes) -> np.ndarray:
    """Pure-NumPy decoder for binary PPM/PGM (P6/P5) — public trivial
    format: ASCII header (magic, width, height, maxval, # comments),
    then raw samples."""
    import re

    tokens = []
    pos = 2  # past magic
    while len(tokens) < 3:
        m = re.match(rb"\s*(?:#[^\n]*\n\s*)*(\d+)", payload[pos:])
        if not m:
            raise ValueError("malformed PPM header")
        tokens.append(int(m.group(1)))
        pos += m.end()
    w, h, maxval = tokens
    if maxval > 255:
        # 16-bit PPM/PGM is two big-endian bytes per sample; parsing it
        # as u1 would yield plausible garbage — refuse so extract's
        # except-clause takes the documented fallback instead
        raise ValueError(f"16-bit PPM/PGM not supported (maxval={maxval})")
    pos += 1  # single whitespace after maxval
    channels = 3 if payload[:2] == b"P6" else 1
    data = np.frombuffer(payload, dtype="u1", count=w * h * channels, offset=pos)
    img = data.reshape(h, w, channels)
    return img[:, :, 0] if channels == 1 else img


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Pure-NumPy decoder for uncompressed 24-bit BMP — public trivial
    format: little-endian header, bottom-up BGR rows padded to 4."""
    import struct

    data_off = struct.unpack_from("<I", payload, 10)[0]
    w = struct.unpack_from("<i", payload, 18)[0]
    h = struct.unpack_from("<i", payload, 22)[0]
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError(f"only uncompressed 24-bit BMP supported (bpp={bpp})")
    flipped = h > 0
    h = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    rows = np.frombuffer(payload, "u1", count=stride * h, offset=data_off)
    img = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR→RGB
    return img[::-1] if flipped else img


def decode_image(payload: bytes) -> "np.ndarray":
    """Decode to an HxW[xC] uint8 array. PPM/PGM and uncompressed 24-bit
    BMP decode via built-in pure-NumPy parsers (REAL, no codec libs);
    compressed formats (JPEG/PNG/...) need PIL — clearly-marked stub
    where it is absent."""
    if payload[:2] in (b"P6", b"P5"):
        return _decode_ppm(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if not _HAS_PIL:
        raise NotImplementedError(
            "compressed-image decode requires PIL (PPM/PGM/BMP decode "
            "natively); install pillow or use fake_decode_meta"
        )
    import io

    return np.asarray(Image.open(io.BytesIO(payload)))  # pragma: no cover


def resize_image(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize in pure NumPy (index-map gather) — the
    decode→resize→featurize chain needs no codec library at all."""
    h, w = img.shape[:2]
    yi = (np.arange(out_h) * (h / out_h)).astype("i8")
    xi = (np.arange(out_w) * (w / out_w)).astype("i8")
    return img[yi][:, xi]


def image_features(img: np.ndarray, grid: int = 4) -> np.ndarray:
    """Deterministic grid features: grayscale block means over a
    grid×grid pooling of the image, normalized to [0,1]."""
    gray = img.astype("f4") if img.ndim == 2 else img.astype("f4").mean(axis=2)
    pooled = resize_image(gray, grid * 8, grid * 8).reshape(grid, 8, grid, 8)
    return (pooled.mean(axis=(1, 3)) / 255.0).astype("f4").reshape(grid * grid)


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """Pure-NumPy decoder for PCM WAV (RIFF chunk walk; 8/16-bit mono or
    interleaved multichannel) → (sample_rate, (n_samples, channels) f4
    in [-1, 1]). Public trivial format — no audio library needed."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, rate, _, _, bits = fmt
    if audio_format != 1 or bits not in (8, 16):
        raise ValueError(f"only 8/16-bit PCM supported (fmt={audio_format}, bits={bits})")
    if bits == 16:
        x = np.frombuffer(data, "<i2").astype("f4") / 32768.0
    else:
        x = (np.frombuffer(data, "u1").astype("f4") - 128.0) / 128.0
    return rate, x.reshape(-1, channels)


def audio_features(rate: int, x: np.ndarray, feat_dim: int = 16) -> np.ndarray:
    """Deterministic audio features: per-segment RMS over feat_dim equal
    time slices of the mono mix — the fixed-size vector the similarity
    operators consume."""
    mono = x.mean(axis=1)
    n = len(mono)
    if n == 0:
        return np.zeros(feat_dim, "f4")
    edges = (np.arange(feat_dim + 1) * n // feat_dim).astype("i8")
    segs = [mono[edges[i]:max(edges[i + 1], edges[i] + 1)] for i in range(feat_dim)]
    return np.asarray([float(np.sqrt((s * s).mean())) for s in segs], "f4")


def fake_decode_meta(payload: bytes, feat_dim: int = 16) -> tuple[int, int, np.ndarray]:
    """Deterministic pseudo-decode: width/height/feature derived from the
    byte content — exercises every Spark-side seam (schema, batching,
    partitioning) without codec libraries."""
    h = np.frombuffer(payload[: 8 * ((len(payload) // 8) or 1)].ljust(8, b"\0"), dtype="u8")
    rng = np.random.default_rng(int(h[0] % (2**63)))
    width = int(64 + (len(payload) % 512))
    height = int(64 + (h[0] % 512))
    feature = rng.standard_normal(feat_dim).astype("f4")
    return width, height, feature


def extract_features(
    media: DataFrame, feat_dim: int = 16, batch_hint: int = 1024
) -> DataFrame:
    """mapInPandas feature extraction over media payloads. PPM/PGM/BMP
    payloads decode + featurize for REAL (pure-NumPy parsers); bytes
    needing codec libraries fall back to the deterministic fake — the
    operator's distributed shape is identical either way. feat_dim
    should be a perfect square (grid² pooled features)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "width": [],
                "height": [],
                "feature": [],
                "decoded": [],
            }
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                raw = bytes(payload)
                decoded = True
                try:
                    if kind == "audio":
                        # audio reuse of the (width, height) slots:
                        # width=sample_rate, height=n_samples
                        rate, x = decode_wav(raw)
                        w_, h_ = int(rate), int(x.shape[0])
                        feat = audio_features(rate, x, feat_dim)
                    else:
                        img = decode_image(raw)
                        h_, w_ = img.shape[:2]
                        grid = int(feat_dim ** 0.5)
                        feat = image_features(img, grid)[:feat_dim]
                except Exception:
                    # same quarantine posture as image_phash_table: any
                    # decode failure (absent codec lib OR corrupt bytes
                    # raising struct.error/OverflowError/...) falls to
                    # the deterministic fake, never kills the scan
                    w_, h_, feat = fake_decode_meta(raw, feat_dim)
                    decoded = False
                out["width"].append(w_)
                out["height"].append(h_)
                out["feature"].append(np.asarray(feat, "f4").tolist())
                out["decoded"].append(decoded)
            yield pd.DataFrame(out)

    # size-aware repartition: giant payloads spread across tasks
    balanced = media.repartition(
        max(media.rdd.getNumPartitions(), 1), F.pmod(F.xxhash64("sha256"), F.lit(1024))
    )
    return balanced.mapInPandas(run, FEATURE_SCHEMA)


def parse_mp4_duration(payload: bytes) -> tuple[float, float]:
    """REAL MP4/ISO-BMFF container parse (public trivial format: a walk
    of big-endian ``[u32 size][4cc type]`` boxes): find ``moov/mvhd``
    and return (duration_seconds, frame_rate_estimate). The frame rate
    comes from ``moov/trak/mdia/mdhd``+``stts`` when present, else
    defaults to 30. No codec library — only the box tree is read."""
    import struct

    def walk(buf: bytes, start: int, end: int):
        pos = start
        while pos + 8 <= end:
            size, typ = struct.unpack_from(">I4s", buf, pos)
            hdr = 8
            if size == 1:  # 64-bit largesize
                size = struct.unpack_from(">Q", buf, pos + 8)[0]
                hdr = 16
            if size < hdr or pos + size > end:
                break
            yield typ, pos + hdr, pos + size
            pos += size

    def find(buf: bytes, start: int, end: int, path: list[bytes]):
        for typ, b0, b1 in walk(buf, start, end):
            if typ == path[0]:
                if len(path) == 1:
                    return b0, b1
                return find(buf, b0, b1, path[1:])
        return None

    span = find(payload, 0, len(payload), [b"moov", b"mvhd"])
    if span is None:
        raise ValueError("no moov/mvhd box — not an MP4 or fragmented-only")
    b0, _ = span
    version = payload[b0]
    if version == 1:
        timescale, duration = struct.unpack_from(">IQ", payload, b0 + 20)
    else:
        timescale, duration = struct.unpack_from(">II", payload, b0 + 12)
    if timescale == 0:
        raise ValueError("mvhd timescale 0")
    dur_s = duration / timescale
    # frame rate from the first VIDEO track's stts sample count — traks
    # are siblings under moov and audio often comes first, so walk every
    # trak, prefer the one whose mdia/hdlr handler is 'vide', and fall
    # back to the first trak carrying an stts only if no hdlr says video
    fps = 30.0
    moov = find(payload, 0, len(payload), [b"moov"])
    stts_span = fallback_span = None
    if moov is not None:
        for typ, b0, b1 in walk(payload, moov[0], moov[1]):
            if typ != b"trak":
                continue
            mdia = find(payload, b0, b1, [b"mdia"])
            if mdia is None:
                continue
            stts = find(payload, mdia[0], mdia[1], [b"minf", b"stbl", b"stts"])
            if stts is None:
                continue
            if fallback_span is None:
                fallback_span = stts
            hdlr = find(payload, mdia[0], mdia[1], [b"hdlr"])
            # hdlr box: version/flags u32, pre_defined u32, handler 4cc
            if hdlr is not None and payload[hdlr[0] + 8 : hdlr[0] + 12] == b"vide":
                stts_span = stts
                break
    stts_span = stts_span if stts_span is not None else fallback_span
    if stts_span is not None and dur_s > 0:
        t0, t1 = stts_span
        n_entries = struct.unpack_from(">I", payload, t0 + 4)[0]
        n_samples = sum(
            struct.unpack_from(">I", payload, t0 + 8 + 8 * i)[0]
            for i in range(min(n_entries, (t1 - t0 - 8) // 8))
        )
        if n_samples:
            fps = n_samples / dur_s
    return dur_s, fps


def frame_sample_plan(video: DataFrame, every_n: int = 30) -> DataFrame:
    """Frame-sampling plan: (media_id, frame_idx) rows for the frames a
    decoder would extract — the explode pattern the ffmpeg-backed kernel
    plugs into. Frame counts come from a REAL MP4 moov/mvhd+stts parse
    (mapInPandas over payloads, no codec library); payloads that are not
    MP4 fall back to the documented n_bytes heuristic with
    ``parsed=false`` so downstream can tell."""
    plan_schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("parsed", T.BooleanType(), False),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        for pdf in batches:
            out = {"media_id": pdf["media_id"], "n_frames": [], "parsed": []}
            for payload, n_bytes in zip(pdf["payload"], pdf["n_bytes"]):
                try:
                    dur_s, fps = parse_mp4_duration(bytes(payload))
                    out["n_frames"].append(max(int(dur_s * fps), 1))
                    out["parsed"].append(True)
                except (ValueError, IndexError, struct.error):
                    out["n_frames"].append(int(n_bytes) // 1000 + 1)
                    out["parsed"].append(False)
            yield pd.DataFrame(out)

    counted = video.select("media_id", "payload", "n_bytes").mapInPandas(
        run, plan_schema
    )
    return counted.select(
        "media_id",
        "parsed",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
        ).alias("frame_idx"),
    )


def dhash64(img: "np.ndarray") -> int:
    """64-bit perceptual difference hash: grayscale → 8x9 nearest
    downsample → bit b_(r,c) = 1 iff pixel brightens left-to-right.
    Compares ADJACENT pixels, so the hash is invariant to uniform
    brightness/contrast shifts and (via the fixed downsample) to
    resizing — the re-encoded-copy detector exact byte hashing can't
    be. Returned as a SIGNED 64-bit int (Spark LongType two's
    complement), bit (r*8+c) at position (r*8+c)."""
    gray = img.astype("f4") if img.ndim == 2 else img.astype("f4").mean(axis=2)
    small = resize_image(gray, 8, 9)
    bits = (small[:, 1:] > small[:, :-1]).reshape(64)
    v = 0
    for i, b in enumerate(bits):
        if b:
            v |= 1 << i
    return v - (1 << 64) if v >= 1 << 63 else v


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("phash", T.LongType()),
        T.StructField("decoded", T.BooleanType()),
    ]
)


def _phash_frame(out: dict) -> pd.DataFrame:
    """A signature batch with ``phash`` as nullable Int64: a NULL in a
    plain int list would make the column float64, and every signature
    in the batch would lose its low bits."""
    return pd.DataFrame({**out, "phash": pd.array(out["phash"], dtype="Int64")})


def image_phash_table(media: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """mapInPandas perceptual-hash pass: (media_id, phash, decoded) —
    one decode per payload, 8 signature bytes out; payloads that need
    absent codec libraries yield phash NULL with decoded=false (never
    a fake hash — a fake would pair unrelated images)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": pdf["media_id"], "phash": [], "decoded": []}
            for payload in pdf["payload"]:
                try:
                    img = decode_image(bytes(payload))
                    out["phash"].append(dhash64(img))
                    out["decoded"].append(True)
                except Exception:
                    # corrupt payloads raise whatever the decoder hit
                    # (struct.error, OverflowError, zero-size array
                    # ops, ...) — any decode failure quarantines to
                    # phash NULL / decoded=false, never kills the scan
                    # (review finding r8)
                    out["phash"].append(None)
                    out["decoded"].append(False)
            yield _phash_frame(out)

    balanced = media.repartition(
        max(media.rdd.getNumPartitions(), 1),
        F.pmod(F.xxhash64("sha256"), F.lit(1024)),
    )
    return balanced.mapInPandas(run, PHASH_SCHEMA)


def audio_hash64(rate: int, x: "np.ndarray") -> int:
    """64-bit audio fingerprint — the audio analog of :func:`dhash64`:
    dHash over the ENERGY ENVELOPE. The mono mix is split into 65
    equal time slices; bit i is set iff RMS energy RISES from slice i
    to slice i+1. Invariant to uniform gain (every slice scales
    together, so the comparisons are unchanged), to sample rate /
    resampling (slices are FRACTIONS of the duration, not fixed sample
    counts), and to container re-encodes exact byte hashing misses.
    Returned as a SIGNED 64-bit int, bit i at position i — the same
    convention as dhash64, so the pigeonhole pair machinery
    (dedup.hamming_block_pairs) is shared verbatim."""
    mono = x.mean(axis=1) if x.ndim == 2 else x.astype("f4")
    n = len(mono)
    if n == 0:
        return 0  # silence/empty: the all-flat envelope
    edges = (np.arange(66) * n // 65).astype("i8")
    env = np.asarray([
        float(np.sqrt((s * s).mean()))
        for s in (
            mono[edges[i]:max(edges[i + 1], edges[i] + 1)] for i in range(65)
        )
    ])
    bits = env[1:] > env[:-1]
    v = 0
    for i, b in enumerate(bits):
        if b:
            v |= 1 << i
    return v - (1 << 64) if v >= 1 << 63 else v


def audio_fingerprint_table(media: DataFrame) -> DataFrame:
    """mapInPandas audio-fingerprint pass, mirroring
    :func:`image_phash_table`: (media_id, phash, decoded) — one WAV
    decode per payload, 8 signature bytes out; undecodable payloads
    (non-PCM codecs, corrupt bytes) yield NULL with decoded=false,
    never a fake signature."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": pdf["media_id"], "phash": [], "decoded": []}
            for payload in pdf["payload"]:
                try:
                    rate, x = decode_wav(bytes(payload))
                    out["phash"].append(audio_hash64(rate, x))
                    out["decoded"].append(True)
                except Exception:
                    # same quarantine posture as image_phash_table
                    out["phash"].append(None)
                    out["decoded"].append(False)
            yield _phash_frame(out)

    balanced = media.repartition(
        max(media.rdd.getNumPartitions(), 1),
        F.pmod(F.xxhash64("sha256"), F.lit(1024)),
    )
    return balanced.mapInPandas(run, PHASH_SCHEMA)
