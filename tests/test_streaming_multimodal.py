"""Structured Streaming (file source → memory sink, synchronous) and
multimodal plumbing tests."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from argostats_spark.queries import _events

from argostats_spark.operators.multimodal import (
    extract_features,
    fake_decode_meta,
    frame_sample_plan,
    to_media_table,
)
from argostats_spark.streaming.events import (
    incremental_cell_means,
    read_event_stream,
    run_to_memory,
    windowed_counts,
    EVENTS_STREAM_SCHEMA,
)


@pytest.fixture(scope="module")
def event_files(spark, sf_dir, tmp_path_factory):
    """Re-encode the events table with µs timestamps into several files
    so the stream has multiple micro-batches."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    df = _events(spark, sf_dir)
    df.repartition(8).write.mode("overwrite").parquet(out)
    return out


def test_windowed_counts_match_batch(spark, event_files):
    stream = read_event_stream(spark, event_files)
    assert stream.isStreaming
    q = run_to_memory(windowed_counts(stream), "win_counts", output_mode="update")
    try:
        got = spark.sql(
            "SELECT event_type, sum(n) AS n FROM win_counts GROUP BY event_type"
        ).toPandas()
    finally:
        q.stop()
    want = (
        spark.read.parquet(event_files).groupBy("event_type").count().toPandas()
    )
    m = got.merge(want, on="event_type")
    # update mode re-emits per batch; the latest per window is <= total —
    # compare against max-aggregated memory table instead:
    assert set(m.event_type) == set(want.event_type)


def test_windowed_counts_complete_mode_exact(spark, event_files):
    stream = read_event_stream(spark, event_files)
    q = run_to_memory(windowed_counts(stream), "win_exact", output_mode="complete")
    try:
        got = spark.sql(
            "SELECT event_type, sum(n) AS n FROM win_exact GROUP BY event_type"
        ).toPandas().sort_values("event_type").reset_index(drop=True)
    finally:
        q.stop()
    want = (
        spark.read.parquet(event_files)
        .groupBy("event_type").count()
        .toPandas().sort_values("event_type").reset_index(drop=True)
    )
    assert (got.n.to_numpy() == want["count"].to_numpy()).all()


def test_incremental_cell_means_algebraic(spark, event_files):
    """Streaming per-cell running mean equals the batch mean — the
    algebraic-aggregate property the incremental climatology relies on."""
    ev = spark.read.parquet(event_files).select(
        "ts",
        (F.pmod(F.col("user_id") * 37, F.lit(360)) - 180 + 0.5).cast("double").alias("lon"),
        (F.pmod(F.col("user_id") * 53, F.lit(160)) - 80 + 0.5).cast("double").alias("lat"),
        "value",
    )
    stream = read_event_stream(
        spark, event_files
    ).select(
        "ts",
        (F.pmod(F.col("user_id") * 37, F.lit(360)) - 180 + 0.5).cast("double").alias("lon"),
        (F.pmod(F.col("user_id") * 53, F.lit(160)) - 80 + 0.5).cast("double").alias("lat"),
        "value",
    )
    q = run_to_memory(
        incremental_cell_means(stream, bin_deg=10.0), "cells", output_mode="complete"
    )
    try:
        got = spark.sql("SELECT * FROM cells").toPandas()
    finally:
        q.stop()
    want = (
        ev.select(
            F.floor((F.col("lon") + 180.0) / 10.0).cast("int").alias("lon_bin"),
            F.floor((F.col("lat") + 90.0) / 10.0).cast("int").alias("lat_bin"),
            "value",
        )
        .groupBy("lon_bin", "lat_bin")
        .agg(F.avg("value").alias("mean_x"))
        .toPandas()
    )
    m = got.merge(want, on=["lon_bin", "lat_bin"], suffixes=("_s", "_b"))
    assert len(m) == len(want)
    assert np.allclose(m.mean_x_s, m.mean_x_b, rtol=1e-9)


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


def test_media_table_and_features(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = to_media_table(
        docs.withColumn("payload", F.col("text").cast("binary")),
        "doc_id", "payload", "image",
    )
    pdf = media.toPandas()
    assert (pdf.n_bytes > 0).all()
    assert pdf.sha256.str.len().eq(64).all()

    feats = extract_features(media, feat_dim=16).toPandas()
    assert len(feats) == len(pdf)
    assert feats.feature.map(len).eq(16).all()
    assert feats.width.between(64, 64 + 512).all()


def test_fake_decode_deterministic():
    w1, h1, f1 = fake_decode_meta(b"payload-bytes-123", 8)
    w2, h2, f2 = fake_decode_meta(b"payload-bytes-123", 8)
    assert (w1, h1) == (w2, h2)
    assert np.array_equal(f1, f2)


def test_decode_image_stub_raises():
    from argostats_spark.operators.multimodal import decode_image, _HAS_PIL

    if not _HAS_PIL:
        with pytest.raises(NotImplementedError):
            decode_image(b"not-an-image")


def test_frame_sample_plan(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5)
    media = to_media_table(
        docs.withColumn("payload", F.col("text").cast("binary")), "doc_id", "payload", "video"
    )
    plan = frame_sample_plan(media, every_n=10).toPandas()
    assert (plan.frame_idx % 10 == 0).all()
    assert plan.media_id.nunique() == 5
    assert not plan.parsed.any()  # text bytes are not MP4 — flagged


def _mp4_box(typ: bytes, payload: bytes) -> bytes:
    import struct

    return struct.pack(">I", len(payload) + 8) + typ + payload


def test_frame_sample_plan_real_mp4_parse(spark):
    """The container parse is REAL: a hand-built ISO-BMFF box tree
    (moov/mvhd v0: timescale 600, duration 6000 -> 10 s; stts: 300
    samples -> 30 fps) yields exactly 300 frames, sampled every 30."""
    import struct

    from argostats_spark.operators.multimodal import (
        frame_sample_plan, parse_mp4_duration, to_media_table,
    )

    mvhd = _mp4_box(b"mvhd", struct.pack(">I", 0) + struct.pack(">II", 0, 0)
                    + struct.pack(">II", 600, 6000) + b"\x00" * 80)
    stts = _mp4_box(b"stts", struct.pack(">II", 0, 1) + struct.pack(">II", 300, 20))
    trak = _mp4_box(
        b"trak", _mp4_box(b"mdia", _mp4_box(b"minf", _mp4_box(b"stbl", stts)))
    )
    moov = _mp4_box(b"moov", mvhd + trak)
    mp4 = _mp4_box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + moov

    dur, fps = parse_mp4_duration(mp4)
    assert abs(dur - 10.0) < 1e-9 and abs(fps - 30.0) < 1e-9

    df = spark.createDataFrame([(1, bytearray(mp4))], "media_id long, payload binary")
    media = to_media_table(df, "media_id", "payload", "video")
    plan = frame_sample_plan(media, every_n=30).toPandas()
    assert plan.parsed.all()
    assert plan.frame_idx.tolist() == list(range(0, 300, 30))


def test_netcdf_ingest_plumbing(spark, tmp_path):
    """binaryFile scan + injected parser → raw table (xarray absent)."""
    import pandas as pd
    from argostats_spark.sources.netcdf import ingest_gdac, parse_netcdf_bytes
    from argostats_spark.sources.synthetic import make_raw_pandas

    # fake GDAC: two files whose bytes encode a wmo id
    gdac = tmp_path / "gdac" / "dac1" / "2900001"
    gdac.mkdir(parents=True)
    (gdac / "2900001_prof.nc").write_bytes(b"0")
    gdac2 = tmp_path / "gdac" / "dac1" / "2900002"
    gdac2.mkdir(parents=True)
    (gdac2 / "2900002_prof.nc").write_bytes(b"1")

    all_raw = make_raw_pandas(n_wmos=2, profiles_per_wmo=3)

    def fake_parser(path: str, content: bytes) -> pd.DataFrame:
        wmo = 2900000 + int(content.decode())
        return all_raw[all_raw.WMO == wmo]

    out = ingest_gdac(spark, str(tmp_path / "gdac" / "*" / "*"), parser=fake_parser)
    assert out.count() == 6
    assert set(r.WMO for r in out.select("WMO").distinct().collect()) == {2900000, 2900001}

    # the real parser is a clearly-marked stub without xarray
    with pytest.raises(NotImplementedError):
        parse_netcdf_bytes("x_prof.nc", b"")


def test_sessionize_buffered_shuffled_replay_equals_batch(spark, tmp_path):
    """Watermark-buffered sessionization: replaying micro-batches in
    SHUFFLED time order (later events arrive first) must still produce
    exactly the in-order batch answer — events are buffered in state
    until the watermark passes, then folded in event-time order."""
    import pandas as pd
    from argostats_spark.streaming.events import sessionize_buffered

    base = pd.Timestamp("2024-01-01", tz="UTC")
    H = 3600

    def ts(hours):
        return base + pd.Timedelta(seconds=int(hours * H))

    # user 1: sessions {0, 0.5} and {3, 3.2}; user 2: {1} and {5};
    # user 3: hourly chain 0..5 — exactly gap-sized steps, ONE session
    real = (
        [(1, h) for h in (0, 0.5, 3, 3.2)]
        + [(2, h) for h in (1, 5)]
        + [(3, h) for h in (0, 1, 2, 3, 4, 5)]
    )
    expected = {1: (2, 4), 2: (2, 2), 3: (1, 6)}

    def write_batch(rows, name):
        pdf = pd.DataFrame(
            {
                "event_id": range(len(rows)),
                "ts": [ts(h) for _, h in rows],
                "user_id": [u for u, _ in rows],
                "event_type": "x",
                "value": 1.0,
                "props": "{}",
            }
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "stream" / name)
        )

    # SHUFFLED: the late half of the timeline arrives in batch 0
    write_batch([(u, h) for u, h in real if h >= 3], "b0")
    write_batch([(u, h) for u, h in real if h < 3], "b1")
    # flush: per-user sentinel far in the future pushes the watermark
    # past every real event so the buffers drain
    write_batch([(u, 18.0) for u in (1, 2, 3)], "b2")

    stream = read_event_stream(
        spark, str(tmp_path / "stream" / "*"), max_files_per_trigger=1
    )
    q = run_to_memory(
        sessionize_buffered(stream, gap_seconds=H, watermark="6 hours"),
        "sess_buffered",
        output_mode="update",
    )
    try:
        got = spark.sql(
            """SELECT user_id, max(n_sessions) AS n_sessions,
                      max(n_events) AS n_events
               FROM sess_buffered GROUP BY user_id"""
        ).toPandas()
    finally:
        q.stop()

    assert len(got) == 3
    for _, r in got.iterrows():
        ns, ne = expected[int(r.user_id)]
        # sentinels stay pending (beyond watermark): only real events fold
        assert (int(r.n_sessions), int(r.n_events)) == (ns, ne), (
            f"user {int(r.user_id)}"
        )


def test_sessionize_stateful(spark, event_files):
    """applyInPandasWithState: final per-user session counts must match
    the batch sessionization (lag+cumsum) on the same data."""
    from argostats_spark.streaming.events import sessionize_stateful
    from pyspark.sql import Window as W

    # sessionization's contract: event-time-ordered arrival across
    # batches → single time-sorted source file
    ordered = event_files + "_ordered"
    spark.read.parquet(event_files).orderBy("ts").coalesce(1).write.mode(
        "overwrite"
    ).parquet(ordered)
    stream = read_event_stream(spark, ordered, max_files_per_trigger=None)
    q = run_to_memory(
        sessionize_stateful(stream, gap_seconds=3600), "sess_state", output_mode="update"
    )
    try:
        got = spark.sql(
            """SELECT user_id, max(n_sessions) AS n_sessions, max(n_events) AS n_events
               FROM sess_state GROUP BY user_id"""
        ).toPandas()
    finally:
        q.stop()

    ev = spark.read.parquet(event_files).select(
        "user_id", F.unix_timestamp("ts").alias("s"), "event_id"
    )
    w = W.partitionBy("user_id").orderBy("s", "event_id")
    batch = (
        ev.withColumn(
            "new_s",
            F.when(
                (F.col("s") - F.lag("s").over(w) > 3600) | F.lag("s").over(w).isNull(), 1
            ).otherwise(0),
        )
        .groupBy("user_id")
        .agg(F.sum("new_s").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
        .toPandas()
    )
    m = got.merge(batch, on="user_id", suffixes=("_s", "_b"))
    assert len(m) == len(batch)
    assert (m.n_events_s == m.n_events_b).all()
    assert (m.n_sessions_s == m.n_sessions_b).all()


def _doc_batch_files(spark, tmp_path, batches):
    """Write one parquet file per micro-batch (ordered names), return
    (dir, schema). batches = [(doc_id, iso_ts, text), ...] per file."""
    import pyspark.sql.types as T

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
    ])
    from datetime import datetime

    out = str(tmp_path / "docs_stream")
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            [(d, datetime.fromisoformat(t), x) for d, t, x in rows], schema
        )
        df.coalesce(1).write.mode("append").parquet(f"{out}/b={i:03d}")
    return out, schema


def test_stream_dedup_exact_equals_batch_keep_first(spark, tmp_path):
    """Global streaming dedup == batch dedup_keep_first when duplicates
    never co-occur inside one micro-batch (one file per trigger)."""
    from argostats_spark.operators.dedup import dedup_keep_first
    from argostats_spark.streaming.events import stream_dedup_exact

    batches = [
        [(1, "2026-01-01 00:00:00", "alpha"), (2, "2026-01-01 00:01:00", "beta")],
        [(3, "2026-01-01 01:00:00", "alpha"), (4, "2026-01-01 01:01:00", "gamma")],
        [(5, "2026-01-01 02:00:00", "beta"), (6, "2026-01-01 02:01:00", "delta")],
    ]
    path, schema = _doc_batch_files(spark, tmp_path, batches)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{path}/b=*")
    )
    q = run_to_memory(
        stream_dedup_exact(stream), "dedup_stream", output_mode="append"
    )
    try:
        got = {
            r["doc_id"] for r in spark.sql("SELECT doc_id FROM dedup_stream").collect()
        }
    finally:
        q.stop()

    from datetime import datetime

    flat = [r for b in batches for r in b]
    batch_df = spark.createDataFrame(
        [(d, datetime.fromisoformat(t), x) for d, t, x in flat], schema
    )
    want = {r["doc_id"] for r in dedup_keep_first(batch_df).collect()}
    assert got == want == {1, 2, 4, 6}


def test_stream_dedup_within_watermark_reemits_after_horizon(spark, tmp_path):
    """Watermark-bounded dedup: a duplicate arriving after the horizon
    has expired its state and is emitted again (bounded-state regime)."""
    from argostats_spark.streaming.events import stream_dedup_exact

    batches = [
        [(1, "2026-01-01 00:00:00", "alpha")],
        [(2, "2026-01-01 00:30:00", "alpha")],    # inside horizon: suppressed
        [(3, "2026-01-03 00:00:00", "advance")],  # watermark leaps 2 days
        [(4, "2026-01-03 00:10:00", "advance2")], # eviction runs end-of-batch
        [(5, "2026-01-03 00:30:00", "alpha")],    # state expired: re-emitted
    ]
    path, schema = _doc_batch_files(spark, tmp_path, batches)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{path}/b=*")
    )
    q = run_to_memory(
        stream_dedup_exact(stream, within_watermark="1 hour"),
        "dedup_wm_stream", output_mode="append",
    )
    try:
        got = sorted(
            r["doc_id"] for r in spark.sql("SELECT doc_id FROM dedup_wm_stream").collect()
        )
    finally:
        q.stop()
    assert got == [1, 3, 4, 5]


def test_netcdf_classic_ingest_real_parser(spark, tmp_path):
    """S2/S3 with REAL bytes: write genuine NetCDF-3 classic Argo
    profile files (the format GDAC core files actually use), ingest
    through binaryFile + mapInPandas with the DEFAULT parser — no
    injected fake anywhere — and check values and JULD decoding."""
    import numpy as np

    from argostats_spark.sources.netcdf import ingest_gdac, write_argo_prof_nc

    d = tmp_path / "gdac"
    d.mkdir()
    pres = np.tile(np.linspace(5, 1500, 30), (2, 1))
    write_argo_prof_nc(
        str(d), 6901234,
        lons=[10.5, 11.0], lats=[-40.0, -40.5],
        juld_days=[27759.5, 27760.5],   # 2026-01-01 12:00, 2026-01-02 12:00
        data_modes="DD",
        pres=pres, temp=20 - pres / 100.0, psal=35 + pres * 0,
    )
    write_argo_prof_nc(
        str(d), 6905678,
        lons=[100.0], lats=[5.0], juld_days=[27000.0], data_modes="R",
        pres=pres[:1], temp=15 + pres[:1] * 0, psal=34 + pres[:1] * 0,
    )
    raw = ingest_gdac(spark, str(d)).orderBy("WMO", "IPROF")
    rows = raw.collect()
    assert [r["WMO"] for r in rows] == [6901234, 6901234, 6905678]
    r0 = rows[0]
    assert r0["IPROF"] == 0 and abs(r0["LONGITUDE"] - 10.5) < 1e-6
    assert r0["DATA_MODE"] == 1 and rows[2]["DATA_MODE"] == 0
    assert str(r0["JULD"]).startswith("2026-01-01 12:00")
    assert len(r0["PRES"]) == 30 and abs(r0["PRES"][0] - 5.0) < 1e-4
    assert r0["PRES_QC"] == [1] * 30


def test_netcdf_ingest_sub_microsecond_juld_under_safe_arrow_cast(spark, tmp_path):
    """A realistic f8 JULD leaves sub-microsecond digits once turned
    into nanoseconds; the parser rounds to whole microseconds, so the
    ns→µs Arrow cast passes even with
    convertToArrowArraySafely=true (it raised ArrowInvalid before)."""
    import numpy as np
    from pyspark.sql import functions as F

    from argostats_spark.sources.netcdf import ingest_gdac, write_argo_prof_nc

    d = tmp_path / "gdac" / "aoml" / "1900001"
    d.mkdir(parents=True)
    write_argo_prof_nc(
        str(d), 1900001, [10.0], [-20.0], [25204.5523611111], "D",
        np.array([[5.0, 10.0]]), np.array([[20.0, 19.0]]), np.array([[35.0, 35.1]]),
    )
    key = "spark.sql.execution.pandas.convertToArrowArraySafely"
    before = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        raw = ingest_gdac(spark, str(tmp_path / "gdac" / "*" / "*" / "*_prof.nc"))
        rows = raw.select(F.unix_micros("JULD").alias("us")).collect()
    finally:
        spark.conf.set(key, before)
    # 1546521323.999998901 s since the Unix epoch, to the nearest µs
    assert [r.us for r in rows] == [1546521323999999]


def test_argo_gdac_python_datasource(spark, tmp_path):
    """spark.read.format("argo_gdac") — the Spark 4 Python Data Source
    wrapper must produce exactly the rows of the binaryFile ingest on
    the same GDAC tree (same parser, engine-native protocol)."""
    import numpy as np

    from argostats_spark.sources.datasource import register_argo_source
    from argostats_spark.sources.netcdf import ingest_gdac, write_argo_prof_nc

    d = tmp_path / "gdac" / "coriolis" / "6901999"
    d.mkdir(parents=True)
    pres = np.tile(np.linspace(5, 1500, 25), (2, 1))
    write_argo_prof_nc(
        str(d), 6901999,
        lons=[10.5, 11.0], lats=[-40.0, -40.5],
        juld_days=[27759.5, 27760.5], data_modes="DD",
        pres=pres, temp=20 - pres / 100.0, psal=35 + pres * 0,
    )
    (tmp_path / "gdac" / "corrupt").mkdir()
    (tmp_path / "gdac" / "corrupt" / "123_prof.nc").write_bytes(b"CDF\x01junk")

    register_argo_source(spark)
    via_source = (
        spark.read.format("argo_gdac")
        .load(str(tmp_path / "gdac" / "*" / "*"))
        .orderBy("WMO", "IPROF")
        .toPandas()
    )
    via_mapinpandas = (
        ingest_gdac(spark, str(tmp_path / "gdac" / "*" / "*"))
        .orderBy("WMO", "IPROF")
        .toPandas()
    )
    assert len(via_source) == len(via_mapinpandas) == 2  # corrupt → 0 rows
    assert via_source.WMO.tolist() == [6901999, 6901999]
    assert via_source.DAC.tolist() == via_mapinpandas.DAC.tolist() == [2, 2]
    np.testing.assert_allclose(
        np.stack(via_source.PRES.to_numpy()),
        np.stack(via_mapinpandas.PRES.to_numpy()),
        rtol=1e-6,
    )
    assert via_source.JULD.tolist() == via_mapinpandas.JULD.tolist()


def test_netcdf4_fallback_where_xarray_installed(tmp_path):
    """The NetCDF-4/HDF5 branch of parse_netcdf_bytes is env-gated on
    xarray (absent in this container → skipped); wherever the libs
    exist this activates automatically and pins the fallback path:
    a netCDF4-format file must parse to the same rows as its classic
    twin. Non-classic bytes without xarray must raise
    NotImplementedError (not silently yield nothing)."""
    import numpy as np
    import pytest

    from argostats_spark.sources.netcdf import _xr, parse_netcdf_bytes

    if _xr is None:
        # still pin the no-xarray contract before skipping
        with pytest.raises(NotImplementedError):
            parse_netcdf_bytes("x/6900000_prof.nc", b"\x89HDF\r\n\x1a\n" + b"\0" * 64)
        pytest.skip("xarray not installed; NetCDF-4 branch env-gated")

    xr = _xr  # pragma: no cover — runs only where xarray exists
    n = 12
    pres = np.linspace(5, 1100, n, dtype="f4")
    ds = xr.Dataset(
        {
            "LONGITUDE": ("N_PROF", np.array([10.0])),
            "LATITUDE": ("N_PROF", np.array([-40.0])),
            "JULD": ("N_PROF", np.array([np.datetime64("2026-01-01T12:00")])),
            "DATA_MODE": ("N_PROF", np.array(["R"])),
            "POSITION_QC": ("N_PROF", np.array([1])),
            "JULD_QC": ("N_PROF", np.array([1])),
            "PRES": (("N_PROF", "N_LEVELS"), pres[None, :]),
            "TEMP": (("N_PROF", "N_LEVELS"), (20 - pres / 100)[None, :]),
            "PSAL": (("N_PROF", "N_LEVELS"), np.full((1, n), 35.0, "f4")),
            "PRES_QC": (("N_PROF", "N_LEVELS"), np.ones((1, n), "i1")),
            "TEMP_QC": (("N_PROF", "N_LEVELS"), np.ones((1, n), "i1")),
            "PSAL_QC": (("N_PROF", "N_LEVELS"), np.ones((1, n), "i1")),
        }
    )
    p = tmp_path / "6904444_prof.nc"
    ds.to_netcdf(p, format="NETCDF4")
    pdf = parse_netcdf_bytes(str(p), p.read_bytes())
    assert pdf.WMO.tolist() == [6904444]
    assert abs(pdf.PRES.iloc[0][0] - 5.0) < 1e-4


def test_netcdf_ingest_adjusted_vars_dac_and_blank_qc(spark, tmp_path):
    """S3/S4 fidelity on REAL bytes (reference interpolation.py:185-196,
    toctools.py:22-23): an all-'D' file carrying *_ADJUSTED variables
    must interpolate the ADJUSTED values end-to-end; DAC comes from the
    GDAC directory layout; blank QC fill characters parse to 0 instead
    of crashing the file."""
    import numpy as np

    from argostats_spark.operators.interpolation import interpolate_profiles
    from argostats_spark.sources.netcdf import (
        ingest_gdac, parse_argo_classic, write_argo_prof_nc,
    )

    n = 30
    pres = np.tile(np.linspace(5, 1500, n), (2, 1))
    temp = 20 - pres / 100.0
    psal = 35 + pres * 0
    kw = dict(
        lons=[10.5, 11.0], lats=[-40.0, -40.5],
        juld_days=[27759.5, 27760.5], data_modes="DD",
        pres=pres, temp=temp, psal=psal,
    )
    d1 = tmp_path / "gdac" / "coriolis" / "6901111"
    d2 = tmp_path / "gdac" / "aoml" / "6902222"
    d1.mkdir(parents=True); d2.mkdir(parents=True)
    # delayed-mode calibration shifted the temperature by +1.0 exactly
    write_argo_prof_nc(
        str(d1), 6901111, pres_adj=pres, temp_adj=temp + 1.0, psal_adj=psal, **kw
    )
    write_argo_prof_nc(str(d2), 6902222, **kw)  # no adjusted vars

    raw = ingest_gdac(spark, str(tmp_path / "gdac" / "*" / "*"))
    rows = {(r["WMO"], r["IPROF"]): r for r in raw.collect()}
    assert rows[(6901111, 0)]["DAC"] == 2   # coriolis
    assert rows[(6902222, 0)]["DAC"] == 0   # aoml
    assert rows[(6901111, 0)]["TEMP_ADJUSTED"] is not None
    assert rows[(6902222, 0)]["TEMP_ADJUSTED"] is None

    prof = interpolate_profiles(raw)
    ct = {r["WMO"]: np.array(r["CT"])[np.array(r["IDX"]) == 1]
          for r in prof.filter(F.col("IPROF") == 0).collect()}
    # same raw values, so the only difference is the adjusted +1.0 shift
    diff = ct[6901111] - ct[6902222]
    assert 0.8 < float(diff.mean()) < 1.2, diff

    # blank QC fill: levels with ' ' parse to 0 (no QC), rest unharmed
    qc_chars = np.full((1, n), b"1", dtype="S1")
    qc_chars[0, 5:9] = b" "
    f = write_argo_prof_nc(
        str(tmp_path), 6903333,
        lons=[0.0], lats=[0.0], juld_days=[27000.0], data_modes="R",
        pres=pres[:1], temp=temp[:1], psal=psal[:1], qc_chars=qc_chars,
    )
    pdf = parse_argo_classic(f, open(f, "rb").read())
    assert pdf.PRES_QC.iloc[0][4] == 1 and pdf.PRES_QC.iloc[0][5] == 0
    assert pdf.DAC.iloc[0] == -1  # unknown layout is surfaced, not aoml


def test_multimodal_real_ppm_decode_through_spark(spark, tmp_path):
    """The decode path is REAL for PPM/BMP: payloads built as genuine
    image bytes flow through to_media_table → mapInPandas extract and
    come back with the TRUE dimensions and grid features (not the
    fake), while undecodable bytes still take the deterministic fake."""
    import numpy as np

    from argostats_spark.operators.multimodal import (
        decode_image, extract_features, image_features, to_media_table,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 255, (24, 40, 3)).astype("u1")
    ppm = b"P6\n40 24\n255\n" + img.tobytes()
    # 16-bit PPM (maxval > 255): two bytes/sample — must NOT be silently
    # misparsed as 8-bit; the decoder refuses and the fake engages
    img16 = rng.integers(0, 65535, (24, 40, 3)).astype(">u2")
    ppm16 = b"P6\n40 24\n65535\n" + img16.tobytes()
    rows = [
        (1, bytearray(ppm)),
        (2, bytearray(b"\x89PNGnotreally...")),
        (3, bytearray(ppm16)),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    media = to_media_table(df, "media_id", "payload", "image")
    out = {r["media_id"]: r for r in extract_features(media, feat_dim=16).collect()}
    assert out[1]["width"] == 40 and out[1]["height"] == 24
    assert out[1]["decoded"] is True
    np.testing.assert_allclose(
        np.asarray(out[1]["feature"], "f4"),
        image_features(decode_image(ppm), 4),
        rtol=1e-6,
    )
    # the PNG-ish bytes can't decode without codec libs → deterministic
    # fake, and the row SAYS so — downstream can filter/alarm
    assert out[2]["width"] != 40 or out[2]["height"] != 24
    assert out[2]["decoded"] is False
    assert out[3]["decoded"] is False  # 16-bit refused, not garbage


def test_multimodal_real_wav_decode_through_spark(spark):
    """Audio twin of the real-decode test: genuine PCM WAV bytes come
    back with (sample_rate, n_samples) in the (width, height) slots and
    per-segment RMS features; a 440 Hz sine has near-constant RMS
    ~1/sqrt(2) of its amplitude in every segment."""
    import io
    import struct
    import numpy as np

    from argostats_spark.operators.multimodal import extract_features, to_media_table

    rate, secs, amp = 8000, 1, 0.5
    t = np.arange(rate * secs) / rate
    x = (amp * np.sin(2 * np.pi * 440 * t) * 32767).astype("<i2")
    data = x.tobytes()
    wav = (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
           + b"data" + struct.pack("<I", len(data)) + data)
    df = spark.createDataFrame([(1, bytearray(wav))], "media_id long, payload binary")
    media = to_media_table(df, "media_id", "payload", "audio")
    row = extract_features(media, feat_dim=16).collect()[0]
    assert row["width"] == rate and row["height"] == rate * secs
    feats = np.asarray(row["feature"], "f4")
    np.testing.assert_allclose(feats, amp / np.sqrt(2), rtol=0.02)


def test_argo_gdac_empty_glob_and_zero_profile_files(spark, tmp_path):
    """Review hardening: an empty glob (pyspark substitutes [None] for an
    empty partition list) and a zero-profile / non-Argo classic file must
    degrade to zero rows, not crash the task (module docstring's S2
    tolerance)."""
    import numpy as np

    from argostats_spark.sources.datasource import register_argo_source
    from argostats_spark.sources.netcdf import parse_netcdf_bytes
    from argostats_spark.sources.netcdf3 import write_netcdf3

    register_argo_source(spark)
    empty = tmp_path / "gdac_empty" / "coriolis" / "x"
    empty.mkdir(parents=True)
    out = spark.read.format("argo_gdac").load(str(tmp_path / "gdac_empty" / "*" / "*"))
    assert out.count() == 0 and len(out.columns) == 19

    # zero-profile classic file: parses "successfully" to 0 rows but must
    # carry the full RAW_SCHEMA column set
    zp = tmp_path / "gdac_zp" / "coriolis" / "1900001"
    zp.mkdir(parents=True)
    write_netcdf3(
        str(zp / "1900001_prof.nc"),
        {"N_PROF": 0, "N_LEVELS": 5},
        {
            "LONGITUDE": (("N_PROF",), np.zeros(0, "f8")),
            "JULD": (("N_PROF",), np.zeros(0, "f8")),
        },
    )
    pdf = parse_netcdf_bytes(
        str(zp / "1900001_prof.nc"), (zp / "1900001_prof.nc").read_bytes()
    )
    assert len(pdf) == 0 and "JULD" in pdf.columns and "PLATFORM" in pdf.columns
    # a stray non-Argo classic file (has profiles=0 dim or lacks Argo
    # vars entirely) must read as zero rows through the source
    out = spark.read.format("argo_gdac").load(str(tmp_path / "gdac_zp" / "*" / "*"))
    assert out.count() == 0


def test_mp4_audio_first_track_fps(spark):
    """fps must come from the VIDEO trak's stts even when an audio trak
    precedes it (common muxer layout): audio 430 samples would read as
    43 fps; the hdlr check must pick the 300-sample video trak -> 30."""
    import struct

    from argostats_spark.operators.multimodal import parse_mp4_duration

    mvhd = _mp4_box(b"mvhd", struct.pack(">I", 0) + struct.pack(">II", 0, 0)
                    + struct.pack(">II", 600, 6000) + b"\x00" * 80)

    def trak_with(handler: bytes, n_samples: int) -> bytes:
        hdlr = _mp4_box(b"hdlr", b"\x00" * 8 + handler + b"\x00" * 12)
        stts = _mp4_box(
            b"stts", struct.pack(">II", 0, 1) + struct.pack(">II", n_samples, 20)
        )
        return _mp4_box(
            b"trak",
            _mp4_box(b"mdia", hdlr + _mp4_box(b"minf", _mp4_box(b"stbl", stts))),
        )

    moov = _mp4_box(b"moov", mvhd + trak_with(b"soun", 430) + trak_with(b"vide", 300))
    mp4 = _mp4_box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + moov
    dur, fps = parse_mp4_duration(mp4)
    assert abs(dur - 10.0) < 1e-9 and abs(fps - 30.0) < 1e-9
    # no-hdlr fallback: first trak carrying an stts still wins
    moov2 = _mp4_box(b"moov", mvhd + trak_with(b"soun", 430)[:0]
                     + _mp4_box(b"trak", _mp4_box(b"mdia", _mp4_box(
                         b"minf", _mp4_box(b"stbl", _mp4_box(
                             b"stts", struct.pack(">II", 0, 1)
                             + struct.pack(">II", 150, 40)))))))
    mp42 = _mp4_box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + moov2
    _, fps2 = parse_mp4_duration(mp42)
    assert abs(fps2 - 15.0) < 1e-9


def test_netcdf3_int_attr_overflow_raises(tmp_path):
    """CDF-1 attrs are 32-bit: an int64-range attr must raise, not wrap."""
    import numpy as np
    import pytest

    from argostats_spark.sources.netcdf3 import write_netcdf3

    with pytest.raises(ValueError, match="NC_INT range"):
        write_netcdf3(
            str(tmp_path / "x.nc"),
            {"N": 1},
            {"V": (("N",), np.zeros(1, "f4"))},
            global_attrs={"n_profiles": 3_000_000_000},
        )


def test_default_driver_mem_is_host_sized():
    import re

    from argostats_spark.session import _default_driver_mem

    mem = _default_driver_mem()
    assert re.fullmatch(r"\d+g", mem)
    assert 1 <= int(mem[:-1]) <= 48


def test_argo_gdac_streaming_source(spark, tmp_path):
    """readStream.format("argo_gdac"): files that appear between
    triggers arrive as micro-batches, each profile exactly once (the
    offset is the exact seen-file set, so a replayed batch is
    deterministic). Continuous GDAC sync — a capability the reference's
    re-walk-everything model lacks."""
    import numpy as np

    from argostats_spark.sources.datasource import register_argo_source
    from argostats_spark.sources.netcdf import write_argo_prof_nc

    register_argo_source(spark)
    d1 = tmp_path / "gdac" / "coriolis" / "6902001"
    d1.mkdir(parents=True)
    pres = np.tile(np.linspace(5, 900, 12), (2, 1))
    write_argo_prof_nc(
        str(d1), 6902001, lons=[1.0, 2.0], lats=[10.0, 11.0],
        juld_days=[27000.0, 27001.0], data_modes="RR",
        pres=pres, temp=18 - pres / 100.0, psal=35 + pres * 0,
    )

    stream = (
        spark.readStream.format("argo_gdac")
        .load(str(tmp_path / "gdac" / "*" / "*"))
        .select("WMO", "IPROF", "DAC")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("gdac_live")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        first = spark.table("gdac_live").toPandas()
        assert sorted(first.IPROF.tolist()) == [0, 1]
        assert set(first.WMO) == {6902001} and set(first.DAC) == {2}

        # a new float arrives at the DAC between triggers
        d2 = tmp_path / "gdac" / "aoml" / "6902002"
        d2.mkdir(parents=True)
        write_argo_prof_nc(
            str(d2), 6902002, lons=[3.0], lats=[12.0],
            juld_days=[27002.0], data_modes="R",
            pres=pres[:1], temp=18 - pres[:1] / 100.0, psal=35 + pres[:1] * 0,
        )
        q.processAllAvailable()
        both = spark.table("gdac_live").toPandas()
        # exactly once: 2 + 1 rows, no re-emission of the first file
        assert len(both) == 3
        assert sorted(both.WMO.tolist()) == [6902001, 6902001, 6902002]
        assert sorted(both.DAC.tolist()) == [0, 2, 2]
    finally:
        q.stop()


def test_argo_gdac_stream_reemits_rewritten_file(spark, tmp_path):
    """GDAC updates rewrite <wmo>_prof.nc in place (a new cycle appends
    a profile). The fingerprint offset (mtime:size) must re-emit the
    whole changed file as change data, while unchanged files stay
    exactly-once."""
    import numpy as np

    from argostats_spark.sources.datasource import register_argo_source
    from argostats_spark.sources.netcdf import write_argo_prof_nc

    register_argo_source(spark)
    d = tmp_path / "gdac" / "coriolis" / "6902101"
    d.mkdir(parents=True)
    pres = np.tile(np.linspace(5, 900, 10), (3, 1))
    write_argo_prof_nc(
        str(d), 6902101, lons=[1.0], lats=[10.0],
        juld_days=[27000.0], data_modes="R",
        pres=pres[:1], temp=18 + pres[:1] * 0, psal=35 + pres[:1] * 0,
    )
    other = tmp_path / "gdac" / "aoml" / "6902102"
    other.mkdir(parents=True)
    write_argo_prof_nc(
        str(other), 6902102, lons=[2.0], lats=[20.0],
        juld_days=[27000.5], data_modes="R",
        pres=pres[:1], temp=17 + pres[:1] * 0, psal=34 + pres[:1] * 0,
    )

    stream = (
        spark.readStream.format("argo_gdac")
        .load(str(tmp_path / "gdac" / "*" / "*"))
        .select("WMO", "IPROF")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("gdac_cdc")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert len(spark.table("gdac_cdc").collect()) == 2

        # float 6902101 completes a new cycle: the GDAC rewrites its
        # file with 2 profiles now
        write_argo_prof_nc(
            str(d), 6902101, lons=[1.0, 1.5], lats=[10.0, 10.5],
            juld_days=[27000.0, 27010.0], data_modes="RR",
            pres=pres[:2], temp=18 + pres[:2] * 0, psal=35 + pres[:2] * 0,
        )
        q.processAllAvailable()
        rows = spark.table("gdac_cdc").toPandas()
        # 2 initial + 2 re-emitted (whole rewritten file), nothing from
        # the untouched 6902102
        assert len(rows) == 4
        assert sorted(rows.WMO.tolist()) == [6902101, 6902101, 6902101, 6902102]
    finally:
        q.stop()


def test_gdac_summary_sync_pipeline(spark, tmp_path):
    """End-to-end continuous sync: argo_gdac stream → foreachBatch MERGE
    into a Parquet summary table. New floats insert, rewritten floats
    replace their row set (no duplicates), untouched floats survive, and
    a drained re-run is a no-op. The reference's O(GDAC) re-walk becomes
    O(changed files) per trigger."""
    import numpy as np

    from argostats_spark.sources.netcdf import write_argo_prof_nc
    from argostats_spark.streaming.gdac import gdac_summary_sync

    gdac = tmp_path / "gdac"
    d1 = gdac / "coriolis" / "6902201"
    d1.mkdir(parents=True)
    pres = np.tile(np.linspace(5, 900, 10), (3, 1))
    write_argo_prof_nc(
        str(d1), 6902201, lons=[1.0], lats=[10.0],
        juld_days=[27000.0], data_modes="R",
        pres=pres[:1], temp=18 + pres[:1] * 0, psal=35 + pres[:1] * 0,
    )
    d2 = gdac / "aoml" / "6902202"
    d2.mkdir(parents=True)
    write_argo_prof_nc(
        str(d2), 6902202, lons=[2.0], lats=[20.0],
        juld_days=[27001.0], data_modes="R",
        pres=pres[:1], temp=17 + pres[:1] * 0, psal=34 + pres[:1] * 0,
    )

    table = str(tmp_path / "summary_table")
    ckpt = str(tmp_path / "sync_ckpt")
    glob_path = str(gdac / "*" / "*")

    q = gdac_summary_sync(spark, glob_path, table, ckpt)
    q.awaitTermination()
    first = spark.read.parquet(table).toPandas()
    assert sorted(first.WMO.tolist()) == [6902201, 6902202]
    assert set(first.N_PROF) == {1}

    # float 6902201 reports a second cycle (file rewritten in place);
    # a brand-new float 6902203 appears
    write_argo_prof_nc(
        str(d1), 6902201, lons=[1.0, 1.5], lats=[10.0, 10.5],
        juld_days=[27000.0, 27010.0], data_modes="RR",
        pres=pres[:2], temp=18 + pres[:2] * 0, psal=35 + pres[:2] * 0,
    )
    d3 = gdac / "coriolis" / "6902203"
    d3.mkdir(parents=True)
    write_argo_prof_nc(
        str(d3), 6902203, lons=[3.0], lats=[30.0],
        juld_days=[27002.0], data_modes="R",
        pres=pres[:1], temp=16 + pres[:1] * 0, psal=33 + pres[:1] * 0,
    )

    q = gdac_summary_sync(spark, glob_path, table, ckpt)
    q.awaitTermination()
    second = spark.read.parquet(table).toPandas().sort_values(["WMO", "IPROF"])
    # 6902201 replaced (2 rows, N_PROF=2, no leftover single-cycle row),
    # 6902202 untouched, 6902203 inserted
    assert second.WMO.tolist() == [6902201, 6902201, 6902202, 6902203]
    assert second[second.WMO == 6902201].N_PROF.tolist() == [2, 2]
    assert second[second.WMO == 6902201].IPROF.tolist() == [0, 1]

    # drained re-run with nothing new: table unchanged
    q = gdac_summary_sync(spark, glob_path, table, ckpt)
    q.awaitTermination()
    third = spark.read.parquet(table).toPandas()
    assert len(third) == 4


def test_gdac_offset_compaction_replay_exactly_once(tmp_path):
    """Property test for the compacted (mtime watermark + tail tie-set)
    streaming offset: offsets stay O(boundary ties) not O(corpus);
    replay across a compacted offset boundary — including files
    rewritten in place — covers every live file version exactly once
    (no file in two batches, none dropped); boundary mtime ties resolve
    via the tail set; legacy exact-map offsets from pre-compaction
    checkpoints still diff correctly."""
    import os

    from argostats_spark.sources.datasource import (
        ArgoGdacStreamReader,
        _file_fingerprint,
    )

    gdac = tmp_path / "gdac"
    files = []
    base_ns = 1_700_000_000_000_000_000
    for i in range(20):
        d = gdac / "dac" / f"69{i:05d}"
        d.mkdir(parents=True)
        p = d / f"69{i:05d}_prof.nc"
        p.write_bytes(b"x" * (10 + i))
        # distinct mtimes, except i=18,19 deliberately TIE at the max —
        # the watermark-boundary case the tail set exists for
        mt = base_ns + min(i, 18) * 1_000_000
        os.utime(p, ns=(mt, mt))
        files.append(str(p))

    # slack=0 pins the pure watermark+tie-set compaction shape; the
    # bounded-lateness window has its own test below
    opts = {"path": str(gdac / "*" / "*"), "pattern": "*_prof.nc", "latenessSlackSec": "0"}
    rdr = ArgoGdacStreamReader(opts)
    o0 = rdr.initialOffset()
    o1 = rdr.latestOffset()
    batch1 = sorted(p.value for p in rdr.partitions(o0, o1))
    assert batch1 == sorted(files)  # everything is new in batch 1
    # compaction: the offset names only the two boundary-tied files,
    # not the 20-file corpus
    assert "seen" not in o1
    assert sorted(o1["tail"]) == sorted(files[18:])

    # between triggers: one in-place rewrite (GDAC new-cycle path) and
    # one brand-new float
    os.utime(files[3])  # rewrite-in-place: same path, newer mtime
    d_new = gdac / "dac" / "6999999"
    d_new.mkdir(parents=True)
    f_new = str(d_new / "6999999_prof.nc")
    with open(f_new, "wb") as fh:
        fh.write(b"new")
    o2 = rdr.latestOffset()
    batch2 = sorted(p.value for p in rdr.partitions(o1, o2))
    assert batch2 == sorted([files[3], f_new])

    # "restart": a fresh reader replays both batches from the
    # checkpointed offsets alone — union covers every live file exactly
    # once (the rewritten file moves from batch 1 to batch 2; no file
    # appears twice, none is dropped)
    rdr2 = ArgoGdacStreamReader(opts)
    replayed = [
        p.value for p in rdr2.partitions(o0, o1)
    ] + [p.value for p in rdr2.partitions(o1, o2)]
    assert sorted(replayed) == sorted(files + [f_new])
    assert len(replayed) == len(set(replayed))

    # drained: nothing new → empty batch, watermark stable
    o3 = rdr.latestOffset()
    assert rdr.partitions(o2, o3) == []

    # legacy exact-map checkpoint continues against a compacted end:
    # a start offset naming all files but with a stale fingerprint for
    # files[5] re-emits exactly that file
    legacy = {"seen": {f: _file_fingerprint(f) for f in files + [f_new]}}
    legacy["seen"][files[5]] = "0:0"
    cont = sorted(p.value for p in rdr.partitions(legacy, o3))
    assert cont == [files[5]]

    # offsetMode=exact keeps the audit-grade full map
    exact = ArgoGdacStreamReader({**opts, "offsetMode": "exact"})
    e1 = exact.latestOffset()
    assert set(e1["seen"]) == set(files + [f_new])
    assert sorted(p.value for p in exact.partitions(exact.initialOffset(), e1)) == sorted(
        files + [f_new]
    )


def test_streaming_atlas_refresh_equals_batch(spark, tmp_path):
    """The EAPE batch-refresh trigger (streaming/atlas.py — the SCALE.md
    "pass 2 does not stream" item): profiles arriving over several
    micro-batches through the incremental pair join + periodic two-pass
    rebuild must land on the SAME atlas as one batch run over all
    profiles — per-cell n_points exact, CT/SR/W/RHO/EAPE arrays equal to
    float tolerance (the kernel's f8 accumulation order differs with
    batch arrival order; everything else is identical math over the
    identical pair multiset)."""
    from argostats_spark.operators.atlas import clim_eape, clim_ts, make_grid
    from argostats_spark.operators.interpolation import interpolate_profiles
    from argostats_spark.sources.synthetic import make_raw
    from argostats_spark.streaming.atlas import atlas_refresh_writer

    raw = make_raw(spark, n_wmos=4, profiles_per_wmo=5, seed=7)
    profiles = interpolate_profiles(raw)
    prof_dir = str(tmp_path / "profiles")
    profiles.repartition(2).write.mode("overwrite").parquet(prof_dir)
    schema = spark.read.parquet(prof_dir).schema

    grid = make_grid(spark, (-180.0, 180.0, -60.0, 64.0), reso_deg=10.0)
    pair_dir = str(tmp_path / "pairs")
    atlas_dir = str(tmp_path / "atlas")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(prof_dir)
    )
    q = (
        stream.writeStream.foreachBatch(
            atlas_refresh_writer(grid, pair_dir, atlas_dir, 10.0, 2.0)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    from argostats_spark.streaming.atlas import current_atlas

    got = current_atlas(spark, atlas_dir).toPandas().sort_values(
        ["glon", "glat"]
    ).reset_index(drop=True)

    full = spark.read.parquet(prof_dir)
    ts = clim_ts(grid, full, 10.0, 2.0).localCheckpoint(eager=True)
    eape = clim_eape(grid, full, 10.0, 2.0)
    want = (
        ts.join(eape.select("glon", "glat", "RHO", "EAPE"), on=["glon", "glat"])
        .toPandas().sort_values(["glon", "glat"]).reset_index(drop=True)
    )

    assert len(got) == len(want) > 0
    assert (got.glon.to_numpy() == want.glon.to_numpy()).all()
    assert (got.glat.to_numpy() == want.glat.to_numpy()).all()
    assert (got.n_points.to_numpy() == want.n_points.to_numpy()).all()
    for col in ("CT", "SR", "W", "RHO", "EAPE"):
        a = np.stack(got[col].to_numpy())
        b = np.stack(want[col].to_numpy())
        np.testing.assert_allclose(a, b, rtol=1e-5, atol=1e-5, err_msg=col)


def test_gdac_flaky_partial_listing_keeps_emitted_tail(tmp_path):
    """Round-5 advice: a PARTIAL listing that still advances the
    watermark must not rebuild the tail without a previously-emitted
    file inside the slack window — that file's reappearance (unchanged)
    would be re-emitted, degrading exactly-once to at-least-once. The
    carried tail entry rides along until it ages out; a file that
    actually CHANGED during the outage is still re-emitted (fingerprint
    mismatch)."""
    import os

    from argostats_spark.sources.datasource import ArgoGdacStreamReader

    gdac = tmp_path / "gdac"
    base_ns = 1_700_000_000_000_000_000
    paths = {}
    for name, off_ms in (("a", 0), ("b", 1), ("c", 2)):
        d = gdac / "dac" / name
        d.mkdir(parents=True)
        p = d / f"{name}_prof.nc"
        p.write_bytes(b"x")
        mt = base_ns + off_ms * 1_000_000
        os.utime(p, ns=(mt, mt))
        paths[name] = str(p)

    opts = {"path": str(gdac / "*" / "*"), "latenessSlackSec": "10"}
    rdr = ArgoGdacStreamReader(opts)

    # trigger 1: a and b exist, both emitted, both in the slack tail
    os.remove(paths["c"])
    o1 = rdr.latestOffset()
    assert sorted(p.value for p in rdr.partitions(rdr.initialOffset(), o1)) == sorted(
        [paths["a"], paths["b"]]
    )
    assert sorted(o1["tail"]) == sorted([paths["a"], paths["b"]])
    fp_a = o1["tail"][paths["a"]]

    # trigger 2: flaky listing omits a; c appears so the watermark still
    # advances. The new tail must CARRY a's committed fingerprint.
    with open(paths["c"], "wb") as fh:
        fh.write(b"x")
    mt_c = base_ns + 2_000_000
    os.utime(paths["c"], ns=(mt_c, mt_c))
    real_listing = rdr._listing
    rdr._listing = lambda: {
        f: fp for f, fp in real_listing().items() if f != paths["a"]
    }
    o2 = rdr.latestOffset()
    assert o2["wm"] == mt_c
    assert o2["tail"].get(paths["a"]) == fp_a, "carried tail entry dropped"
    batch2 = sorted(p.value for p in rdr.partitions(o1, o2))
    assert batch2 == [paths["c"]]

    # trigger 3: listing heals, a reappears UNCHANGED → not re-emitted
    rdr._listing = real_listing
    o3 = rdr.latestOffset()
    assert rdr.partitions(o2, o3) == []

    # but a file that changed during the outage is still re-emitted
    os.utime(paths["a"], ns=(mt_c, mt_c))  # in-window rewrite, same size
    o4 = rdr.latestOffset()
    assert [p.value for p in rdr.partitions(o3, o4)] == [paths["a"]]


def test_gdac_offset_compaction_random_churn_exactly_once(tmp_path):
    """Randomized churn property for the compacted offsets: across many
    triggers of interleaved creates / in-place rewrites (with forced
    mtime ties at trigger boundaries), chained batches emit every file
    version at most once per trigger and the full replayed chain covers
    every live file exactly once. Seeded RNG — deterministic failures."""
    import os
    import random

    from argostats_spark.sources.datasource import ArgoGdacStreamReader

    rng = random.Random(20260813)
    gdac = tmp_path / "gdac"
    (gdac / "dac").mkdir(parents=True)
    clock = 1_700_000_000_000_000_000
    live: list[str] = []

    def create(i: int, mt: int) -> str:
        d = gdac / "dac" / f"69{i:05d}"
        d.mkdir(exist_ok=True)
        p = str(d / f"69{i:05d}_prof.nc")
        with open(p, "wb") as fh:
            fh.write(os.urandom(rng.randrange(4, 64)))
        os.utime(p, ns=(mt, mt))
        return p

    rdr = ArgoGdacStreamReader({"path": str(gdac / "*" / "*")})
    offsets = [rdr.initialOffset()]
    per_trigger_batches = []
    n_files = 0
    for trigger in range(12):
        # random churn: a few creates and rewrites per trigger, some
        # sharing one mtime (watermark boundary ties)
        tie_mt = clock = clock + rng.randrange(1, 10) * 1_000_000
        for _ in range(rng.randrange(0, 4)):
            clock += rng.randrange(0, 2) * 1_000  # 50%: tie with previous
            live.append(create(n_files, clock))
            n_files += 1
        for _ in range(rng.randrange(0, 3)):
            if live:
                clock += rng.randrange(0, 2) * 1_000
                victim = rng.choice(live)
                with open(victim, "ab") as fh:
                    fh.write(b"x")
                os.utime(victim, ns=(clock, clock))
        del tie_mt
        offsets.append(rdr.latestOffset())
        batch = sorted(p.value for p in rdr.partitions(offsets[-2], offsets[-1]))
        assert len(batch) == len(set(batch))  # no dupes inside a batch
        per_trigger_batches.append(batch)

    # quiescent filesystem: replaying the whole offset chain from a
    # fresh reader ("restart") covers every live file exactly once
    fresh = ArgoGdacStreamReader({"path": str(gdac / "*" / "*")})
    replayed: list[str] = []
    for start, end in zip(offsets, offsets[1:]):
        replayed.extend(p.value for p in fresh.partitions(start, end))
    assert sorted(replayed) == sorted(live)
    # and replay is deterministic: a second pass yields the same chain
    again: list[str] = []
    for start, end in zip(offsets, offsets[1:]):
        again.extend(p.value for p in fresh.partitions(start, end))
    assert sorted(again) == sorted(replayed)


def test_gdac_watermark_monotone_and_lateness_slack(tmp_path):
    """The two compacted-offset races an exact map never had, closed:

    1. a transiently-EMPTY listing (NFS hiccup) must not regress the
       watermark to -1 — that offset would commit, and the corpus would
       be re-emitted wholesale when the files reappear;
    2. a file created with an mtime BELOW the watermark (its creation
       raced the listing glob, a later-mtime file was listed first) must
       still be picked up on the next trigger via the bounded-lateness
       tail window, not skipped forever.
    """
    import os
    import shutil

    from argostats_spark.sources.datasource import ArgoGdacStreamReader

    gdac = tmp_path / "gdac"
    base_ns = 1_700_000_000_000_000_000

    def create(name: str, mt_ns: int) -> str:
        d = gdac / "dac" / name
        d.mkdir(parents=True, exist_ok=True)
        p = str(d / f"{name}_prof.nc")
        with open(p, "wb") as fh:
            fh.write(name.encode())
        os.utime(p, ns=(mt_ns, mt_ns))
        return p

    f_b = create("6900001", base_ns + 2_000_000_000)  # "listed first"
    opts = {"path": str(gdac / "*" / "*"), "latenessSlackSec": "5"}
    rdr = ArgoGdacStreamReader(opts)
    o0 = rdr.initialOffset()
    o1 = rdr.latestOffset()
    assert sorted(p.value for p in rdr.partitions(o0, o1)) == [f_b]

    # --- race 2: file a was being written while o1's glob ran; its
    # mtime predates the watermark but is inside the 5 s slack window
    f_a = create("6900000", base_ns + 1_000_000_000)
    o2 = rdr.latestOffset()
    assert sorted(p.value for p in rdr.partitions(o1, o2)) == [f_a]
    # and it is emitted exactly once: the next window excludes it
    o3 = rdr.latestOffset()
    assert rdr.partitions(o2, o3) == []

    # --- race 1: the whole tree blips away; the watermark must carry,
    # not collapse to -1
    saved = tmp_path / "saved"
    shutil.move(str(gdac), str(saved))
    o4 = rdr.latestOffset()
    assert o4["wm"] == o2["wm"]
    assert rdr.partitions(o3, o4) == []
    # files reappear with their old mtimes: nothing is re-emitted
    shutil.move(str(saved), str(gdac))
    o5 = rdr.latestOffset()
    assert rdr.partitions(o4, o5) == []

    # --- restart during the blip: a FRESH reader (carry state lost)
    # adopts the committed start watermark via partitions(), so its next
    # latestOffset cannot regress either
    shutil.move(str(gdac), str(saved))
    rdr2 = ArgoGdacStreamReader(opts)
    assert rdr2.partitions(o3, o3) == []  # replay of committed window
    o6 = rdr2.latestOffset()
    assert o6["wm"] == o3["wm"]
    shutil.move(str(saved), str(gdac))
    assert rdr2.partitions(o3, o6) == []

    # --- restart where only commit() fires before the blip (crash after
    # the batch completed): commit is the channel that relearns the
    # committed watermark (round-5 review finding)
    rdr3 = ArgoGdacStreamReader(opts)
    rdr3.commit(o3)
    shutil.move(str(gdac), str(saved))
    o7 = rdr3.latestOffset()
    assert o7["wm"] == o3["wm"]
    shutil.move(str(saved), str(gdac))
    assert rdr3.partitions(o3, o7) == []

    # --- replayed-uncommitted-batch restart adopts the END offset too:
    # a fresh reader replaying (o1 -> o2] must not let a later empty
    # listing regress below o2 (start-only adoption left the carry one
    # batch behind — round-5 review finding)
    rdr4 = ArgoGdacStreamReader(opts)
    assert sorted(p.value for p in rdr4.partitions(o1, o2)) == [f_a]
    shutil.move(str(gdac), str(saved))
    o8 = rdr4.latestOffset()
    assert o8["wm"] == o2["wm"]
    shutil.move(str(saved), str(gdac))
    assert rdr4.partitions(o2, o8) == []

    # --- offsetMode=exact has the same empty-listing guard: the map
    # carries instead of collapsing to {} (which would re-emit the
    # corpus when files reappear)
    ex = ArgoGdacStreamReader({**opts, "offsetMode": "exact"})
    e1 = ex.latestOffset()
    assert set(e1["seen"]) == {f_a, f_b}
    shutil.move(str(gdac), str(saved))
    e2 = ex.latestOffset()
    assert e2["seen"] == e1["seen"]
    shutil.move(str(saved), str(gdac))
    assert ex.partitions(e1, e2) == []


def test_atlas_publish_is_atomic_for_concurrent_readers(spark, tmp_path):
    """Round-6 verdict item 4: a reader polling current_atlas() in a
    tight loop WHILE refreshes land must never observe a partial,
    empty, or errored atlas — every read returns exactly one of the
    completed versions' row counts. Also pins the retention window
    (old versions pruned to 2) and the pre-publish error."""
    import threading

    from argostats_spark.operators.atlas import make_grid
    from argostats_spark.operators.interpolation import interpolate_profiles
    from argostats_spark.sources.synthetic import make_raw
    from argostats_spark.streaming.atlas import atlas_refresh_writer, current_atlas

    atlas_dir = str(tmp_path / "atlas")
    pair_dir = str(tmp_path / "pairs")

    # nothing published yet → loud, specific failure
    with pytest.raises(FileNotFoundError, match="no atlas published"):
        current_atlas(spark, atlas_dir)

    raw = interpolate_profiles(make_raw(spark, n_wmos=4, profiles_per_wmo=4, seed=11))
    grid = make_grid(spark, (-180.0, 180.0, -60.0, 64.0), reso_deg=10.0)
    refresh = atlas_refresh_writer(grid, pair_dir, atlas_dir, 10.0, 2.0)

    # three growing slices = three refreshes; record each complete count
    slices = [raw.filter(F.col("wmo") <= w).localCheckpoint(eager=True)
              for w in (1001, 1002, 1003)]
    complete_counts = set()
    refresh(slices[0], 0)
    complete_counts.add(current_atlas(spark, atlas_dir).count())

    observed: list = []
    errors: list = []
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            try:
                observed.append(current_atlas(spark, atlas_dir).count())
            except Exception as e:  # noqa: BLE001 — the test's whole point
                errors.append(repr(e))

    t = threading.Thread(target=poll, daemon=True)
    t.start()
    try:
        for i, sl in enumerate(slices[1:], start=1):
            refresh(sl, i)
            complete_counts.add(current_atlas(spark, atlas_dir).count())
    finally:
        stop.set()
        t.join(timeout=60)
    refresh.unpersist_grid()

    assert not errors, errors[:3]
    assert len(observed) > 0
    bad = [c for c in observed if c not in complete_counts]
    assert bad == [], (bad[:5], complete_counts)

    # retention: at most 2 versions on disk, CURRENT resolves newest
    import os

    vers = sorted(d for d in os.listdir(atlas_dir) if d.startswith("v="))
    assert len(vers) <= 2 and "v=2" in vers
    with open(os.path.join(atlas_dir, "CURRENT")) as f:
        assert f.read().strip() == "2"


def _pgm(arr) -> bytes:
    import numpy as np

    a = np.asarray(arr, dtype="u1")
    h, w = a.shape
    return b"P5\n%d %d\n255\n" % (w, h) + a.tobytes()


def test_image_phash_near_dups_finds_reencodes_not_strangers(spark):
    """Perceptual dHash near-dup: a brightness-shifted copy and a
    2x-upscaled copy hash within hamming range of the original
    (adjacent-pixel gradients survive both transforms), a different
    image does not, and byte-identical copies hash at distance 0 —
    the re-encoded-duplicate detector exact byte dedup cannot be."""
    import hashlib

    import numpy as np

    from argostats_spark.operators.dedup import image_phash_near_dups
    from argostats_spark.operators.multimodal import dhash64, decode_image

    rng = np.random.default_rng(5)
    base = (rng.integers(0, 200, (32, 48)) + np.linspace(0, 55, 48)).astype("u1")
    bright = np.clip(base.astype("i4") + 40, 0, 255).astype("u1")
    up = np.repeat(np.repeat(base, 2, axis=0), 2, axis=1)  # 2x nearest upscale
    other = rng.integers(0, 255, (32, 48)).astype("u1")

    payloads = [
        (0, _pgm(base)), (1, _pgm(bright)), (2, _pgm(up)),
        (3, _pgm(other)), (4, _pgm(base)),  # byte-identical copy
        (5, b"\x89PNG not decodable here"),
    ]
    media = spark.createDataFrame(
        [(i, bytearray(p), "image", hashlib.sha256(p).hexdigest())
         for i, p in payloads],
        "media_id long, payload binary, kind string, sha256 string",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in image_phash_near_dups(media, max_hamming=6, blocks=8).collect()
    }
    assert (0, 4) in pairs and pairs[(0, 4)] == 0          # identical
    assert (0, 1) in pairs                                  # brightness shift
    assert (0, 2) in pairs                                  # 2x upscale
    assert not any(3 in p for p in pairs)                   # stranger
    assert not any(5 in p for p in pairs)                   # undecodable: excluded

    # pigeonhole completeness: block join == brute force on this set
    sigs = {i: dhash64(decode_image(p)) for i, p in payloads[:5]}
    m64 = (1 << 64) - 1  # mask: signed ints XOR negative, bin() breaks
    brute = {
        (a, b): bin((sigs[a] ^ sigs[b]) & m64).count("1")
        for a in sigs for b in sigs if a < b
        and bin((sigs[a] ^ sigs[b]) & m64).count("1") <= 6
    }
    assert pairs == brute


def test_phash_quarantines_corrupt_payloads(spark):
    """A corrupt payload raising an exception type OUTSIDE the happy
    decode surface (a 5-byte 'BM' header raises struct.error, a
    zero-dimension PPM breaks downstream array ops) must yield phash
    NULL / decoded=false, never kill the scan (review finding r8)."""
    import hashlib

    from argostats_spark.operators.multimodal import image_phash_table

    payloads = [
        (0, _pgm(__import__("numpy").zeros((8, 8), "u1"))),  # decodes fine
        (1, b"BM\x00\x00\x00"),          # struct.error in header unpack
        (2, b"P6 0 0 255\n"),            # zero-size image -> array-op error
        (3, b"BM" + b"\xff" * 60),        # ValueError path (still covered)
    ]
    media = spark.createDataFrame(
        [(i, bytearray(p), "image", hashlib.sha256(p).hexdigest())
         for i, p in payloads],
        "media_id long, payload binary, kind string, sha256 string",
    )
    got = {r["media_id"]: (r["phash"], r["decoded"])
           for r in image_phash_table(media).collect()}
    assert got[0][1] is True and got[0][0] is not None
    for i in (1, 2, 3):
        assert got[i] == (None, False), i


def _wav(x: "np.ndarray", rate: int = 8000) -> bytes:
    """PCM-16 mono WAV bytes from a float array in [-1, 1]."""
    import struct

    import numpy as np

    data = (np.clip(x, -1, 1) * 32767).astype("<i2").tobytes()
    return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
            + b"data" + struct.pack("<I", len(data)) + data)


def test_audio_near_dups_finds_releveled_and_resampled_copies(spark):
    """Energy-envelope audio fingerprint: a gain-scaled copy hashes
    IDENTICALLY (every slice scales together), a 2x-resampled copy
    hashes within hamming range (slices are duration fractions), a
    different signal does not, and undecodable payloads are excluded —
    the audio analog of the image phash test."""
    import hashlib

    import numpy as np

    from argostats_spark.operators.dedup import audio_near_dups
    from argostats_spark.operators.multimodal import audio_hash64, decode_wav

    rng = np.random.default_rng(11)
    # piecewise-varying amplitude so the envelope has real structure
    amps = rng.uniform(0.05, 0.9, 65)
    t = np.arange(8000) / 8000.0
    base = np.concatenate([
        a * np.sin(2 * np.pi * 440 * t[:123]) for a in amps
    ])
    quiet = 0.25 * base                      # uniform gain: same bits
    resampled = np.repeat(base, 2)           # 2x sample-rate stretch
    other = rng.uniform(-0.5, 0.5, len(base))

    payloads = [
        (0, _wav(base)), (1, _wav(quiet)), (2, _wav(resampled, rate=16000)),
        (3, _wav(other)), (4, b"RIFFnotawave"),
    ]
    media = spark.createDataFrame(
        [(i, bytearray(p), "audio", hashlib.sha256(p).hexdigest())
         for i, p in payloads],
        "media_id long, payload binary, kind string, sha256 string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in audio_near_dups(media, max_hamming=6, blocks=8).collect()}
    assert pairs.get((0, 1)) == 0            # gain-invariant: exact
    assert (0, 2) in pairs                   # resample survives
    assert not any(3 in p for p in pairs)    # stranger
    assert not any(4 in p for p in pairs)    # undecodable excluded

    # python-level: the fingerprint really is gain-exact
    r0, x0 = decode_wav(_wav(base))
    r1, x1 = decode_wav(_wav(quiet))
    assert audio_hash64(r0, x0) == audio_hash64(r1, x1)


def test_signatures_keep_all_64_bits_next_to_undecodable_payloads(spark):
    """Every Spark-side image and audio signature equals the driver-side
    dhash64 / audio_hash64 bit for bit, even when an undecodable payload
    (NULL signature) shares the Arrow batch: ``coalesce(1)`` puts all
    payloads in one batch on any core count. A NULL in a plain int
    column would turn it float64 and drop the signatures' low bits."""
    import hashlib

    import numpy as np

    from argostats_spark.operators.multimodal import (
        audio_fingerprint_table, audio_hash64, decode_image, decode_wav,
        dhash64, image_phash_table,
    )

    rng = np.random.default_rng(5)
    imgs = [rng.integers(0, 255, (32, 48)).astype("u1") for _ in range(4)]
    clips = [rng.uniform(-0.9, 0.9, 8000) for _ in range(4)]
    cases = (
        (image_phash_table, [_pgm(a) for a in imgs], b"\x89PNG not decodable here",
         lambda p: dhash64(decode_image(p))),
        (audio_fingerprint_table, [_wav(x) for x in clips], b"RIFFnotawave",
         lambda p: audio_hash64(*decode_wav(p))),
    )
    for table, good, bad, local in cases:
        payloads = [*good[:2], bad, *good[2:]]
        media = spark.createDataFrame(
            [(i, bytearray(p), "media", hashlib.sha256(p).hexdigest())
             for i, p in enumerate(payloads)],
            "media_id long, payload binary, kind string, sha256 string",
        ).coalesce(1)
        got = {r["media_id"]: r["phash"] for r in table(media).collect()}
        want = {i: None if p == bad else local(p) for i, p in enumerate(payloads)}
        assert got == want


def test_sentence_chunker_streaming_equals_batch(spark, tmp_path):
    """chunk_documents_sentences is row-local (regexp pass + in-row
    fold + posexplode), so it must run unchanged on a readStream and
    emit byte-identical chunk rows to the batch path — the same
    stream-safety contract the other row-local operators pin."""
    from argostats_spark.operators.sampling import chunk_documents_sentences

    batches = [
        [(1, "2026-01-01 00:00:00",
          "First things first. Then the second sentence arrives. Done.")],
        [(2, "2026-01-01 00:01:00",
          "One long sentence that just keeps going " * 3 + "finally ends.")],
        [(3, "2026-01-01 00:02:00", "Tiny. Bits. Here. Now. Go.")],
    ]
    path, schema = _doc_batch_files(spark, tmp_path, batches)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{path}/b=*")
    )
    q = run_to_memory(
        chunk_documents_sentences(stream, max_tokens=8),
        "sent_chunk_stream", output_mode="append",
    )
    try:
        got = sorted(
            tuple(r) for r in spark.sql(
                "SELECT doc_id, chunk_id, sent_start, sent_end, chunk_text,"
                " n_chunk_tokens FROM sent_chunk_stream").collect()
        )
    finally:
        q.stop()

    from datetime import datetime

    flat = [r for b in batches for r in b]
    batch_df = spark.createDataFrame(
        [(d, datetime.fromisoformat(t), x) for d, t, x in flat], schema
    )
    want = sorted(
        tuple(r) for r in chunk_documents_sentences(batch_df, max_tokens=8)
        .select("doc_id", "chunk_id", "sent_start", "sent_end",
                "chunk_text", "n_chunk_tokens").collect()
    )
    assert got == want and len(got) >= 4
