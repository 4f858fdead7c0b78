"""Tests for multimodal column plumbing (built-in codecs over real
BMP/PNG/Y4M/WAV payloads, real Spark pipeline) and the
structured-streaming surface."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from openetlagent_spark.functions.multimodal import (
    extract_image_features,
    sample_frames,
    synthesize_media_bmp,
)
from openetlagent_spark.streaming import windowed_event_counts


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="hello media world"), Row(doc_id=2, text="x" * 100)]
    )
    # even ids encode as BMP, odd ids as PNG
    return synthesize_media_bmp(docs, width=32, codec="alternate")


def test_media_schema(media):
    assert set(media.columns) == {"media_id", "payload", "mime", "width", "height", "duration_ms"}
    assert dict(media.dtypes)["payload"] == "binary"


def test_extract_features_deterministic(media):
    a = {r.media_id: r.feature for r in extract_image_features(media, dim=8).collect()}
    b = {r.media_id: r.feature for r in extract_image_features(media, dim=8).collect()}
    assert a == b
    assert all(len(v) == 8 and abs(sum(v) - 1.0) < 1e-6 for v in a.values())
    # n_bytes is the encoded payload size: id 1 is a one-row PNG
    # (stored-block closed form 63 + 5 + 33), id 2 a four-row BMP
    # (54-byte header + 4 rows of stride 96)
    n = {r.media_id: r.n_bytes for r in extract_image_features(media).collect()}
    assert n[1] == 63 + 5 + 33 and n[2] == 54 + 4 * 96


def _gray_bmp(w=8, h=8, value=128):
    import numpy as np

    from openetlagent_spark.functions.multimodal import encode_gray_bmp

    return encode_gray_bmp(np.full((h, w), value, dtype=np.uint8))


def _handbuilt_png(gray: int = 128) -> bytes:
    """A minimal valid 1×1 grayscale PNG, built byte-by-byte with
    struct+zlib — no imaging library needed to CONSTRUCT it, so the
    decode test is self-contained the day codecs exist."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)  # 1x1, 8-bit gray
    idat = zlib.compress(bytes([0, gray]))  # filter byte + one pixel
    return sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def test_real_decode_corrupt_bytes_yield_zero_vector():
    """The decoder's totality contract — corrupt/truncated/empty
    payloads produce (0 pixels, zero vector), never a task failure;
    empty/None payloads short-circuit before any decode."""
    import numpy as np

    from openetlagent_spark.functions.multimodal import _decode_features

    for payload in (b"\x00\x01not-a-png", _handbuilt_png()[:12], b"", None):
        n, out = _decode_features(payload, 16)
        assert n == 0 and out.dtype == np.float32 and out.shape == (16,)
        assert not out.any()


def _gif_1x1() -> bytes:
    """A well-formed 1×1 GIF89a (two-colour table, one LZW-coded pixel)."""
    return (
        b"GIF89a\x01\x00\x01\x00\x80\x00\x00\x00\x00\x00\xff\xff\xff"
        b",\x00\x00\x00\x00\x01\x00\x01\x00\x00\x02\x02D\x01\x00;"
    )


def _tiff_1x1(gray: int = 128) -> bytes:
    """A well-formed little-endian 1×1 8-bit grayscale uncompressed TIFF."""
    import struct

    tags = [  # (tag, type SHORT=3/LONG=4, count, value)
        (256, 3, 1, 1), (257, 3, 1, 1), (258, 3, 1, 8), (259, 3, 1, 1),
        (262, 3, 1, 1), (273, 4, 1, 0), (277, 3, 1, 1), (278, 3, 1, 1),
        (279, 4, 1, 1),
    ]
    ifd_len = 2 + 12 * len(tags) + 4
    strip_off = 8 + ifd_len
    ifd = struct.pack("<H", len(tags))
    for tag, typ, count, value in tags:
        value = strip_off if tag == 273 else value
        ifd += struct.pack("<HHI", tag, typ, count)
        ifd += struct.pack("<HH", value, 0) if typ == 3 else struct.pack("<I", value)
    return b"II*\x00" + struct.pack("<I", 8) + ifd + struct.pack("<I", 0) + bytes([gray])


def _webp_header() -> bytes:
    """A RIFF/WEBP container with a lossless (VP8L) chunk header."""
    import struct

    body = b"\x2f\x00\x00\x00\x00\x07\x10\x11\x11\x88\x88\xfe\x07"
    chunk = b"VP8L" + struct.pack("<I", len(body)) + body + b"\x00" * (len(body) % 2)
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


@pytest.mark.parametrize(
    "payload", [_gif_1x1(), _tiff_1x1(), _webp_header()], ids=["gif", "tiff", "webp"]
)
def test_formats_outside_builtin_codecs_decode_to_zero_vector(payload):
    """Image formats the built-in codecs do not cover take the
    undecodable path: no codec claims them, and the feature is
    (0 pixels, zero vector)."""
    import numpy as np

    from openetlagent_spark.functions.multimodal import (
        _decode_features,
        decode_image_builtin,
    )

    assert decode_image_builtin(payload) is None
    n, out = _decode_features(payload, 16)
    assert n == 0 and out.shape == (16,) and not out.any()
    assert out.dtype == np.float32


def test_unsupported_formats_total_and_strict_through_spark(spark):
    """Through the Spark stages, a GIF image and an MP4 clip beside
    decodable payloads: by default the GIF row keeps its byte count
    with a zero vector and the MP4 clip yields no frame rows; under
    strict both stages fail and name the payload as undecodable."""
    import numpy as np

    from openetlagent_spark.functions.multimodal import encode_y4m_gray

    gif = _gif_1x1()
    images = spark.createDataFrame(
        [Row(media_id=1, payload=bytearray(gif), mime="image/gif"),
         Row(media_id=2, payload=bytearray(_gray_bmp(value=200)), mime="image/bmp")]
    )
    rows = {r.media_id: r for r in extract_image_features(images, dim=16).collect()}
    assert rows[1].n_bytes == len(gif) and rows[1].n_pixels == 0
    assert not any(rows[1].feature)
    assert rows[2].n_pixels == 64 and abs(rows[2].feature[200 // 16] - 1.0) < 1e-6
    with pytest.raises(Exception, match="undecodable"):
        extract_image_features(images, strict=True).collect()

    mp4 = b"\x00\x00\x00\x18ftypisom\x00\x00\x02\x00isomiso2" + b"\x00\x00\x00\x08free"
    clip = encode_y4m_gray(np.full((3, 2, 2), 7, dtype=np.uint8))
    videos = spark.createDataFrame(
        [Row(media_id=5, payload=bytearray(mp4)), Row(media_id=6, payload=bytearray(clip))]
    )
    frames = sample_frames(videos, n_frames=2).collect()
    assert sorted((r.media_id, r.frame_index) for r in frames) == [(6, 0), (6, 1)]
    with pytest.raises(Exception, match="undecodable"):
        sample_frames(videos, n_frames=2, strict=True).collect()


def test_builtin_codec_roundtrips():
    """decode(encode(x)) == x for the pure-Python BMP/PGM codecs over
    random rasters, including widths whose 24-bit rows need stride
    padding (w·3 not a multiple of 4)."""
    import numpy as np

    from openetlagent_spark.functions.multimodal import (
        _decode_bmp,
        _decode_pnm,
        encode_gray_bmp,
        encode_gray_pgm,
    )

    rng = np.random.RandomState(7)
    for h, w in [(1, 1), (3, 2), (7, 5), (8, 8), (2, 32), (5, 31)]:
        arr = rng.randint(0, 256, (h, w)).astype(np.uint8)
        assert np.array_equal(_decode_bmp(encode_gray_bmp(arr)), arr)
        assert np.array_equal(_decode_pnm(encode_gray_pgm(arr)), arr)


def test_builtin_decode_pnm_color_and_comments():
    """P6 RGB payloads reduce via the integer ITU-R 601-2 luma; header
    comments and P5 parse; truncated rasters are rejected (None)."""
    import numpy as np

    from openetlagent_spark.functions.multimodal import _decode_pnm

    red = b"P6\n1 1\n255\n" + bytes([255, 0, 0])
    assert _decode_pnm(red)[0, 0] == (255 * 299) // 1000
    commented = b"P5\n# made by hand\n2 2\n255\n" + bytes([10, 20, 30, 40])
    assert np.array_equal(
        _decode_pnm(commented), np.array([[10, 20], [30, 40]], dtype=np.uint8)
    )
    assert _decode_pnm(b"P5\n2 2\n255\n\x01") is None


def test_builtin_decode_rejects_corrupt_bmp():
    import struct

    import numpy as np

    from openetlagent_spark.functions.multimodal import (
        _decode_bmp,
        decode_image_builtin,
        encode_gray_bmp,
    )

    good = encode_gray_bmp(np.arange(16, dtype=np.uint8).reshape(4, 4))
    assert _decode_bmp(good[: len(good) // 2]) is None  # truncated raster
    assert _decode_bmp(b"BMgarbage") is None
    assert decode_image_builtin(b"\x89PNG\r\n\x1a\n1234") is None  # not builtin
    # top-down BMPs (negative height) decode in file row order
    td = bytearray(encode_gray_bmp(np.array([[1, 2], [3, 4]], dtype=np.uint8)))
    struct.pack_into("<i", td, 22, -struct.unpack_from("<i", td, 22)[0])
    assert np.array_equal(
        _decode_bmp(bytes(td)), np.array([[3, 4], [1, 2]], dtype=np.uint8)
    )


def test_real_decoder_features_builtin(spark):
    """End-to-end real decode through the Spark stage over a hand-built
    BMP — no imaging library anywhere in the path."""
    media = spark.createDataFrame(
        [Row(media_id=1, payload=_gray_bmp(value=128), mime="image/bmp",
             width=8, height=8, duration_ms=0)]
    )
    rows = extract_image_features(media, dim=16).collect()
    feat = rows[0].feature
    # uniform gray 128 → all mass in bin 128//16 = 8
    assert abs(feat[8] - 1.0) < 1e-6 and abs(sum(feat) - 1.0) < 1e-6
    assert rows[0].n_pixels == 64


def test_real_decode_undecodable_yields_zero_vector_spark(spark):
    """The totality contract through the full Spark stage: bytes no
    built-in codec decodes, and empty payloads, yield the zero vector
    and n_pixels=0, never a task failure."""
    media = spark.createDataFrame(
        [
            Row(media_id=1, payload=b"\x00\x01not-an-image", mime="application/octet-stream",
                width=0, height=0, duration_ms=0),
            Row(media_id=2, payload=b"", mime="image/png", width=0, height=0, duration_ms=0),
        ]
    )
    rows = {r.media_id: r for r in extract_image_features(media, dim=16).collect()}
    assert all(not any(r.feature) and r.n_pixels == 0 for r in rows.values())


def test_synthesize_media_bmp_roundtrip(spark):
    """payload = BMP of the text bytes: decode recovers text + pad."""
    import numpy as np

    from openetlagent_spark.functions.multimodal import (
        _decode_bmp,
        synthesize_media_bmp,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="hello media world"), Row(doc_id=2, text=""),
         Row(doc_id=3, text="y" * 33)]
    )
    rows = {r.media_id: r for r in synthesize_media_bmp(docs, width=32).collect()}
    arr = _decode_bmp(rows[1].payload)
    assert arr.shape == (1, 32)
    assert bytes(arr[0, :17]) == b"hello media world" and not arr[0, 17:].any()
    assert rows[2].payload == b"" and rows[2].height == 0
    assert _decode_bmp(rows[3].payload).shape == (2, 32)

    feats = {
        r.media_id: r
        for r in extract_image_features(
            synthesize_media_bmp(docs, width=32), dim=16
        ).collect()
    }
    assert feats[1].n_pixels == 32 and feats[3].n_pixels == 64
    assert feats[2].n_pixels == 0 and not any(feats[2].feature)
    # 54-byte header + stride 96 per row
    assert feats[1].n_bytes == 54 + 96 and feats[3].n_bytes == 54 + 192


def test_sample_frames_expands_rows(spark):
    """One output row per sampled frame: clips of 4 and 3 frames at
    n_frames=3 give 3 rows each, a 1-frame clip gives 1."""
    from openetlagent_spark.functions.multimodal import synthesize_media_y4m

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="x" * 200), Row(doc_id=2, text="y" * 130),
         Row(doc_id=3, text="z")]
    )
    out = sample_frames(synthesize_media_y4m(docs), n_frames=3)
    assert out.count() == 3 + 3 + 1
    idx = sorted(r.frame_index for r in out.filter("media_id = 1").collect())
    assert idx == [0, 1, 2]


def test_streaming_window_counts_match_batch(spark, tmp_path):
    rows = [
        Row(event_id=i, ts=f"2024-01-01 0{i % 3}:1{i}:00", user_id=i % 2, event_type="click", value=float(i), props="{}")
        for i in range(5)
    ]
    batch = spark.createDataFrame(rows).withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "events_src")
    batch.write.parquet(src)

    expected = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in windowed_event_counts(batch, window_duration="1 hour").collect()
    }

    stream = (
        spark.readStream.schema(batch.schema).parquet(src)
    )
    q = (
        windowed_event_counts(stream, window_duration="1 hour", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow run did not finish in 120s"
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got == expected


def test_streaming_dedup_matches_batch(spark, tmp_path):
    from openetlagent_spark.streaming import dedup_events

    # event_id 0..4 each written TWICE (second batch of files duplicates
    # the first) — streaming dedup must keep exactly one per key.
    rows = [
        Row(event_id=i, ts=f"2024-01-01 00:0{i}:00", user_id=i, event_type="click", value=float(i), props="{}")
        for i in range(5)
    ]
    batch = spark.createDataFrame(rows).withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "dedup_src")
    batch.write.parquet(src)
    batch.write.mode("append").parquet(src)

    doubled = spark.read.parquet(src)
    assert doubled.count() == 10
    expected = sorted(r.event_id for r in dedup_events(doubled).collect())
    assert expected == [0, 1, 2, 3, 4]

    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        dedup_events(stream, watermark="2 hours")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow run did not finish in 120s"
    got = sorted(r.event_id for r in spark.sql("SELECT * FROM dedup_out").collect())
    assert got == expected


def test_stream_static_join_matches_batch(spark, tmp_path):
    from openetlagent_spark.streaming import enrich_stream

    rows = [
        Row(event_id=i, ts="2024-01-01 00:00:00", user_id=i % 3, event_type="click", value=float(i), props="{}")
        for i in range(6)
    ]
    batch = spark.createDataFrame(rows).withColumn("ts", F.to_timestamp("ts"))
    dim = spark.createDataFrame(
        [Row(cust_id=0, segment="gold"), Row(cust_id=1, segment="silver")]
    )
    src = str(tmp_path / "enrich_src")
    batch.write.parquet(src)

    expected = sorted(
        (r.event_id, r.segment)
        for r in enrich_stream(
            batch, dim, right_on="cust_id", columns_to_add=["segment"]
        ).collect()
    )
    assert expected == [(0, "gold"), (1, "silver"), (2, None), (3, "gold"), (4, "silver"), (5, None)]

    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        enrich_stream(stream, dim, right_on="cust_id", columns_to_add=["segment"])
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow run did not finish in 120s"
    got = sorted((r.event_id, r.segment) for r in spark.sql("SELECT * FROM enriched").collect())
    assert got == expected


def test_idempotent_stream_sink_exactly_once(spark, tmp_path):
    from openetlagent_spark.streaming import write_stream_idempotent

    rows = [
        Row(event_id=i, ts="2024-01-01 00:00:00", user_id=i, event_type="click", value=float(i), props="{}")
        for i in range(4)
    ]
    batch = spark.createDataFrame(rows).withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "sink_src")
    out = str(tmp_path / "sink_out")
    ckpt = str(tmp_path / "sink_ckpt")
    batch.write.parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = write_stream_idempotent(stream, out, checkpoint=ckpt)
    assert q.awaitTermination(120), "availableNow run did not finish in 120s"
    got = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert got == [0, 1, 2, 3]

    # Restarting against the same checkpoint with no new data must not
    # duplicate anything (batch tracking) — the exactly-once half the
    # batch_id-overwrite layout provides on replay.
    stream2 = spark.readStream.schema(batch.schema).parquet(src)
    q2 = write_stream_idempotent(stream2, out, checkpoint=ckpt)
    q2.awaitTermination(120)
    got2 = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert got2 == [0, 1, 2, 3]


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """join_event_streams on two REAL streams (watermarks + time-range
    condition bounding state) produces the same pairs as its batch
    form."""
    from openetlagent_spark.streaming import join_event_streams

    views = [
        Row(event_id=i, ts=f"2024-01-01 00:{10*i:02d}:00", user_id=i % 2, event_type="view",
            value=0.0, props="{}")
        for i in range(4)
    ]
    buys = [
        Row(event_id=100 + i, ts=f"2024-01-01 00:{10*i+5:02d}:00", user_id=i % 2,
            event_type="purchase", value=float(i), props="{}")
        for i in range(4)
    ]
    vb = spark.createDataFrame(views).withColumn("ts", F.to_timestamp("ts"))
    pb = spark.createDataFrame(buys).withColumn("ts", F.to_timestamp("ts"))
    vsrc, psrc = str(tmp_path / "views"), str(tmp_path / "buys")
    vb.write.parquet(vsrc)
    pb.write.parquet(psrc)

    def project(df):
        return df.select("event_id", "user_id", "ts")

    expected = sorted(
        (r.event_id, r.event_id_r)
        for r in join_event_streams(
            project(vb), project(pb).withColumn("value", F.lit(0.0)), within="30 minutes"
        ).collect()
    )
    assert expected, "batch form must produce pairs"

    vs = spark.readStream.schema(vb.schema).parquet(vsrc)
    ps = spark.readStream.schema(pb.schema).parquet(psrc)
    q = (
        join_event_streams(
            project(vs), project(ps).withColumn("value", F.lit(0.0)), within="30 minutes"
        )
        .writeStream.format("memory")
        .queryName("ssjoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow run did not finish in 120s"
    got = sorted((r.event_id, r.event_id_r) for r in spark.sql("SELECT * FROM ssjoin").collect())
    assert got == expected


def test_streaming_admission_gate_matches_batch(spark, tmp_path):
    """admit_new_documents: stream and batch forms admit the same
    document set (known-corpus fingerprints and stream-dups dropped)."""
    from openetlagent_spark.streaming import admit_new_documents

    known = spark.createDataFrame(
        [Row(doc_id=100, text="already in the corpus")]
    )
    rows = [
        Row(doc_id=1, ts="2024-01-01 00:01:00", text="Already   IN the corpus"),  # known
        Row(doc_id=2, ts="2024-01-01 00:02:00", text="fresh document one"),
        Row(doc_id=3, ts="2024-01-01 00:03:00", text="fresh  Document ONE"),      # stream dup of 2
        Row(doc_id=4, ts="2024-01-01 00:04:00", text="fresh document two"),
    ]
    batch = spark.createDataFrame(rows).withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "admit_src")
    batch.write.parquet(src)

    batch_admitted = admit_new_documents(spark.read.parquet(src), known)
    # keep-min survivor: 2 beats 3
    assert sorted(r.doc_id for r in batch_admitted.collect()) == [2, 4]

    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        admit_new_documents(stream, known, watermark_col="ts")
        .writeStream.format("memory")
        .queryName("admit_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow run did not finish in 120s"
    got = spark.sql("SELECT * FROM admit_out").collect()
    # stream keeps ONE of {2, 3} (first-arrival survivor) plus 4
    ids = sorted(r.doc_id for r in got)
    assert len(ids) == 2 and ids[1] == 4 and ids[0] in (2, 3)

    with pytest.raises(ValueError):
        admit_new_documents(stream, known)  # watermark_col required


def test_running_totals_stream_matches_batch(spark, tmp_path):
    """Stateful streaming totals: lifetime per-user totals accumulated
    across TWO file batches must equal the one-shot batch aggregate —
    the integer micro-unit state makes the sum independent of
    micro-batch boundaries.

    Runs on stateful_api='auto': transformWithStateInPandas (v2) where
    google.protobuf exists, applyInPandasWithState (v1) otherwise — so
    the stateful leg EXECUTES here instead of skipping; both transports
    wrap the same _accumulate_totals fold."""
    from openetlagent_spark.streaming import running_totals

    rows1 = [
        Row(event_id=i, ts=f"2024-01-01 00:0{i}:00", user_id=i % 2,
            event_type="click", value=float(i) + 0.25, props="{}")
        for i in range(5)
    ]
    rows2 = [
        Row(event_id=10 + i, ts=f"2024-01-01 01:0{i}:00", user_id=i % 2,
            event_type="view", value=2.5 * i, props="{}")
        for i in range(4)
    ]
    b1 = spark.createDataFrame(rows1).withColumn("ts", F.to_timestamp("ts"))
    b2 = spark.createDataFrame(rows2).withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "totals_src")
    b1.write.parquet(src)
    b2.write.mode("append").parquet(src)

    all_events = spark.read.parquet(src)
    expected = {
        r.user_id: (r.n_events, r.sum_value)
        for r in running_totals(all_events).collect()
    }

    stream = spark.readStream.schema(all_events.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    # no TTL here: on the v1 transport a processing-time timeout keeps
    # an availableNow query alive past the data batches (see the
    # sessionize test); TTL behavior has its own poll-based test below
    q = (
        running_totals(stream)
        .writeStream.format("memory")
        .queryName("run_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow run did not finish in 120s"
    # update mode re-emits a user's row each touched batch — the LAST
    # emission per user carries the lifetime totals
    got_rows = spark.sql("SELECT * FROM run_totals").collect()
    got = {}
    for r in got_rows:  # memory sink appends in emission order
        got[r.user_id] = (r.n_events, r.sum_value)
    assert got == expected


def test_running_totals_batch_form(spark):
    """The batch leg of running_totals (always runnable): per-user
    lifetime counters match a hand computation."""
    from openetlagent_spark.streaming import running_totals

    rows = [
        Row(event_id=i, ts="2024-01-01 00:00:00", user_id=i % 2,
            event_type="click", value=float(i) + 0.5, props="{}")
        for i in range(4)
    ]
    df = spark.createDataFrame(rows).withColumn("ts", F.to_timestamp("ts"))
    got = {r.user_id: (r.n_events, r.sum_value) for r in running_totals(df).collect()}
    assert got == {0: (2, 0.5 + 2.5), 1: (2, 1.5 + 3.5)}


def test_running_totals_v1_ttl_emits_then_keeps_query_alive(spark, tmp_path):
    """TTL on the v1 transport: totals still emit per batch; the query
    stays alive on processing-time timers, so the test polls the sink
    and stops the query (the documented availableNow + timeout
    caveat)."""
    import time

    from openetlagent_spark.streaming import running_totals

    rows = [
        Row(event_id=i, ts=f"2024-01-01 00:0{i}:00", user_id=i % 2,
            event_type="click", value=float(i), props="{}")
        for i in range(4)
    ]
    batch = spark.createDataFrame(rows).withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "totals_ttl_src")
    batch.write.parquet(src)
    expected = {
        r.user_id: (r.n_events, r.sum_value)
        for r in running_totals(spark.read.parquet(src)).collect()
    }

    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        running_totals(stream, ttl_ms=3_600_000, stateful_api="v1")
        .writeStream.format("memory")
        .queryName("run_totals_ttl")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_ttl"))
        .trigger(availableNow=True)
        .start()
    )
    deadline = time.time() + 120
    got = {}
    while time.time() < deadline:
        got = {
            r.user_id: (r.n_events, r.sum_value)
            for r in spark.sql("SELECT * FROM run_totals_ttl").collect()
        }
        if got == expected:
            break
        time.sleep(1)
    q.stop()
    assert got == expected


def test_running_totals_rejects_unknown_api(spark):
    from openetlagent_spark.streaming import running_totals

    df = spark.createDataFrame([Row(user_id=1, value=1.0)])
    with pytest.raises(ValueError, match="stateful_api"):
        running_totals(df, stateful_api="v3")


def test_streaming_sliding_window_counts_match_batch(spark, tmp_path):
    rows = [
        Row(event_id=i, ts=f"2024-01-01 00:{10 + i * 7}:00", user_id=i % 2, event_type="click", value=float(i), props="{}")
        for i in range(5)
    ]
    batch = spark.createDataFrame(rows).withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "events_slide_src")
    batch.write.parquet(src)

    kw = dict(window_duration="1 hour", slide="15 minutes")
    expected = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in windowed_event_counts(batch, **kw).collect()
    }
    # every event lands in duration/slide = 4 overlapping windows
    assert sum(n for n, _ in expected.values()) == 5 * 4

    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        windowed_event_counts(stream, watermark="2 hours", **kw)
        .writeStream.format("memory")
        .queryName("slide_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow run did not finish in 120s"
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM slide_counts").collect()
    }
    assert got == expected


def test_stream_quality_gate_matches_batch(spark, tmp_path):
    """quality_gate_stream on a real file stream (availableNow) admits
    exactly the documents the batch form admits — the rule battery is
    stateless, so the same plan serves both."""
    from openetlagent_spark.streaming import quality_gate_stream

    rows = [
        Row(doc_id=1, text="the cat and the dog have been to that house with joy today"),
        Row(doc_id=2, text="## ## ## ## ## ##"),
        Row(doc_id=3, text="12 34 56 78 90 11"),
        Row(doc_id=4, text="the fox and the hen have that same big idea with style"),
    ]
    batch = spark.createDataFrame(rows)
    src = str(tmp_path / "docs_src")
    batch.write.parquet(src)

    expected = sorted(r.doc_id for r in quality_gate_stream(batch).collect())
    assert expected == [1, 4]

    stream = spark.readStream.schema(batch.schema).parquet(src)
    gated = quality_gate_stream(stream, annotate=True)
    assert gated.isStreaming
    q = (
        gated.writeStream.format("memory")
        .queryName("qgate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow run did not finish in 120s"
    got = spark.sql("SELECT * FROM qgate").collect()
    assert sorted(r.doc_id for r in got) == expected
    assert all(r.gopher_pass for r in got)  # annotate keeps the flags


def test_stream_store_admission_rejects_cross_batch_dup(spark, tmp_path):
    """admit_stream_with_store: the persisted store carries the
    cross-micro-batch memory — a document admitted in batch 0 rejects
    its duplicate arriving in batch 1, with no in-stream state."""
    from pyspark.sql import types as T

    from openetlagent_spark.functions.incremental import build_fingerprint_store
    from openetlagent_spark.streaming import admit_stream_with_store

    import glob
    import os
    import shutil

    schema = "doc_id long, text string"
    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    b0 = spark.createDataFrame(
        [Row(doc_id=1, text="unique first document"),
         Row(doc_id=2, text="another unique one")], schema)
    b1 = spark.createDataFrame(
        [Row(doc_id=3, text="unique first document"),   # dup of doc 1
         Row(doc_id=4, text="a brand new document")], schema)
    # the file source lists FILES, not directories: stage each batch's
    # single part file as srcdir/fN.parquet (cf. q_stream_sink)
    for i, b in enumerate((b0, b1)):
        stage = str(tmp_path / f"stage{i}")
        b.coalesce(1).write.parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, f"{src}/f{i}.parquet")

    store = str(tmp_path / "fp_store")
    # empty store to start: schema-only parquet
    empty = spark.createDataFrame([], T.StructType([
        T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]))
    build_fingerprint_store(empty, store)

    out = str(tmp_path / "admitted")
    stream = spark.readStream.schema(b0.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = admit_stream_with_store(
        stream, store, out, checkpoint=str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(120), "availableNow run did not finish in 120s"

    landed = spark.read.parquet(out)
    ids = sorted(r.doc_id for r in landed.collect())
    # doc 3 (cross-batch duplicate text) must be rejected by the store
    # the first batch appended; everything else admitted
    assert ids == [1, 2, 4]
    # the store now holds all three distinct fingerprints
    assert spark.read.parquet(store).distinct().count() == 3


def test_stream_store_admission_replay_is_lossless(spark, tmp_path):
    """Full-replay safety: re-running the stream from a FRESH
    checkpoint (every batch replays against the already-grown store)
    must leave the admitted output unchanged — the landed batch
    verdicts are reused instead of re-gated, so a batch can never
    reject its own documents on replay."""
    import glob
    import os
    import shutil

    from pyspark.sql import types as T

    from openetlagent_spark.functions.incremental import build_fingerprint_store
    from openetlagent_spark.streaming import admit_stream_with_store

    src = str(tmp_path / "src")
    os.makedirs(src)
    b = spark.createDataFrame(
        [Row(doc_id=1, text="only document here")], "doc_id long, text string")
    stage = str(tmp_path / "stage")
    b.coalesce(1).write.parquet(stage)
    shutil.copy(glob.glob(f"{stage}/part-*.parquet")[0], f"{src}/f0.parquet")

    store = str(tmp_path / "fp_store")
    empty = spark.createDataFrame([], T.StructType([
        T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]))
    build_fingerprint_store(empty, store)
    out = str(tmp_path / "admitted")

    for ckpt in ("ckpt_a", "ckpt_b"):  # second run = full replay
        stream = spark.readStream.schema(b.schema).parquet(src)
        q = admit_stream_with_store(
            stream, store, out, checkpoint=str(tmp_path / ckpt)
        )
        assert q.awaitTermination(120)
        assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [1]


def test_running_totals_state_logic_matches_batch(spark):
    """Batch-parity for the stateful-processor LOGIC without the
    protobuf worker (VERDICT r05 item 7): fold the real events table's
    per-user rows through _accumulate_totals under several different
    micro-batch splits and require the emitted row to equal the batch
    groupBy leg exactly — float-for-float, including the all-NULL→NULL
    sum rule.  transformWithStateInPandas is only transport around
    this fold; the gated test above covers the transport when the
    wheel exists."""
    import pandas as pd

    from openetlagent_spark.streaming import running_totals
    from openetlagent_spark.streaming.events import (
        _accumulate_totals,
        _totals_output_row,
        read_event_table,
    )

    events = read_event_table(spark, "/root/testdata/sf0.001/events.parquet")
    batch = {
        r.user_id: (r.n_events, r.sum_value)
        for r in running_totals(events).collect()
    }
    rows = events.select("user_id", "value").toPandas()
    # inject an all-NULL-value user to pin the NULL-sum rule
    extra = pd.DataFrame(
        {"user_id": [-1, -1], "value": [float("nan")] * 2}
    ).astype(rows.dtypes.to_dict())
    rows = pd.concat([rows, extra], ignore_index=True)
    batch[-1] = (2, None)
    for n_chunks in (1, 2, 5):
        got = {}
        for uid, grp in rows.groupby("user_id"):
            state = None
            # deterministic uneven split to vary chunk boundaries
            bounds = [round(len(grp) * i / n_chunks) for i in range(n_chunks + 1)]
            for lo, hi in zip(bounds, bounds[1:]):
                chunk = grp.iloc[lo:hi]
                state = _accumulate_totals(state, [chunk])
            out = _totals_output_row(uid, state)
            got[uid] = (int(out["n_events"][0]), out["sum_value"][0])
        for uid, (n, s) in batch.items():
            gn, gs = got[uid]
            assert gn == n, (uid, gn, n)
            if s is None:
                assert gs is None or pd.isna(gs), (uid, gs)
            else:
                assert gs == s, (uid, gs, s)  # exact float equality


def test_stream_classifier_gate_matches_batch(spark, tmp_path):
    """classifier_gate_stream (the model-gate sibling of the Gopher
    gate): the hashed linear scorer is a pure projection — weight
    literal, no join — so the same plan admits the same documents on
    an availableNow file stream as on the batch frame."""
    from openetlagent_spark.streaming import classifier_gate_stream

    rows = [
        Row(doc_id=i, text=t, source="s")
        for i, t in enumerate(
            ["alpha beta gamma", "delta epsilon", "zeta eta theta iota", "kappa"]
        )
    ]
    batch = spark.createDataFrame(rows)
    src = str(tmp_path / "clf_src")
    batch.write.parquet(src)

    expected = sorted(r.doc_id for r in classifier_gate_stream(batch).collect())
    survivors_and_losers = {r.doc_id for r in batch.collect()}
    assert 0 < len(expected) < len(survivors_and_losers), (
        "threshold 0.0 should split this set; got " + str(expected)
    )

    stream = spark.readStream.schema(batch.schema).parquet(src)
    gated = classifier_gate_stream(stream, annotate=True)
    assert gated.isStreaming
    q = (
        gated.writeStream.format("memory")
        .queryName("clfgate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow run did not finish in 120s"
    got = spark.sql("SELECT * FROM clfgate").collect()
    assert sorted(r.doc_id for r in got) == expected
    assert all(r.clf_pass for r in got)
    assert all(r.source == "s" for r in got)  # non-text columns ride along


def test_stream_web_head_html_then_classifier(spark, tmp_path):
    """The stateless web-pipeline head ON A STREAM: html_to_text (pure
    regex projection) feeding classifier_gate_stream — the same
    composition web_pipeline's batch capstone runs, minus the stateful
    quota/dedup stages (those are batch/foreachBatch territory).
    availableNow parity against the identical batch plan."""
    from openetlagent_spark.functions.curation import html_to_text
    from openetlagent_spark.streaming import classifier_gate_stream

    rows = [
        Row(doc_id=i, text=f"<p>{body}</p><script>t()</script>")
        for i, body in enumerate(
            ["alpha beta gamma delta", "epsilon zeta", "eta theta iota", "kappa"]
        )
    ]
    batch = spark.createDataFrame(rows)
    src = str(tmp_path / "web_head_src")
    batch.write.parquet(src)

    def head(df):
        clean = df.withColumn("text", html_to_text(F.col("text")))
        return classifier_gate_stream(clean, annotate=True)

    expected = {(r.doc_id, r.text) for r in head(batch).collect()}
    assert 0 < len(expected) <= 4
    assert all("<" not in t for _, t in expected)  # extraction ran first

    stream = spark.readStream.schema(batch.schema).parquet(src)
    gated = head(stream)
    assert gated.isStreaming
    q = (
        gated.writeStream.format("memory")
        .queryName("webhead")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {(r.doc_id, r.text) for r in spark.sql("SELECT * FROM webhead").collect()}
    assert got == expected


def test_streaming_hll_registers_match_batch(spark, tmp_path):
    """HLL registers are mergeable by plain MAX, so the register build
    (functions/sketch.py hll_registers) runs unchanged as ONE stateful
    streaming aggregate; finalizing the streamed register snapshot must
    give the exact batch estimate — the incremental distinct-count
    serving pattern (maintain registers on the landing stream, finalize
    at query time)."""
    from openetlagent_spark.functions.sketch import (
        hll_distinct,
        hll_finalize,
        hll_registers,
    )

    rows = [
        Row(event_id=i, ts=f"2024-01-01 00:0{i % 6}:00", user_id=i % 37,
            event_type="click" if i % 2 else "view", value=float(i), props="{}")
        for i in range(200)
    ]
    batch = spark.createDataFrame(rows).withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "hll_src")
    # two file batches so the streaming MAX actually merges state
    batch.where("event_id < 100").write.parquet(src)
    batch.where("event_id >= 100").write.mode("append").parquet(src)

    full = spark.read.parquet(src)
    expected = {
        (r["event_type"],): (r["n_buckets_used"], r["hll_est"])
        for r in hll_distinct(full, "user_id", ["event_type"], p=8).collect()
    }

    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        hll_registers(stream, "user_id", ["event_type"], p=8)
        .writeStream.format("memory")
        .queryName("hll_regs")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow run did not finish in 120s"
    streamed_regs = spark.sql("SELECT * FROM hll_regs")
    got = {
        (r["event_type"],): (r["n_buckets_used"], r["hll_est"])
        for r in hll_finalize(streamed_regs, ["event_type"], p=8).collect()
    }
    assert got == expected


def test_pnm_maxval_rescale_and_malformed_header():
    """maxval < 255 rescales to full range ((v*255)//maxval); a comment
    (or any junk) where the single post-maxval whitespace byte belongs
    is a malformed header -> None, never a mis-read raster."""
    import numpy as np

    from openetlagent_spark.functions.multimodal import _decode_pnm

    white4 = b"P5\n1 1\n15\n" + bytes([15])
    assert _decode_pnm(white4)[0, 0] == 255
    mid4 = b"P5\n1 1\n15\n" + bytes([7])
    assert _decode_pnm(mid4)[0, 0] == (7 * 255) // 15
    # the comment bytes must never be decoded as pixels
    assert _decode_pnm(b"P5\n2 1\n255#c\n" + bytes([1, 2])) is None
    # maxval 255 path unchanged
    ok = b"P5\n2 1\n255\n" + bytes([3, 4])
    assert np.array_equal(_decode_pnm(ok), np.array([[3, 4]], dtype=np.uint8))


def test_extract_features_strict_raises_on_undecodable(spark):
    media = spark.createDataFrame(
        [Row(media_id=1, payload=b"\x89PNG-not-really", mime="image/png",
             width=0, height=0, duration_ms=0)]
    )
    with pytest.raises(Exception, match="undecodable"):
        extract_image_features(media, strict=True).collect()
    # empty payloads stay quiet even under strict (no media != bad media)
    empty = spark.createDataFrame(
        [Row(media_id=1, payload=b"", mime="image/png",
             width=0, height=0, duration_ms=0)]
    )
    rows = extract_image_features(empty, strict=True).collect()
    assert rows[0].n_pixels == 0


def test_pnm_rescale_clamps_out_of_range_samples():
    """A (tolerated) sample above maxval saturates at 255 — never
    wraps modulo 256 into an arbitrary intensity."""
    from openetlagent_spark.functions.multimodal import _decode_pnm

    assert _decode_pnm(b"P5\n1 1\n15\n" + bytes([255]))[0, 0] == 255
    assert _decode_pnm(b"P5\n1 1\n15\n" + bytes([16]))[0, 0] == 255


# --- PNG codec (round 10) ----------------------------------------------------


def _png_luma(rgb):
    import numpy as np

    r = rgb[:, :, 0].astype(np.int64)
    g = rgb[:, :, 1].astype(np.int64)
    b = rgb[:, :, 2].astype(np.int64)
    return ((r * 299 + g * 587 + b * 114) // 1000).astype(np.uint8)


def _png_chunk(typ, data):
    import zlib

    return (
        len(data).to_bytes(4, "big")
        + typ
        + data
        + zlib.crc32(typ + data).to_bytes(4, "big")
    )


def test_png_gray_roundtrip_and_closed_form_length():
    import numpy as np

    from openetlagent_spark.functions.multimodal import _decode_png, encode_gray_png

    rng = np.random.RandomState(0)
    for h, w in [(1, 1), (3, 5), (17, 32), (100, 7), (300, 300)]:
        arr = rng.randint(0, 256, (h, w)).astype(np.uint8)
        p = encode_gray_png(arr)
        back = _decode_png(p)
        assert back is not None and (back == arr).all(), (h, w)
        raw = h * (w + 1)
        nblocks = (raw + 65534) // 65535
        # the SQL-oracle closed form: stored-block zlib, fixed chunking
        assert len(p) == 63 + 5 * nblocks + raw, (h, w)
    assert encode_gray_png(np.zeros((0, 4), dtype=np.uint8)) == b""


def test_png_all_filters_rgb():
    """A hand-filtered RGB PNG using every row filter (None/Sub/Up/
    Average/Paeth) decodes to the ITU-R 601-2 luma of the raster."""
    import struct
    import zlib

    import numpy as np

    from openetlagent_spark.functions.multimodal import _decode_png

    rng = np.random.RandomState(7)
    h, w, nch = 5, 4, 3
    rgb = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
    stride = w * nch
    lines, prev = [], np.zeros(stride, dtype=np.int64)
    for y in range(h):
        cur = rgb[y].reshape(-1).astype(np.int64)
        f = y % 5
        if f == 0:
            enc = cur.copy()
        elif f == 1:
            enc = np.array(
                [(cur[x] - (cur[x - nch] if x >= nch else 0)) % 256 for x in range(stride)]
            )
        elif f == 2:
            enc = (cur - prev) % 256
        elif f == 3:
            enc = np.array(
                [
                    (cur[x] - (((cur[x - nch] if x >= nch else 0) + prev[x]) // 2)) % 256
                    for x in range(stride)
                ]
            )
        else:
            vals = []
            for x in range(stride):
                a = int(cur[x - nch]) if x >= nch else 0
                b = int(prev[x])
                c = int(prev[x - nch]) if x >= nch else 0
                p_ = a + b - c
                pa, pb, pc = abs(p_ - a), abs(p_ - b), abs(p_ - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                vals.append((int(cur[x]) - pred) % 256)
            enc = np.array(vals)
        lines.append(bytes([f]) + enc.astype(np.uint8).tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + _png_chunk(b"IEND", b"")
    )
    got = _decode_png(png)
    assert got is not None and (got == _png_luma(rgb)).all()


def test_png_palette_rgba_gray_alpha():
    import struct
    import zlib

    import numpy as np

    from openetlagent_spark.functions.multimodal import _decode_png

    rng = np.random.RandomState(3)
    sig = b"\x89PNG\r\n\x1a\n"
    # palette
    pal = rng.randint(0, 256, (7, 3)).astype(np.uint8)
    idx = rng.randint(0, 7, (4, 6)).astype(np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(4))
    png = (
        sig
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 6, 4, 8, 3, 0, 0, 0))
        + _png_chunk(b"PLTE", pal.tobytes())
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    assert (_decode_png(png) == _png_luma(pal[idx])).all()
    # RGBA (alpha ignored)
    rgba = rng.randint(0, 256, (3, 3, 4)).astype(np.uint8)
    raw = b"".join(b"\x00" + rgba[y].tobytes() for y in range(3))
    png = (
        sig
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 3, 8, 6, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    assert (_decode_png(png) == _png_luma(rgba[:, :, :3])).all()
    # gray+alpha (gray channel)
    ga = rng.randint(0, 256, (3, 5, 2)).astype(np.uint8)
    raw = b"".join(b"\x00" + ga[y].tobytes() for y in range(3))
    png = (
        sig
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 3, 8, 4, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    assert (_decode_png(png) == ga[:, :, 0]).all()


def test_png_rejects_unsupported_and_corrupt():
    import struct
    import zlib

    import numpy as np

    from openetlagent_spark.functions.multimodal import (
        _decode_png,
        decode_image_builtin,
        encode_gray_png,
    )

    sig = b"\x89PNG\r\n\x1a\n"
    # 16-bit depth → None (undecodable)
    png16 = (
        sig
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 10))
        + _png_chunk(b"IEND", b"")
    )
    assert _decode_png(png16) is None
    # Adam7 interlaced → None
    pngi = (
        sig
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 1))
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 10))
        + _png_chunk(b"IEND", b"")
    )
    assert _decode_png(pngi) is None
    # truncated / junk — total, never raises
    good = encode_gray_png(np.arange(64, dtype=np.uint8).reshape(8, 8))
    assert _decode_png(good[:40]) is None
    assert _decode_png(sig + b"junkjunk") is None
    assert decode_image_builtin(b"\xff\xd8\xff\xe0") is None  # JPEG magic
    # decode_image_builtin dispatches PNG by signature
    assert (decode_image_builtin(good) == np.arange(64, dtype=np.uint8).reshape(8, 8)).all()


def test_synthesize_media_alternate_codecs(spark):
    """codec='alternate': odd ids PNG, even ids BMP — one mixed table,
    identical rasters either way."""
    from openetlagent_spark.functions.multimodal import (
        decode_image_builtin,
        synthesize_media_bmp,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="odd doc goes png"), Row(doc_id=2, text="even doc bmp")]
    )
    rows = {
        r.media_id: r
        for r in synthesize_media_bmp(docs, width=32, codec="alternate").collect()
    }
    assert rows[1].mime == "image/png" and bytes(rows[1].payload).startswith(b"\x89PNG")
    assert rows[2].mime == "image/bmp" and bytes(rows[2].payload).startswith(b"BM")
    a1 = decode_image_builtin(bytes(rows[1].payload))
    assert bytes(a1[0, :16]) == b"odd doc goes png"
    a2 = decode_image_builtin(bytes(rows[2].payload))
    assert bytes(a2[0, :12]) == b"even doc bmp"


# --- real video frame sampling: Y4M (round 10) --------------------------------


def test_y4m_roundtrip_and_chroma_sizes():
    import numpy as np

    from openetlagent_spark.functions.multimodal import (
        _parse_y4m,
        _sample_indices,
        encode_y4m_gray,
    )

    rng = np.random.RandomState(1)
    fr = rng.randint(0, 256, (7, 4, 16)).astype(np.uint8)
    p = encode_y4m_gray(fr)
    w, h, luma, offs = _parse_y4m(p)
    assert (w, h, luma, len(offs)) == (16, 4, 64, 7)
    for i, o in enumerate(offs):
        got = np.frombuffer(p, np.uint8, count=luma, offset=o).reshape(h, w)
        assert (got == fr[i]).all()
    # closed-form container length: header + t*(6 + h*w)
    assert len(p) == (p.find(b"\n") + 1) + 7 * (6 + 64)
    # chroma-bearing colorspaces: luma plane leads, sizes honored
    for cs, extra in [(b"C420", 2 * 8 * 2), (b"C422", 2 * 8 * 4), (b"C444", 2 * 64)]:
        head = b"YUV4MPEG2 W16 H4 F25:1 Ip A1:1 " + cs + b"\n"
        body = b"FRAME\n" + bytes(range(64)) + b"\x80" * extra
        parsed = _parse_y4m(head + body + body)
        assert parsed is not None and len(parsed[3]) == 2, cs
        assert bytes(
            np.frombuffer(head + body + body, np.uint8, count=64, offset=parsed[3][0])
        ) == bytes(range(64))
    # rejects: zero dims, foreign magic, truncated frame
    assert _parse_y4m(b"YUV4MPEG2 W0 H4 Cmono\nFRAME\n") is None
    assert _parse_y4m(b"RIFFxxxx") is None
    assert _parse_y4m(p[:-3]) is None
    # deterministic even sampling, always includes frame 0
    assert _sample_indices(10, 4) == [0, 2, 5, 7]
    assert _sample_indices(3, 4) == [0, 1, 2]
    assert _sample_indices(100, 4) == [0, 25, 50, 75]


def test_sample_frames_real_y4m(spark):
    """sample_frames parses Y4M built-in and emits per-frame PNGs with
    SOURCE frame indices; undecodable payloads yield zero rows."""
    import numpy as np

    from openetlagent_spark.functions.multimodal import (
        _decode_png,
        encode_y4m_gray,
        sample_frames,
    )

    rng = np.random.RandomState(5)
    clip = rng.randint(0, 256, (10, 4, 8)).astype(np.uint8)
    media = spark.createDataFrame(
        [
            Row(media_id=1, payload=bytearray(encode_y4m_gray(clip))),
            Row(media_id=2, payload=bytearray(b"not a video")),
            Row(media_id=3, payload=bytearray(b"")),
        ]
    )
    rows = sample_frames(media, n_frames=4).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.media_id, []).append(r)
    assert sorted(by_id) == [1]  # 2 and 3 undecodable/empty → zero rows
    got = sorted(by_id[1], key=lambda r: r.frame_index)
    assert [r.frame_index for r in got] == [0, 2, 5, 7]
    for r in got:
        arr = _decode_png(bytes(r.frame_payload))
        assert (arr == clip[r.frame_index]).all()


def test_sample_frames_strict_vs_total(spark):
    """Undecodable bytes: strict raises, the default emits zero rows
    for them and still samples the decodable clip beside them."""
    import numpy as np

    from openetlagent_spark.functions.multimodal import encode_y4m_gray, sample_frames

    clip = encode_y4m_gray(np.zeros((2, 2, 2), dtype=np.uint8))
    media = spark.createDataFrame(
        [Row(media_id=9, payload=bytearray(b"junkpayload")),
         Row(media_id=10, payload=bytearray(clip))]
    )
    with pytest.raises(Exception, match="undecodable"):
        sample_frames(media, n_frames=2, strict=True).collect()
    rows = sample_frames(media, n_frames=2).collect()
    assert sorted((r.media_id, r.frame_index) for r in rows) == [(10, 0), (10, 1)]


def test_synthesize_media_y4m_roundtrip(spark):
    """Frame i's raster IS text bytes [i·64, (i+1)·64) + pad zeros."""
    import numpy as np

    from openetlagent_spark.functions.multimodal import (
        _parse_y4m,
        synthesize_media_y4m,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="x" * 70), Row(doc_id=2, text=""), Row(doc_id=3, text="ab")]
    )
    rows = {r.media_id: r for r in synthesize_media_y4m(docs).collect()}
    w, h, luma, offs = _parse_y4m(bytes(rows[1].payload))
    assert (w, h, len(offs)) == (16, 4, 2) and rows[1].duration_ms == 80
    f0 = np.frombuffer(bytes(rows[1].payload), np.uint8, count=64, offset=offs[0])
    f1 = np.frombuffer(bytes(rows[1].payload), np.uint8, count=64, offset=offs[1])
    assert bytes(f0) == b"x" * 64 and bytes(f1) == b"x" * 6 + b"\0" * 58
    assert rows[2].payload == bytearray(b"") and rows[2].duration_ms == 0
    assert _parse_y4m(bytes(rows[3].payload))[3] is not None


def test_png_decompression_bomb_bounded():
    """A tiny-declared-dims PNG carrying a huge IDAT must fail the size
    check via BOUNDED inflate — never materialize the blown-up stream."""
    import struct
    import zlib

    from openetlagent_spark.functions.multimodal import _decode_png

    bomb_raw = b"\x00" * (20 * 1024 * 1024)  # 20 MB of zeros -> ~20 KB deflated
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(bomb_raw))
        + _png_chunk(b"IEND", b"")
    )
    assert _decode_png(png) is None


def test_sample_frames_rejects_nonpositive_n_frames(spark):
    import pytest as _pytest

    from openetlagent_spark.functions.multimodal import sample_frames

    media = spark.createDataFrame([("x",)], "payload string").selectExpr(
        "CAST(1 AS BIGINT) AS media_id", "CAST(payload AS BINARY) AS payload"
    )
    with _pytest.raises(ValueError, match="n_frames"):
        sample_frames(media, n_frames=0)


# --- real audio: WAV / RIFF PCM (round 10) -------------------------------------


def test_wav_roundtrip_and_16bit_stereo():
    import numpy as np

    from openetlagent_spark.functions.multimodal import _decode_wav, encode_wav_pcm8

    rng = np.random.RandomState(2)
    s = rng.randint(0, 256, 1000).astype(np.uint8)
    p = encode_wav_pcm8(s, 8000)
    assert len(p) == 44 + 1000  # canonical-header closed form
    rate, ch, grid = _decode_wav(p)
    assert rate == 8000 and ch == 1 and (grid[:, 0] == s).all()
    # 16-bit stereo: channel 0 quantizes to the shared uint8 domain
    frames = rng.randint(-32768, 32768, (50, 2)).astype("<i2")
    data = frames.tobytes()
    wav16 = (
        b"RIFF" + (36 + len(data)).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (2).to_bytes(2, "little")
        + (44100).to_bytes(4, "little") + (44100 * 4).to_bytes(4, "little")
        + (4).to_bytes(2, "little") + (16).to_bytes(2, "little")
        + b"data" + len(data).to_bytes(4, "little") + data
    )
    rate, ch, grid = _decode_wav(wav16)
    want = ((frames[:, 0].astype(np.int32) + 32768) >> 8).astype(np.uint8)
    assert rate == 44100 and ch == 2 and (grid[:, 0] == want).all()
    # unknown odd-sized chunk skipped via pad byte
    wav_list = (
        b"RIFF" + (36 + 9 + 1 + 8 + len(data)).to_bytes(4, "little") + b"WAVE"
        + b"LIST" + (9).to_bytes(4, "little") + b"INFOxxxxx" + b"\x00"
        + wav16[12:]
    )
    assert _decode_wav(wav_list) is not None
    # rejects: foreign magic, truncated data chunk, header-only
    assert _decode_wav(b"OggS" + b"\x00" * 100) is None
    assert _decode_wav(p[:-5]) is None
    assert _decode_wav(b"RIFFxxxxWAVE") is None


def test_extract_audio_features_real_and_strict(spark):
    import numpy as np

    from openetlagent_spark.functions.multimodal import (
        extract_audio_features,
        synthesize_media_wav,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="audio sample text!"), Row(doc_id=2, text="")]
    )
    media = synthesize_media_wav(docs)
    rows = {r.media_id: r for r in
            extract_audio_features(media, dim=16).collect()}
    t = "audio sample text!"
    assert rows[1].n_bytes == 44 + len(t)
    assert rows[1].n_samples == len(t)
    assert rows[1].duration_ms == len(t) * 1000 // 8000
    hist = np.round(np.array(rows[1].feature, dtype=np.float64) * len(t)).astype(int)
    import collections

    want = collections.Counter(ord(c) // 16 for c in t)
    assert hist.tolist() == [want.get(b, 0) for b in range(16)]
    assert rows[2].n_samples == 0 and not any(rows[2].feature)
    # strict raises on undecodable non-empty payloads
    bad = spark.createDataFrame([Row(media_id=9, payload=bytearray(b"OggSxxxx"),
                                     mime="audio/ogg")])
    with pytest.raises(Exception, match="undecodable"):
        extract_audio_features(bad, strict=True).collect()
    # total by default: zero row, not a task failure
    r = extract_audio_features(bad).collect()[0]
    assert r.n_samples == 0 and r.n_bytes == 8


def test_media_feature_stream_matches_batch(spark, tmp_path):
    """media_feature_stream on a real file stream (availableNow)
    emits exactly the feature rows the batch form emits — the decode
    is stateless mapInPandas, one plan for both — and drops
    undecodable payloads before the sink."""
    from openetlagent_spark.functions.multimodal import synthesize_media_bmp
    from openetlagent_spark.streaming import media_feature_stream

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="stream me as a bmp"),
         Row(doc_id=2, text="and me as a png payload"),
         Row(doc_id=3, text="")]  # empty -> undecodable -> dropped
    )
    media = synthesize_media_bmp(docs, width=32, codec="alternate")
    src = str(tmp_path / "media_src")
    media.write.parquet(src)

    batch = spark.read.parquet(src)
    expected = sorted(
        (r.media_id, r.n_pixels, tuple(r.feature))
        for r in media_feature_stream(batch, kind="image").collect()
    )
    assert [m for m, _, _ in expected] == [1, 2]

    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = media_feature_stream(stream, kind="image")
    assert out.isStreaming
    q = (
        out.writeStream.format("memory").queryName("mfeat")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120), "availableNow run did not finish in 120s"
    got = sorted(
        (r.media_id, r.n_pixels, tuple(r.feature))
        for r in spark.sql("SELECT * FROM mfeat").collect()
    )
    assert got == expected


def test_media_feature_stream_audio_and_validation(spark, tmp_path):
    from openetlagent_spark.functions.multimodal import synthesize_media_wav
    from openetlagent_spark.streaming import media_feature_stream

    docs = spark.createDataFrame([Row(doc_id=7, text="wav bytes here")])
    media = synthesize_media_wav(docs)
    src = str(tmp_path / "wav_src")
    media.write.parquet(src)
    batch = spark.read.parquet(src)
    expected = sorted(
        (r.media_id, r.n_samples) for r in
        media_feature_stream(batch, kind="audio").collect()
    )
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        media_feature_stream(stream, kind="audio")
        .writeStream.format("memory").queryName("afeat")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    got = sorted((r.media_id, r.n_samples) for r in spark.sql("SELECT * FROM afeat").collect())
    assert got == expected == [(7, 14)]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="kind"):
        media_feature_stream(batch, kind="video")


def test_stream_expectations_gate_matches_batch(spark, tmp_path):
    """expectations_gate_stream on a real file stream (availableNow)
    quarantines exactly the rows the batch form quarantines; warn
    rules annotate without dropping; aggregate-shaped rules are
    rejected loudly."""
    from openetlagent_spark.streaming import expectations_gate_stream

    rows = [
        Row(doc_id=1, lang="en", n=5),
        Row(doc_id=2, lang=None, n=5),     # fails not_null
        Row(doc_id=3, lang="en", n=-1),    # fails min (fail severity)
        Row(doc_id=4, lang="xx", n=5),     # warn only: survives
    ]
    rules = [
        {"column": "lang", "check": "not_null"},
        {"column": "n", "check": "min", "value": 0},
        {"column": "lang", "check": "in_set", "values": ["en", "de"],
         "severity": "warn"},
    ]
    batch = spark.createDataFrame(rows)
    expected = sorted(
        r.doc_id for r in expectations_gate_stream(batch, rules).collect()
    )
    assert expected == [1, 4]

    src = str(tmp_path / "exp_src")
    batch.write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    gated = expectations_gate_stream(stream, rules, annotate=True)
    assert gated.isStreaming
    q = (
        gated.writeStream.format("memory")
        .queryName("expgate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow run did not finish in 120s"
    landed = spark.sql("SELECT * FROM expgate").collect()
    assert sorted(r.doc_id for r in landed) == expected
    # warn flag annotated but not quarantining
    warn_flags = {r.doc_id: r.ok_lang_in_set for r in landed}
    assert warn_flags[4] is False and warn_flags[1] is True

    import pytest as _pytest
    with _pytest.raises(ValueError, match="aggregate-shaped"):
        expectations_gate_stream(batch, [{"column": "doc_id", "check": "unique"}])
