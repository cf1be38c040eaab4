"""Streaming (availableNow → memory sink) and multimodal plumbing tests."""

import pytest

from omop_etl_spark.operators.multimodal import (
    decode_and_extract,
    fake_decoder,
    with_media_metadata,
)
from omop_etl_spark.sources import (
    EVENTS_NS_COLUMNS,
    normalize_timestamps,
    read_parquet_table,
)
from omop_etl_spark.streaming import read_table_stream, sessionize

EVENTS = "/root/testdata/sf0.001/events.parquet"


def _events_stream(spark):
    """The events file-source stream, normalized the way the registry
    gates' ``_stream_source`` does it."""
    return normalize_timestamps(
        read_table_stream(spark, EVENTS), EVENTS_NS_COLUMNS["events"]
    )


def _run_stream(df, name):
    # complete mode: append would hold back the last (still-open)
    # window, which a finite availableNow backfill never closes
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return name


def test_streaming_sessionize_runs(spark):
    stream = _events_stream(spark)
    _run_stream(sessionize(stream, gap="10 minutes", watermark="0 seconds"), "sess_t")
    rows = spark.table("sess_t").collect()
    assert len(rows) > 0
    r = rows[0]
    assert r.session_start <= r.session_end and r.n_events >= 1


def test_multimodal_metadata_and_decode(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"payload-one")), (2, bytearray(b"payload-two")), (3, None)],
        "media_id bigint, payload binary",
    )
    media = with_media_metadata(df, media_type="image", fmt="png")
    meta = {r.media_id: (r.n_bytes, r.checksum) for r in media.collect()}
    assert meta[1][0] == len(b"payload-one")
    assert meta[3][0] is None

    feats = decode_and_extract(media, decoder=fake_decoder)
    rows = {r.media_id: r for r in feats.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].width >= 16 and rows[1].n_frames == 1
    # deterministic: same payload -> same features
    again = {r.media_id: r for r in decode_and_extract(media, decoder=fake_decoder).collect()}
    assert rows[1].feature_hash == again[1].feature_hash


def test_multimodal_decode_stub_raises_without_decoder(spark):
    df = with_media_metadata(
        spark.createDataFrame([(1, bytearray(b"x"))], "media_id bigint, payload binary")
    )
    with pytest.raises(Exception, match="NotImplementedError|no media decoder"):
        decode_and_extract(df, decoder=None).collect()


def _make_png(width, height):
    """Generate a REAL RGB PNG with stdlib only (zlib + struct)."""
    import struct
    import zlib

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    scanlines = b"".join(
        b"\x00" + bytes((x * 7 + y * 13) % 256 for x in range(3 * width))
        for y in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scanlines))
        + chunk(b"IEND", b"")
    )


def test_png_pixels_unfilters_all_filter_types():
    """png_pixels inverts every PNG filter (None/Sub/Up/Average/Paeth):
    the test applies each forward filter to a known pixel grid and the
    decoder must recover the grid exactly."""
    import struct
    import zlib

    import numpy as np

    from omop_etl_spark.operators.multimodal import png_pixels

    rng = np.random.default_rng(7)
    base = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    flat = base.reshape(5, 12).astype(np.int32)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    rows, prev = [], np.zeros(12, dtype=np.int32)
    for y, ft in enumerate([0, 1, 2, 3, 4]):
        cur, out = flat[y], np.zeros(12, dtype=np.int32)
        for i in range(12):
            a = cur[i - 3] if i >= 3 else 0
            b, c = prev[i], (prev[i - 3] if i >= 3 else 0)
            pred = [0, a, b, (a + b) >> 1, paeth(a, b, c)][ft]
            out[i] = (cur[i] - pred) & 0xFF
        rows.append(bytes([ft]) + bytes(out.astype(np.uint8)))
        prev = cur

    def chunk(ct, d):
        return (
            struct.pack(">I", len(d))
            + ct
            + d
            + struct.pack(">I", zlib.crc32(ct + d) & 0xFFFFFFFF)
        )

    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 5, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + chunk(b"IEND", b"")
    )
    assert (png_pixels(payload) == base).all()


def test_png_decoder_rejects_garbage():
    from omop_etl_spark.operators.multimodal import png_pixels

    with pytest.raises(ValueError, match="not a PNG"):
        png_pixels(b"definitely not a png")


def test_png_resizer_bilinear_exact():
    """The stdlib+numpy resize path (VERDICT r12 #5): encode
    round-trip preserves pixels AND the filter-0 feature hash,
    identity resize is pixel-exact, a 2x2→1x1 bilinear is the mean of
    the four corners, and dims land where asked."""
    import numpy as np

    from omop_etl_spark.operators.multimodal import (
        png_encode,
        png_pixels,
        png_resizer,
    )

    png = _make_png(6, 4)
    px = png_pixels(png)
    exp = np.array(
        [[(x * 7 + y * 13) % 256 for x in range(18)] for y in range(4)],
        dtype=np.uint8,
    ).reshape(4, 6, 3)
    assert (px == exp).all()
    rt = png_encode(px)
    assert (png_pixels(rt) == px).all()
    # _make_png writes filter-0 scanlines, png_encode does too → the
    # filtered bytes, and so the whole encoding, must agree
    assert rt == png
    assert (png_pixels(png_resizer(png, 6, 4)) == px).all()
    quad = png_encode(
        np.array(
            [[[0, 0, 0], [100, 100, 100]], [[50, 50, 50], [250, 250, 250]]],
            dtype=np.uint8,
        )
    )
    assert (png_pixels(png_resizer(quad, 1, 1)).ravel() == 100).all()
    assert png_pixels(png_resizer(png, 3, 2)).shape == (2, 3, 3)
    with pytest.raises(ValueError, match="dims"):
        png_resizer(png, 0, 2)


def test_media_resizer_bad_dims_raise_before_dispatch():
    """ADVICE r13: the resizer validates target dims BEFORE it parses
    the payload — a caller bug raises the clear dims message on any
    payload, not a decode error."""
    from omop_etl_spark.operators.multimodal import png_resizer

    png = _make_png(4, 3)
    for payload in (png, b"\xff\xd8\xff\xe0not-a-real-jpeg", b""):
        for w, h in ((0, 2), (2, 0), (-1, 5)):
            with pytest.raises(ValueError, match="dims"):
                png_resizer(payload, w, h)


def test_resize_media_png_resizer_distributed(spark):
    """resize_media with the REAL png_resizer through the mapInPandas
    plumbing (the resize path is no longer Pillow-gated): each payload
    comes back a decodable PNG at the target dims with bilinear
    content, not a stub hash."""
    from omop_etl_spark.operators.multimodal import (
        png_pixels,
        png_resizer,
        resize_media,
    )

    rows = [(i, bytearray(_make_png(4 + i, 3 + i)), "image") for i in range(3)]
    df = spark.createDataFrame(
        rows, "media_id long, payload binary, media_type string"
    )
    out = resize_media(df, 5, 4, resizer=png_resizer).collect()
    assert len(out) == 3
    for r in out:
        height, width = png_pixels(bytes(r["payload"])).shape[:2]
        assert (width, height) == (5, 4)
        assert (r["width"], r["height"]) == (5, 4)


def test_stream_dedup_first_seen_wins(spark):
    from omop_etl_spark.streaming import stream_dedup

    stream = _events_stream(spark)
    # ttl_minutes=None: an armed processing-time TTL keeps AvailableNow
    # scheduling no-data batches until the TTL fires, so a TTL'd replay
    # never terminates (the r16 gate hang) — None is the replay mode
    q = (
        stream_dedup(stream, ["user_id"], ttl_minutes=None)
        .writeStream.format("memory")
        .queryName("dedup_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # bounded wait: if a TTL-armed/no-data-batch hang is ever
    # reintroduced, fail loudly instead of blocking the suite forever
    assert q.awaitTermination(180), "AvailableNow replay did not terminate"
    rows = spark.table("dedup_t").collect()
    n_users = (
        read_parquet_table(spark, EVENTS, ns_columns=["ts"])
        .select("user_id").distinct().count()
    )
    assert len(rows) == n_users
    assert len({r.user_id for r in rows}) == n_users


def test_stream_dedup_ttl_emits_then_is_stopped(spark):
    """TTL-armed mode still emits each key once per batch pass; the
    query cannot terminate on its own (pending timeouts), so the test
    polls the sink and stops it explicitly."""
    import time

    from omop_etl_spark.streaming import stream_dedup

    stream = _events_stream(spark)
    n_users = (
        read_parquet_table(spark, EVENTS, ns_columns=["ts"])
        .select("user_id").distinct().count()
    )
    q = (
        stream_dedup(stream, ["user_id"], ttl_minutes=60)
        .writeStream.format("memory")
        .queryName("dedup_ttl_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table("dedup_ttl_t").count() >= n_users:
                break
            time.sleep(1)
        rows = spark.table("dedup_ttl_t").collect()
    finally:
        q.stop()
    assert len(rows) == n_users
    assert len({r.user_id for r in rows}) == n_users


def _media(spark):
    from omop_etl_spark.operators.multimodal import with_media_metadata

    raw = spark.createDataFrame(
        [(1, b"aaa"), (2, b"bbbb"), (3, b"")], "media_id long, payload binary"
    )
    return with_media_metadata(raw, media_type="video")


def test_resize_media_requires_decoder(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    from omop_etl_spark.operators.multimodal import resize_media

    with pytest.raises((PythonException, Py4JJavaError)):
        resize_media(_media(spark), 64, 64).collect()
