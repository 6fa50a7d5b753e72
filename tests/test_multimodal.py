"""Multimodal column plumbing: binary payloads + typed metadata + Arrow
mapInPandas decode path (operators/multimodal).  Real codecs are absent in
this container, so decode runs the documented deterministic stub; every
Spark-side contract (schema, batching, pruning) is exercised for real."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
    decode_image_meta,
    sample_frames,
    with_media_columns,
)
from real_time_stock_market_data_pipeline_spark.plans.queries import QUERIES
from real_time_stock_market_data_pipeline_spark.sources.readers import load_table


@pytest.fixture()
def media(spark, sf_dir):
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .filter(F.col("text").isNotNull())
        .limit(50)
    )
    return with_media_columns(docs, payload="text", media_type="image")


def test_media_columns_schema_and_metadata(media):
    row = media.select("media_bytes", "media_meta").first()
    assert isinstance(row.media_bytes, (bytes, bytearray))
    assert row.media_meta.media_type == "image"
    assert row.media_meta.byte_length == len(row.media_bytes)
    assert row.media_meta.content_hash is not None


def test_real_decode_unknown_bytes_null_dims(media):
    """The real header parser on non-image bytes (the documents fixture's
    text) yields NULL format/dims instead of fabricating values."""
    row = decode_image_meta(media, fake=False).select(
        "format", "width", "height", "channels"
    ).first()
    assert (row.format, row.width, row.height, row.channels) == (None,) * 4


def _png(w, h, color_type=2):
    return (
        b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
        + w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([8, color_type, 0, 0, 0])
    )


def _gif(w, h):
    return b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\x00" * 4


def _bmp(w, h, bpp=24):
    return (
        b"BM" + b"\x00" * 12
        + (40).to_bytes(4, "little")  # BITMAPINFOHEADER DIB size
        + w.to_bytes(4, "little", signed=True)
        + (-h).to_bytes(4, "little", signed=True)  # top-down BMP: negative height
        + (1).to_bytes(2, "little") + bpp.to_bytes(2, "little") + b"\x00" * 8
    )


def _jpeg(w, h):
    # SOI, a DHT the SOF scan must skip (marker C4), then SOF0
    dht = b"\xff\xc4" + (4).to_bytes(2, "big") + b"\x00\x00"
    sof = (
        b"\xff\xc0" + (11).to_bytes(2, "big") + b"\x08"
        + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x03" + b"\x00" * 5
    )
    return b"\xff\xd8" + dht + sof


def _bmp_os2_core(w, h):
    # 12-byte BITMAPCOREHEADER: uint16 dims at 18/20 — must parse as None,
    # not as garbage int32 reads at the BITMAPINFOHEADER offsets
    return (
        b"BM" + b"\x00" * 12 + (12).to_bytes(4, "little")
        + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little") + b"\x00" * 8
    )


def test_real_header_decode_all_formats(spark):
    """PNG/GIF/BMP/JPEG headers parsed byte-for-byte — no codec library."""
    rows = [
        ("png", _png(640, 480, color_type=2), 640, 480, 3),
        ("png_rgba", _png(31, 17, color_type=6), 31, 17, 4),
        ("gif", _gif(320, 200), 320, 200, 3),
        ("bmp", _bmp(800, 600, bpp=24), 800, 600, 3),
        ("bmp_os2", _bmp_os2_core(100, 50), None, None, None),
        ("jpeg", _jpeg(1024, 768), 1024, 768, 3),
        ("jpeg_padded", b"\xff\xd8\xff" + _jpeg(64, 32)[2:], 64, 32, 3),
        ("garbage", b"not an image at all", None, None, None),
    ]
    df = spark.createDataFrame(
        [(n, b) for n, b, *_ in rows], "name string, media_bytes binary"
    )
    got = {r.name: r for r in decode_image_meta(df, fake=False).collect()}
    for name, _b, w, h, c in rows:
        assert (got[name].width, got[name].height, got[name].channels) == (w, h, c), name
    assert got["png"].format == "png" and got["jpeg"].format == "jpeg"
    assert got["gif"].format == "gif" and got["bmp"].format == "bmp"
    assert got["garbage"].format is None


def test_truncated_jpeg_fill_bytes_return_none():
    """Fill bytes (0xFF runs) right before a SOF marker at the end of a
    truncated buffer must not walk past the bound re-check: the documented
    contract is (None, None, None, None), never IndexError."""
    from real_time_stock_market_data_pipeline_spark.operators.multimodal import parse_image_header

    truncated = b"\xff\xd8\xff\xff\xc0\x00\x11\x08\x00\x10\x00\x10"
    assert parse_image_header(truncated) == (None, None, None, None)
    # every prefix of a valid padded JPEG parses or returns Nones — no crash
    full = b"\xff\xd8\xff" + _jpeg(64, 32)[2:]
    for cut in range(len(full)):
        got = parse_image_header(full[:cut])
        assert got == (None, None, None, None) or got == ("jpeg", 64, 32, 3)


def test_decode_stub_is_deterministic_and_batched(media):
    got = decode_image_meta(media, fake=True).select(
        "doc_id", "width", "height", "channels", "media_meta.byte_length"
    )
    rows = {r.doc_id: r for r in got.collect()}
    assert len(rows) == media.count()
    for r in rows.values():
        assert r.width == r.byte_length % 1920 + 1
        assert r.height == r.byte_length % 1080 + 1
        assert r.channels == 3


def test_metadata_only_query_prunes_binary(media):
    """A metadata rollup must not carry media_bytes past the scan-side
    projection (the 100 TB requirement: bytes and metadata are separate
    leaf columns)."""
    agg = media.groupBy("source").agg(
        F.sum("media_meta.byte_length").alias("total_bytes")
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    # the aggregate's exchange must not ship the binary column
    exchange_part = plan[plan.find("Exchange"):]
    assert "media_bytes" not in exchange_part


def test_sample_frames_pure_filter(spark):
    frames = spark.range(100).select(
        F.lit(1).alias("video_id"), F.col("id").alias("frame_idx")
    )
    kept = sample_frames(frames, every_n=10)
    assert kept.count() == 10
    assert kept.agg(F.max("frame_idx")).first()[0] == 90
    assert "Exchange" not in kept._jdf.queryExecution().executedPlan().toString()


def test_resize_stub_contract(media):
    from real_time_stock_market_data_pipeline_spark.operators.multimodal import resize_image

    out = resize_image(media, 8, 6, fake=True)
    rows = out.select("doc_id", "resized", "resized_w", "resized_h").collect()
    assert rows
    for r in rows:
        assert len(r.resized) == 8 * 6 * 3
        assert (r.resized_w, r.resized_h) == (8, 6)


def test_resize_real_path_nulls_for_non_bmp(media):
    """The REAL resize path cannot decode compressed/non-image payloads —
    it must yield NULLs (never raise) so one bad row can't kill a job."""
    from real_time_stock_market_data_pipeline_spark.operators.multimodal import resize_image

    rows = resize_image(media, 8, 6).select("resized", "resized_w").collect()
    assert rows and all(r.resized is None and r.resized_w is None for r in rows)


# ---------------------------------------------------------------------------
# REAL pixel path: uncompressed 24-bit BMP (pure numpy, no codec library)
# ---------------------------------------------------------------------------


def _pixel_array(w, h, seed=0):
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def test_bmp_encode_decode_roundtrip_exact():
    import numpy as np

    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        decode_bmp_pixels,
        encode_bmp24,
    )

    for w, h in [(1, 1), (3, 2), (4, 4), (13, 7), (17, 5)]:  # odd widths → padding
        arr = _pixel_array(w, h, seed=w * 100 + h)
        back = decode_bmp_pixels(encode_bmp24(arr))
        assert back.shape == (h, w, 3)
        assert np.array_equal(back, arr), (w, h)


def test_bmp_decode_topdown_negative_height():
    import numpy as np

    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        decode_bmp_pixels,
        encode_bmp24,
    )

    arr = _pixel_array(5, 3, seed=9)
    b = bytearray(encode_bmp24(arr))
    # flip to top-down storage: negate height, un-reverse the row order
    stride = (5 * 3 + 3) // 4 * 4
    rows = np.frombuffer(bytes(b[54:]), dtype=np.uint8).reshape(3, stride)
    b[22:26] = (-3).to_bytes(4, "little", signed=True)
    b[54:] = rows[::-1].tobytes()
    assert np.array_equal(decode_bmp_pixels(bytes(b)), arr)


def test_bmp_decode_rejects_malformed():
    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        decode_bmp_pixels,
        encode_bmp24,
    )

    good = encode_bmp24(_pixel_array(4, 4))
    assert decode_bmp_pixels(None) is None
    assert decode_bmp_pixels(b"") is None
    assert decode_bmp_pixels(b"not a bmp") is None
    assert decode_bmp_pixels(good[:-1]) is None  # truncated pixel array
    bad_bpp = bytearray(good)
    bad_bpp[28:30] = (8).to_bytes(2, "little")
    assert decode_bmp_pixels(bytes(bad_bpp)) is None
    bad_comp = bytearray(good)
    bad_comp[30:34] = (1).to_bytes(4, "little")  # BI_RLE8
    assert decode_bmp_pixels(bytes(bad_comp)) is None


def test_stride_sample_resize_semantics():
    import numpy as np

    from real_time_stock_market_data_pipeline_spark.operators.multimodal import stride_sample

    arr = _pixel_array(8, 6, seed=3)
    out = stride_sample(arr, 4, 3)
    assert out.shape == (3, 4, 3)
    for y in range(3):
        for x in range(4):
            assert np.array_equal(out[y, x], arr[(y * 6) // 3, (x * 8) // 4])


def test_resize_real_bmp_in_spark(spark):
    """decode → stride-sample → re-encode inside mapInPandas; the output is
    itself a valid BMP that decodes to the expected sampled pixels."""
    import numpy as np

    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        decode_bmp_pixels,
        encode_bmp24,
        resize_image,
        stride_sample,
    )

    arrs = {i: _pixel_array(10 + i, 6 + i, seed=i) for i in range(4)}
    df = spark.createDataFrame(
        [(i, encode_bmp24(a)) for i, a in arrs.items()],
        "img_id int, media_bytes binary",
    )
    rows = {r.img_id: r for r in resize_image(df, 5, 4).collect()}
    for i, a in arrs.items():
        r = rows[i]
        assert (r.resized_w, r.resized_h) == (5, 4)
        assert np.array_equal(decode_bmp_pixels(r.resized), stride_sample(a, 5, 4))


def test_extract_features_real_pixel_histogram(spark):
    """Real features = 16-bin histogram over DECODED pixels — padding and
    header bytes must not leak into the bins."""
    import numpy as np

    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        N_FEATURES,
        encode_bmp24,
        extract_features,
    )

    arr = _pixel_array(13, 7, seed=42)  # odd width → nonzero row padding
    df = spark.createDataFrame(
        [(1, encode_bmp24(arr)), (2, b"not an image")],
        "img_id int, media_bytes binary",
    )
    rows = {r.img_id: r for r in extract_features(df).collect()}
    flat = arr.reshape(-1)
    want = np.bincount(flat // 16, minlength=N_FEATURES) / flat.size
    assert np.allclose(rows[1].features, want, atol=1e-7)
    assert abs(sum(rows[1].features) - 1.0) < 1e-6
    assert rows[2].features is None


# ---------------------------------------------------------------------------
# REAL PNG pixel path: stdlib zlib inflate + all five filter types
# ---------------------------------------------------------------------------


def test_png_roundtrip_every_filter_type():
    import numpy as np

    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png,
        parse_image_header,
    )

    arr = _pixel_array(9, 7, seed=21)
    for filters in (None, [0] * 7, [1] * 7, [2] * 7, [3] * 7, [4] * 7,
                    [0, 1, 2, 3, 4, 2, 1]):
        b = encode_png(arr, filters=filters)
        assert parse_image_header(b) == ("png", 9, 7, 3), filters
        assert np.array_equal(decode_png_pixels(b), arr), filters


def test_png_decoder_against_handcrafted_bytes():
    """Pin the decoder independently of our encoder: IDAT assembled by hand
    (row 0 = Up filter over zero prior row ⇒ identity; row 1 = Sub) and the
    unfiltered pixels computed manually."""
    import zlib

    import numpy as np

    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        _png_chunk,
        decode_png_pixels,
    )

    # 2x2 RGB.  Row 0 raw (filter 2, prev row = 0): bytes survive as-is.
    # Row 1 (filter 1, Sub): recon[x] = raw[x] + recon[x-3].
    row0 = [10, 20, 30, 40, 50, 60]
    row1_raw = [5, 5, 5, 200, 100, 250]
    stream = bytes([2] + row0 + [1] + row1_raw)
    b = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", (2).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes([8, 2, 0, 0, 0]))
        + _png_chunk(b"IDAT", zlib.compress(stream))
        + _png_chunk(b"IEND", b"")
    )
    got = decode_png_pixels(b)
    want = np.array(
        [[[10, 20, 30], [40, 50, 60]],
         [[5, 5, 5], [(5 + 200) % 256, (5 + 100) % 256, (5 + 250) % 256]]],
        dtype=np.uint8,
    )
    assert np.array_equal(got, want)


def test_png_rgba_drops_alpha_and_malformed_rejects():
    import numpy as np

    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png,
    )

    rng = np.random.default_rng(8)
    rgba = rng.integers(0, 256, size=(4, 6, 4), dtype=np.uint8)
    b = encode_png(rgba, filters=[4, 3, 1, 2])
    assert np.array_equal(decode_png_pixels(b), rgba[:, :, :3])
    good = encode_png(_pixel_array(3, 3))
    assert decode_png_pixels(None) is None
    assert decode_png_pixels(good[:20]) is None          # truncated chunks
    corrupt = bytearray(good)
    corrupt[40] ^= 0xFF                                   # break the DEFLATE
    assert decode_png_pixels(bytes(corrupt)) is None
    interlaced = bytearray(good)
    interlaced[28] = 1                                    # Adam7 flag
    assert decode_png_pixels(bytes(interlaced)) is None
    palette = bytearray(good)
    palette[25] = 3                                       # color type 3
    assert decode_png_pixels(bytes(palette)) is None
    for cut in range(0, len(good), 5):                    # no crash on prefixes
        decode_png_pixels(good[:cut])


def test_image_ops_run_real_on_png(spark):
    """resize / features / pixel stats treat PNG like BMP via the
    decode_pixels dispatch — the compressed mainstream format is a
    first-class real input."""
    import numpy as np

    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        decode_bmp_pixels,
        encode_png,
        image_pixel_stats,
        resize_image,
        stride_sample,
    )

    arr = _pixel_array(12, 8, seed=31)
    df = spark.createDataFrame(
        [(1, encode_png(arr, filters=[y % 5 for y in range(8)]))],
        "img_id int, media_bytes binary",
    )
    r = image_pixel_stats(df).collect()[0]
    sums = arr.reshape(-1, 3).sum(axis=0)
    assert (r.width, r.height) == (12, 8)
    assert (r.sum_r, r.sum_g, r.sum_b) == tuple(int(s) for s in sums)
    rr = resize_image(df, 6, 4).collect()[0]
    assert np.array_equal(decode_bmp_pixels(rr.resized), stride_sample(arr, 6, 4))


# ---------------------------------------------------------------------------
# REAL video path: RIFF/AVI with uncompressed DIB frames
# ---------------------------------------------------------------------------


def test_avi_roundtrip_and_frame_ranges():
    import numpy as np

    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        avi_frame_ranges,
        decode_avi_frame_pixels,
        encode_avi_dib,
        parse_video_header,
    )

    frames = [_pixel_array(5, 3, seed=i) for i in range(4)]  # odd width → padding
    b = encode_avi_dib(frames, fps=30)
    assert parse_video_header(b) == ("avi", 5, 3, 4, 1_000_000 // 30)
    ranges = avi_frame_ranges(b)
    assert len(ranges) == 4 and all(is_dib for _, _, is_dib in ranges)
    for i, (off, size, _) in enumerate(ranges):
        assert np.array_equal(decode_avi_frame_pixels(b, off, size, 5, 3), frames[i])
    nones = (None,) * 5
    assert parse_video_header(None) == nones
    assert parse_video_header(b"RIFFxxxxWAVE") == nones
    assert parse_video_header(b[:20]) == nones
    for cut in range(0, len(b), 7):  # truncations never raise
        parse_video_header(b[:cut])
        avi_frame_ranges(b[:cut])


def test_encode_avi_rejects_mixed_frame_shapes():
    import pytest as _pytest

    from real_time_stock_market_data_pipeline_spark.operators.multimodal import encode_avi_dib

    with _pytest.raises(ValueError, match="share one"):
        encode_avi_dib([_pixel_array(4, 4), _pixel_array(5, 4)])


def test_sample_video_frames_chains_into_image_ops(spark):
    """video → every-2nd-frame as standalone BMPs → REAL image_pixel_stats:
    the full multimodal chain with no codec and no fake stage."""
    import numpy as np

    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        encode_avi_dib,
        image_pixel_stats,
        sample_video_frames,
    )

    vids = {
        1: [_pixel_array(6, 4, seed=10 + i) for i in range(5)],
        2: [_pixel_array(3, 3, seed=20 + i) for i in range(2)],
    }
    df = spark.createDataFrame(
        [(k, encode_avi_dib(v)) for k, v in vids.items()]
        + [(3, b"not a video")],
        "video_id int, media_bytes binary",
    )
    frames = sample_video_frames(df, every_n=2)
    stats = image_pixel_stats(frames, bytes_col="frame_bmp")
    rows = {(r.video_id, r.frame_idx): r for r in stats.collect()}
    assert set(rows) == {(1, 0), (1, 2), (1, 4), (2, 0)}  # every 2nd frame
    for (vid, idx), r in rows.items():
        src = vids[vid][idx].astype(np.int64)
        assert (r.width, r.height) == (src.shape[1], src.shape[0])
        sums = src.reshape(-1, 3).sum(axis=0)
        assert (r.sum_r, r.sum_g, r.sum_b) == tuple(int(s) for s in sums)
        assert r.total_frames == len(vids[vid])


# ---------------------------------------------------------------------------
# REAL audio path: PCM RIFF/WAVE (pure numpy, no codec library)
# ---------------------------------------------------------------------------


def _wav_samples(n, ch, seed=0):
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.integers(-32768, 32768, size=(n, ch), dtype=np.int64).astype("i2")


def test_wav_encode_decode_roundtrip_exact():
    import numpy as np

    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        decode_wav_samples,
        encode_wav_pcm16,
        parse_audio_header,
    )

    for n, ch in [(1, 1), (10, 2), (33, 1), (7, 4)]:
        arr = _wav_samples(n, ch, seed=n * 10 + ch)
        b = encode_wav_pcm16(arr, sample_rate=44100)
        assert parse_audio_header(b) == ("wav", ch, 44100, 16, n)
        back = decode_wav_samples(b)
        assert back.shape == (n, ch)
        assert np.array_equal(back, arr.astype(np.int32)), (n, ch)


def test_wav_parse_rejects_malformed():
    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        decode_wav_samples,
        encode_wav_pcm16,
        parse_audio_header,
    )

    good = encode_wav_pcm16(_wav_samples(8, 2))
    nones = (None,) * 5
    assert parse_audio_header(None) == nones
    assert parse_audio_header(b"") == nones
    assert parse_audio_header(b"RIFFxxxxNOPE") == nones
    assert parse_audio_header(good[:-3]) == nones  # truncated data chunk
    non_pcm = bytearray(good)
    non_pcm[20:22] = (3).to_bytes(2, "little")  # IEEE float format
    assert parse_audio_header(bytes(non_pcm)) == nones
    assert decode_wav_samples(good[:-3]) is None
    # every prefix parses or returns Nones — no crash
    for cut in range(len(good)):
        parse_audio_header(good[:cut])


def test_audio_sample_stats_matches_numpy(spark):
    import numpy as np

    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        audio_sample_stats,
        encode_wav_pcm16,
    )

    arr = _wav_samples(25, 2, seed=3)
    df = spark.createDataFrame(
        [(1, encode_wav_pcm16(arr, sample_rate=16000)), (2, b"not audio")],
        "item_id int, media_bytes binary",
    )
    rows = {r.item_id: r for r in audio_sample_stats(df).collect()}
    r = rows[1]
    a = arr.astype(np.int64)
    flat = a.reshape(-1)
    assert (r.n_frames, r.channels, r.sample_rate) == (25, 2, 16000)
    assert (r.sum_ch0, r.sum_ch1) == (int(a[:, 0].sum()), int(a[:, 1].sum()))
    assert r.sum_abs == int(np.abs(flat).sum())
    assert (r.min_sample, r.max_sample) == (int(flat.min()), int(flat.max()))
    assert r.idx_weighted == int((np.arange(1, flat.size + 1) * flat).sum())
    assert rows[2].n_frames is None and rows[2].sum_ch0 is None


def test_image_pixel_stats_matches_numpy(spark):
    import numpy as np

    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        encode_bmp24,
        image_pixel_stats,
    )

    arr = _pixel_array(13, 7, seed=11)
    df = spark.createDataFrame(
        [(1, encode_bmp24(arr)), (2, b"junk")], "img_id int, media_bytes binary"
    )
    rows = {r.img_id: r for r in image_pixel_stats(df).collect()}
    r = rows[1]
    assert (r.width, r.height) == (13, 7)
    sums = arr.reshape(-1, 3).sum(axis=0)
    assert (r.sum_r, r.sum_g, r.sum_b) == tuple(int(s) for s in sums)
    assert (r.topleft_r, r.topleft_g, r.topleft_b) == tuple(int(v) for v in arr[0, 0])
    weights = np.arange(1, 8)
    assert r.row_weighted == int((weights * arr.sum(axis=(1, 2))).sum())
    assert rows[2].width is None and rows[2].sum_r is None


def test_feature_extract_composes_with_similarity(media, spark):
    """The fake feature vectors are a REAL embedding column: brute-force
    cosine top-k over them runs unchanged."""
    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        N_FEATURES,
        extract_features,
    )
    from real_time_stock_market_data_pipeline_spark.operators.similarity import cosine_topk

    feats = extract_features(media, fake=True).select(
        F.col("doc_id").alias("vec_id"), F.col("features").alias("embedding")
    )
    first = feats.limit(1).collect()[0]
    assert len(first.embedding) == N_FEATURES
    q = feats.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    top = cosine_topk(q, feats, k=3)
    got = top.groupBy("query_id").count().collect()
    assert got and all(r["count"] == 3 for r in got)
    # deterministic: same bytes -> same features
    again = extract_features(media, fake=True).select("doc_id", "features").collect()
    feat_map = {r.doc_id: r.features for r in again}
    assert feat_map[first.vec_id] == list(first.embedding)


def test_dhash_near_dups_and_banding(spark):
    """dHash links multimodal to dedup: a brightness-perturbed copy of a
    gradient image lands within the Hamming budget (strong column ramps
    mean a ±1 pixel edit flips no gradient sign → identical hash); an
    inverted-gradient image does not pair; banding raises on a
    max_hamming that voids the pigeonhole recall guarantee."""
    import numpy as np
    import pytest

    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        dhash_near_dup_pairs,
        encode_bmp24,
        image_dhash,
    )

    h, w = 16, 18
    ramp = np.zeros((h, w, 3), dtype=np.uint8)
    for x in range(w):
        ramp[:, x, :] = (x * 9) % 250
    near = ramp.copy()
    near[3, 4, 1] = min(254, near[3, 4, 1] + 1)  # tiny edit, signs unchanged
    inverted = ramp[:, ::-1, :].copy()

    df = spark.createDataFrame(
        [(1, bytearray(encode_bmp24(ramp))),
         (2, bytearray(encode_bmp24(near))),
         (3, bytearray(encode_bmp24(inverted))),
         (4, None)],
        "doc_id LONG, media_bytes BINARY",
    )
    hashed = image_dhash(df)
    vals = {r.doc_id: r.dhash for r in hashed.collect()}
    assert vals[4] is None and vals[1] is not None
    assert vals[1] == vals[2]          # perturbation below gradient scale
    assert vals[1] != vals[3]          # inverted gradients flip every bit

    pairs = {(r.doc_a, r.doc_b) for r in dhash_near_dup_pairs(hashed).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs

    with pytest.raises(ValueError, match="pigeonhole"):
        dhash_near_dup_pairs(hashed, max_hamming=4)


def test_audio_fingerprint_gain_invariant_and_pairs(spark):
    """The spectral fingerprint links audio to dedup: a ×2-gain re-master
    of a clip has the IDENTICAL fingerprint (power-of-two scaling is
    exact in binary fp, so every band-energy comparison is unchanged —
    the gain-invariance the operator docstring promises); a
    spectrally-different clip does not pair; non-WAV and too-short
    payloads are NULL; and the shared banded join recovers exactly the
    twin pair."""
    import numpy as np

    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        AFP_FRAMES,
        AFP_MIN_FRAME,
        audio_fingerprint,
        audio_near_dup_pairs,
        encode_wav_pcm16,
    )

    n = 1600
    t = np.arange(n)
    # harmonic-rich clip: energy spread unevenly across bands
    clip = (
        2000 * np.sin(2 * np.pi * t / 50)
        + 1200 * np.sin(2 * np.pi * t / 13)
        + 700 * np.sin(2 * np.pi * t / 7)
    ).astype(np.int64)
    loud = clip * 2                       # exact power-of-two re-master
    other = (
        2000 * np.sin(2 * np.pi * t / 3)
        + 900 * np.sin(2 * np.pi * t / 41)
    ).astype(np.int64)
    short = clip[: AFP_FRAMES * AFP_MIN_FRAME - 8]

    def wav(arr):
        return bytearray(encode_wav_pcm16(arr.reshape(-1, 1)))

    df = spark.createDataFrame(
        [(1, wav(clip)), (2, wav(loud)), (3, wav(other)),
         (4, wav(short)), (5, None), (6, bytearray(b"not a wav"))],
        "doc_id LONG, media_bytes BINARY",
    )
    hashed = audio_fingerprint(df)
    vals = {r.doc_id: r.afp for r in hashed.collect()}
    assert vals[1] is not None
    assert vals[1] == vals[2]             # gain invariance, bit-exact
    assert vals[1] != vals[3]             # different spectrum, different key
    assert vals[4] is None and vals[5] is None and vals[6] is None

    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in audio_near_dup_pairs(hashed).collect()}
    assert pairs.get((1, 2)) == 0 and (1, 3) not in pairs


def test_video_dhash_majority_robust_and_pairs(spark):
    """The frame-majority video hash links video to dedup: editing a
    MINORITY of frames (1 of 5 sampled) leaves the majority bits — and
    the hash — unchanged; a clip of structurally different frames does
    not pair; a non-AVI payload is NULL; the shared banded join recovers
    the planted twin and the edited variant at distance 0."""
    import numpy as np

    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        encode_avi_dib,
        video_dhash,
        video_near_dup_pairs,
    )

    h, w = 8, 12
    def ramp_frame(shift):
        f = np.zeros((h, w, 3), dtype=np.uint8)
        for x in range(w):
            f[:, x, :] = (x * 17 + shift) % 251
        return f

    frames = [ramp_frame(s) for s in range(10)]        # every_n=2 → 5 sampled
    edited = [f.copy() for f in frames]
    edited[4] = frames[4][:, ::-1, :].copy()           # one SAMPLED frame inverted
    different = [f[:, ::-1, :].copy() for f in frames]  # every frame inverted

    df = spark.createDataFrame(
        [(1, bytearray(encode_avi_dib(frames))),
         (2, bytearray(encode_avi_dib(frames))),       # byte-identical twin
         (3, bytearray(encode_avi_dib(edited))),       # minority edit
         (4, bytearray(encode_avi_dib(different))),
         (5, bytearray(b"not an avi")), (6, None)],
        "doc_id LONG, media_bytes BINARY",
    )
    hashed = video_dhash(df)
    vals = {r.doc_id: r.vhash for r in hashed.collect()}
    assert vals[1] is not None
    assert vals[1] == vals[2] == vals[3]   # 1-of-5 edit outvoted by majority
    assert vals[1] != vals[4]              # all frames flipped → hash flips
    assert vals[5] is None and vals[6] is None

    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in video_near_dup_pairs(hashed).collect()}
    assert pairs.get((1, 2)) == 0 and pairs.get((1, 3)) == 0
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_mm10_reencoded_leak_caught_where_byte_dedup_is_blind(spark, tmp_path):
    """The reason mm10 exists: a BMP→PNG transcode keeps every pixel (both
    containers lossless) so the perceptual gate flags it at Hamming 0 with
    pigeonhole-perfect recall — while EXACT byte-level dedup sees two
    unrelated blobs (no byte hash collides).  Also pins replay-zero on
    the fingerprint table."""
    import numpy as np

    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        encode_bmp24,
        image_dhash,
        media_contamination_pairs_from_table,
        reencode_png,
        update_media_fingerprint_table,
    )

    rng = np.random.RandomState(7)
    rows = [
        (i, bytearray(encode_bmp24(rng.randint(0, 256, (8, 9, 3)))))
        for i in range(20)
    ]
    test_media = spark.createDataFrame(
        [(i, bytes(b)) for i, b in rows], "doc_id BIGINT, media_bytes BINARY"
    )
    # leak = re-encoded test images under new ids
    leaked = reencode_png(test_media.filter("doc_id % 4 = 0")).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "media_bytes"
    )
    # byte-level blindness: no leaked payload equals any test payload
    byte_join = leaked.select(
        F.sha2(F.col("media_bytes"), 256).alias("h")
    ).join(
        test_media.select(F.sha2(F.col("media_bytes"), 256).alias("h")), "h"
    )
    assert byte_join.count() == 0

    path = str(tmp_path / "fp_tab")
    hashed_test = image_dhash(test_media).select("doc_id", "dhash")
    update_media_fingerprint_table(hashed_test.filter("doc_id < 10"), path)
    update_media_fingerprint_table(hashed_test.filter("doc_id >= 10"), path)
    m = update_media_fingerprint_table(hashed_test.filter("doc_id < 10"), path)
    assert m["n_new_docs"] == 0  # replay-zero

    hashed_leak = image_dhash(leaked).select("doc_id", "dhash")
    pairs = media_contamination_pairs_from_table(hashed_leak, path).collect()
    got = {(r.doc_id, r.test_id, r.hamming) for r in pairs}
    want = {(i + 1000, i, 0) for i in range(0, 20, 4)}
    # every planted leak flagged against its source at distance 0 (other
    # organic matches are allowed — that is what a perceptual hash is for)
    assert want <= got


def test_triad_remaster_invariance(spark, sf_dir):
    """mm11's planted-leak physics, pinned at the operator level: a
    half-gain WAV re-master (power-of-two gain — bit-exact through the
    float64 FFT) and a 25→30 fps AVI remux (identical DIB frames,
    different avih metadata) must change the BYTES while leaving the
    perceptual hash EXACTLY unchanged — the leak shape the exact gate is
    provably blind to and the perceptual gate must catch at hamming 0."""
    from pyspark.sql import functions as F

    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        audio_fingerprint,
        video_dhash,
    )
    from real_time_stock_market_data_pipeline_spark.plans.queries import (
        _synthetic_avi_media,
        _synthetic_wav_media,
    )
    from real_time_stock_market_data_pipeline_spark.sources.readers import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull())
        .limit(40)
    )
    wav_m = _synthetic_wav_media(docs, "doc_id", 2)
    wav_r = _synthetic_wav_media(docs, "doc_id", 1)
    a = audio_fingerprint(wav_m).select("doc_id", F.col("afp").alias("x"))
    b = audio_fingerprint(wav_r).select("doc_id", F.col("afp").alias("y"))
    j = a.join(b, "doc_id")
    assert j.count() == 40
    assert j.filter("x IS NULL OR NOT (x <=> y)").count() == 0
    avi_m = _synthetic_avi_media(docs, "doc_id")
    avi_r = _synthetic_avi_media(docs, "doc_id", usec_hex="35820000")
    va = video_dhash(avi_m).select("doc_id", F.col("vhash").alias("x"))
    vb = video_dhash(avi_r).select("doc_id", F.col("vhash").alias("y"))
    j2 = va.join(vb, "doc_id")
    assert j2.count() == 40
    assert j2.filter("x IS NULL OR NOT (x <=> y)").count() == 0
    # and the container BYTES really differ (else the plant proves nothing)
    bm = {r.doc_id: bytes(r.media_bytes) for r in wav_m.collect()}
    br = {r.doc_id: bytes(r.media_bytes) for r in wav_r.collect()}
    assert all(bm[k] != br[k] for k in bm)
    vm = {r.doc_id: bytes(r.media_bytes) for r in avi_m.collect()}
    vr = {r.doc_id: bytes(r.media_bytes) for r in avi_r.collect()}
    assert all(vm[k] != vr[k] for k in vm)


def test_mm11_flags_every_planted_modal_leak(spark, sf_dir):
    """Every test-split doc at the plant stride must produce EXACTLY
    three flagged leaks — image, audio, video — all at hamming 0 with
    the replay gate true, through the ONE shared fingerprint table."""
    from real_time_stock_market_data_pipeline_spark.plans.queries import QUERIES

    rows = QUERIES["mm11_triad_decontamination"](spark, sf_dir).collect()
    assert rows and all(r.hamming == 0 and r.replay_zero for r in rows)
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add(r.modality)
    assert all(mods == {"image", "audio", "video"} for mods in by_doc.values())


def test_position_embedding_is_container_invariant(spark):
    """image_position_embedding maps decoded bytes to the CANONICAL BMP24
    raster, so the same pixels embed identically whether they arrive as a
    BMP or a PNG (the mm10 transcode property lifted to the embedding),
    and differing pixels do not."""
    import numpy as np

    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        encode_bmp24,
        encode_png,
        image_position_embedding,
    )

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(5, 8, 3), dtype=np.uint8)
    other = px.copy()
    other[0, 0, 0] ^= 0xFF
    rows = [
        (1, bytearray(encode_bmp24(px))),
        (2, bytearray(encode_png(px))),
        (3, bytearray(encode_bmp24(other))),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media_bytes binary")
    out = {
        r.doc_id: r.img_embedding
        for r in image_position_embedding(df).collect()
    }
    assert out[1] == out[2]          # BMP ≡ PNG for identical pixels
    assert out[1] != out[3]          # a changed pixel changes the sums
    assert out[4] is None            # undecodable → NULL, never a crash
    # exact arithmetic pin: class sums re-derived from the raster rule
    h, w = px.shape[0], px.shape[1]
    stride = (w * 3 + 3) // 4 * 4
    expect = [0] * 16
    for r_ in range(h):
        for c in range(w):
            for ch in range(3):
                pos = (h - 1 - r_) * stride + c * 3 + (2 - ch)
                expect[pos % 16] += int(px[r_, c, ch])
    assert out[1] == expect


def test_mm13_matched_pairs_score_exactly_one(spark, sf_dir):
    """The alignment gate's two halves: every matched pair scores EXACTLY
    1.0 (the BMP geometry is padding-free and the tail filler is zero, so
    the decoded position-class sums equal the caption's bit-for-bit — a
    losslessness pin on encode → real decode → file-position
    reconstruction), and every planted wrong-caption pair falls under the
    0.8 gate (mismatched max 0.766 across all three SFs, measured)."""
    rows = QUERIES["mm13_image_text_alignment"](spark, sf_dir).collect()
    assert rows
    matched = [r for r in rows if not r.is_planted_mismatch]
    planted = [r for r in rows if r.is_planted_mismatch]
    assert matched and planted
    assert all(r.alignment == 1.0 and r.aligned for r in matched)
    assert all(r.alignment < 0.8 and not r.aligned for r in planted)
    # planted pairs really carry the NEIGHBOR's image
    assert all(r.media_src_id == r.doc_id + 1 for r in planted)
    assert all(r.media_src_id == r.doc_id for r in matched)


def test_mm13_non_ascii_caption_fails_loudly(spark, sf_dir, tmp_path):
    """A caption with a multi-byte character would misalign the BMP
    payload against the per-character text walk; the plan must raise in
    its own projection instead of scoring a wrong alignment."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    t = pq.read_table(f"{sf_dir}/documents.parquet")
    texts = t.column("text").to_pylist()
    i = next(j for j, x in enumerate(texts) if x)
    texts[i] = texts[i] + " caf\u00e9"
    t = t.set_column(t.schema.get_field_index("text"), "text", pa.array(texts))
    pq.write_table(t, tmp_path / "documents.parquet")
    with pytest.raises(Exception, match="mm13: non-ASCII"):
        QUERIES["mm13_image_text_alignment"](spark, str(tmp_path)).collect()


def test_mm13_corpus_is_ascii_at_every_sf():
    """r14 ADVICE pin: mm13's BMP payload hex-encodes ONE byte per
    character (``lpad(hex(ascii(ch)), 2, '0')`` silently truncates a
    codepoint > 255 to its low hex digits) and ``lt``/``lm`` are octet
    lengths indexed per character, while the DuckDB oracle reads full
    ``unicode()`` codepoints — the construction is sound only while the
    documents corpus is pure ASCII.  Pin that explicitly at all three
    SFs: octet_length == length for every text (single-byte UTF-8 ⇔
    every codepoint < 128), so a future corpus regeneration with
    non-ASCII text fails HERE instead of as an opaque parity mismatch."""
    import os

    con = duckdb.connect()
    checked = 0
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = f"/root/testdata/{sf}/documents.parquet"
        if not os.path.exists(path):
            continue
        bad = con.execute(
            f"SELECT count(*) FROM '{path}' "
            "WHERE text IS NOT NULL AND octet_length(encode(text)) <> length(text)"
        ).fetchone()[0]
        assert bad == 0, f"{sf}: {bad} non-ASCII documents"
        checked += 1
    assert checked > 0
