"""Multimodal plumbing tests: binary columns, metadata pushdown shape,
Arrow-batched decode stub, frame sampling fan-out."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataflowjavasdk_spark.functions import multimodal as M


@pytest.fixture(scope="module")
def media(spark):
    rows = [(i, bytes([i % 251] * (50 + i))) for i in range(20)]
    df = spark.createDataFrame(rows, "media_id bigint, payload binary")
    return M._attach_stub_media_meta(df)


def test_metadata_struct_shape(media):
    assert dict(media.dtypes)["meta"].startswith("struct<media_type:string")
    types = {r[0] for r in media.select("meta.media_type").distinct().collect()}
    assert types <= {"image/png", "audio/wav", "video/mp4"}


def test_metadata_filter_without_payload(media):
    # The plan that matters at scale: filtering on metadata only must not
    # require the payload column in the projection.
    small = media.filter(F.col("meta.width") < 500).select("media_id", "meta.width")
    assert "payload" not in small.columns
    assert small.count() > 0


def test_image_feature_extraction_real_decode(spark):
    """extract_image_features sniffs container magic and REAL-decodes:
    a BMP, a PNG, and a JPEG in one batch, each through its own codec;
    features match numpy ground truth on the decoded pixels."""
    import numpy as np

    from dataflowjavasdk_spark.functions.jpeg import encode_jpeg

    rng = np.random.default_rng(11)
    bmp_px = rng.integers(0, 256, size=(6, 10, 3), dtype=np.uint8)
    png_px = rng.integers(0, 256, size=(5, 7), dtype=np.uint8)  # gray
    jpg_px = np.full((16, 16), 128, dtype=np.uint8)  # flat gray block
    rows = [
        (1, bytearray(M.encode_bmp(bmp_px))),
        (2, bytearray(M.encode_png(png_px))),
        (3, bytearray(encode_jpeg(jpg_px))),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in M.extract_image_features(df).collect()}
    assert (got[1]["width"], got[1]["height"]) == (10, 6)
    rgb = bmp_px.astype(np.float64)
    luma = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
    assert abs(got[1]["mean_luma"] - luma.mean()) < 1e-9
    assert (got[2]["width"], got[2]["height"]) == (7, 5)
    assert abs(got[2]["mean_luma"] - png_px.astype(np.float64).mean()) < 1e-9
    assert (got[3]["width"], got[3]["height"]) == (16, 16)
    assert abs(got[3]["mean_luma"] - 128.0) < 2.0  # lossy codec tolerance
    # deterministic: same payloads → same phash
    again = {r["media_id"]: r["phash"] for r in M.extract_image_features(df).collect()}
    assert again == {k: v["phash"] for k, v in got.items()}


def test_image_decode_rejects_empty_and_unknown():
    with pytest.raises(ValueError, match="empty"):
        M._decode_image(b"")
    with pytest.raises(ValueError, match="unsupported image container"):
        M._decode_image(b"\x00\x01\x02not-an-image")


def test_ahash_any_dims_matches_exact_path():
    """On dims divisible by 8 the generic box-average hash must agree
    bit-for-bit with ahash64's exact dyadic kernel."""
    import numpy as np

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(16, 24), dtype=np.uint8)
    hi, lo = M.ahash64(img)
    folded = (hi << 32) | lo
    folded = folded - (1 << 64) if folded >= (1 << 63) else folded
    assert M._ahash_any_dims(img.astype(np.float64)) == folded
    # non-multiple-of-8 and tiny dims still hash deterministically
    small = rng.integers(0, 256, size=(5, 3), dtype=np.uint8).astype(np.float64)
    assert M._ahash_any_dims(small) == M._ahash_any_dims(small.copy())


def test_frame_sampling_fanout(media):
    frames = M.sample_frames(media, every_nth=7)
    got = frames.groupBy("media_id").count().collect()
    meta = {r["media_id"]: r["n"] for r in media.select("media_id", F.col("meta.n_frames").alias("n")).collect()}
    for r in got:
        expected = (meta[r["media_id"]] - 1) // 7 + 1
        assert r["count"] == expected


def _wav_bytes(rate=8000, freq=440.0, seconds=0.25, nch=1, width=2):
    import io
    import wave

    import numpy as np

    n = int(rate * seconds)
    t = np.arange(n) / rate
    sig = np.sin(2 * np.pi * freq * t)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(width)
        w.setframerate(rate)
        if width == 2:
            pcm = (sig * 32767).astype("<i2")
        else:
            pcm = ((sig * 127) + 128).astype("u1")
        frames = np.repeat(pcm, nch).tobytes()
        w.writeframes(frames)
    return buf.getvalue()


def _bmp_bytes(pixels):
    """Minimal uncompressed 24-bit BMP from an (h, w, 3) RGB array —
    bottom-up rows, 4-byte padding, BITMAPINFOHEADER."""
    import struct

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    row_bytes = (w * 3 + 3) & ~3
    body = b""
    for r in range(h - 1, -1, -1):  # bottom-up
        row = px[r][:, ::-1].tobytes()  # RGB -> BGR
        body += row + b"\x00" * (row_bytes - len(row))
    header = b"BM" + struct.pack("<IHHI", 14 + 40 + len(body), 0, 0, 14 + 40)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + dib + body


def test_real_wav_decode_features(spark):
    """decode_wav is a REAL PCM parser (stdlib wave): features computed
    through the Spark mapInPandas path must equal numpy ground truth."""
    import numpy as np

    from dataflowjavasdk_spark.functions import multimodal as M

    rate, freq, seconds = 8000, 440.0, 0.25
    payload = _wav_bytes(rate, freq, seconds)
    df = spark.createDataFrame([(1, bytearray(payload))], "media_id long, payload binary")
    got = M.extract_audio_features(df).collect()[0]

    n = int(rate * seconds)
    sig = np.sin(2 * np.pi * freq * (np.arange(n) / rate))
    pcm = (sig * 32767).astype("<i2").astype(np.float64) / 32768.0
    assert got["sample_rate"] == rate
    assert got["n_channels"] == 1
    assert got["n_samples"] == n
    assert abs(got["duration_s"] - seconds) < 1e-9
    assert abs(got["rms"] - float(np.sqrt(np.mean(pcm**2)))) < 1e-12
    # 440 Hz crosses zero ~2*440 times/s → zcr ≈ 880/8000
    assert abs(got["zero_crossing_rate"] - 2 * freq / rate) < 0.01


def test_real_wav_decode_8bit_stereo(spark):
    from dataflowjavasdk_spark.functions import multimodal as M

    payload = _wav_bytes(rate=4000, seconds=0.1, nch=2, width=1)
    df = spark.createDataFrame([(7, bytearray(payload))], "media_id long, payload binary")
    got = M.extract_audio_features(df).collect()[0]
    assert got["n_channels"] == 2
    assert got["n_samples"] == 400
    assert got["rms"] > 0.5  # full-scale sine ≈ 0.707


def test_real_bmp_decode_features(spark):
    """decode_bmp parses real BMP bytes: known 3x2 pixels round-trip with
    exact channel means (includes the 4-byte row-padding case: w=3)."""
    import numpy as np

    from dataflowjavasdk_spark.functions import multimodal as M

    px = np.array(
        [[[255, 0, 0], [0, 255, 0], [0, 0, 255]],
         [[10, 20, 30], [40, 50, 60], [70, 80, 90]]],
        dtype=np.uint8,
    )
    payload = _bmp_bytes(px)
    # direct decoder check: exact pixel round trip
    assert (M.decode_bmp(payload) == px).all()
    df = spark.createDataFrame([(3, bytearray(payload))], "media_id long, payload binary")
    got = M.extract_bmp_features(df).collect()[0]
    means = px.reshape(-1, 3).mean(axis=0)
    assert (got["width"], got["height"]) == (3, 2)
    assert abs(got["mean_r"] - means[0]) < 1e-12
    assert abs(got["mean_g"] - means[1]) < 1e-12
    assert abs(got["mean_b"] - means[2]) < 1e-12


def test_bmp_decoder_rejects_non_bmp():
    import pytest

    from dataflowjavasdk_spark.functions import multimodal as M

    with pytest.raises(ValueError, match="not a BMP"):
        M.decode_bmp(b"\x89PNG____")


def test_bmp_decoder_rejects_truncated_and_degenerate():
    import struct

    import pytest

    from dataflowjavasdk_spark.functions import multimodal as M

    with pytest.raises(ValueError, match="truncated BMP header"):
        M.decode_bmp(b"BM" + b"\x00" * 20)
    # zero-height header, otherwise valid
    header = b"BM" + struct.pack("<IHHI", 54, 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, 3, 0, 1, 24, 0, 0, 2835, 2835, 0, 0)
    with pytest.raises(ValueError, match="degenerate"):
        M.decode_bmp(header + dib)
    # body shorter than height*row_bytes
    dib2 = struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 24, 0, 0, 2835, 2835, 0, 0)
    with pytest.raises(ValueError, match="truncated BMP pixel data"):
        M.decode_bmp(header + dib2 + b"\x00" * 5)


def test_bmp_decoder_top_down_rows():
    """Negative biHeight means top-down row order — same pixels out."""
    import numpy as np
    import struct

    from dataflowjavasdk_spark.functions import multimodal as M

    px = np.array([[[1, 2, 3], [4, 5, 6]], [[7, 8, 9], [10, 11, 12]]], np.uint8)
    h, w, _ = px.shape
    row_bytes = (w * 3 + 3) & ~3
    body = b""
    for r in range(h):  # top-down: natural order
        row = px[r][:, ::-1].tobytes()
        body += row + b"\x00" * (row_bytes - len(row))
    header = b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    assert (M.decode_bmp(header + dib + body) == px).all()


def test_extractors_tolerate_empty_batches(spark):
    """A zero-row input partition must still match the declared schema
    (pd.DataFrame([]) has no columns). The zero-row frame lives in the
    one payload runner, so this covers every caller: each public
    extract_*, the dead-letter wrapper and the curation core."""
    from dataflowjavasdk_spark.functions import multimodal as M

    empty = spark.createDataFrame([], "media_id long, payload binary").repartition(4)
    names = sorted(
        n
        for n in dir(M)
        if n.startswith("extract_") and n != "extract_features_deadletter"
    )
    assert len(names) == 13, names
    outs = {n: getattr(M, n)(empty) for n in names}
    outs["extract_features_deadletter"] = M.extract_features_deadletter(
        empty, M.image_features_payload, "width int, phash long"
    )
    routed = spark.createDataFrame(
        [], "media_id long, payload binary, media_type string"
    ).repartition(4)
    outs["curate_media_features"] = M.curate_media_features(routed)
    for name, out in outs.items():
        assert out.collect() == [], name
    assert outs["extract_features_deadletter"].columns == [
        "media_id", "width", "phash", "error"
    ]


def _png_from_raw(w, h, ctype, raw):
    import struct
    import zlib

    def chunk(t, d):
        body = t + d
        return struct.pack(">I", len(d)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_png_roundtrip_all_color_types():
    import numpy as np

    from dataflowjavasdk_spark.functions import multimodal as M

    rng = np.random.default_rng(11)
    for shape in ((6, 5), (4, 3, 3), (2, 7, 4)):
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        assert (M.decode_png(M.encode_png(img)) == img).all(), shape


def test_encode_wav_matches_stdlib_writer_for_any_dtype_order():
    """encode_wav writes the bytes the stdlib wave writer does from
    native-order samples, mono or interleaved stereo, whatever byte
    order the input dtype declares — and decode_wav reads them back."""
    import io
    import wave

    import numpy as np

    from dataflowjavasdk_spark.functions import multimodal as M

    pcm = np.array([[1, -2], [300, -32768], [32767, 0]], dtype="=i2")
    for samples in (pcm[:, 0], pcm):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wv:
            wv.setnchannels(1 if samples.ndim == 1 else 2)
            wv.setsampwidth(2)
            wv.setframerate(8000)
            wv.writeframes(samples.tobytes())
        for order in ("<", ">"):
            got = M.encode_wav(samples.astype(samples.dtype.newbyteorder(order)), 8000)
            assert got == buf.getvalue(), (samples.ndim, order)
        rate, nch, back = M.decode_wav(got)
        assert (rate, nch) == (8000, 1 if samples.ndim == 1 else 2)
        assert (back * 32768 == samples.reshape(len(samples), -1)).all()


def test_png_unfilters_sub_up_average_paeth():
    """Hand-computed expectations per PNG filter type — the decoder must
    reverse each filter exactly (these bytes were filtered by hand, not
    by our own encoder, so encoder/decoder can't be symmetrically
    wrong)."""
    import numpy as np

    from dataflowjavasdk_spark.functions import multimodal as M

    # Sub then Up (gray, 3x2)
    raw = bytes([1, 10, 20, 30]) + bytes([2, 1, 2, 3])
    got = M.decode_png(_png_from_raw(3, 2, 0, raw))
    assert (got == np.array([[10, 30, 60], [11, 32, 63]])).all(), got
    # Average (gray, 3x2)
    raw = bytes([3, 10, 10, 10]) + bytes([3, 4, 4, 4])
    got = M.decode_png(_png_from_raw(3, 2, 0, raw))
    assert (got == np.array([[10, 15, 17], [9, 16, 20]])).all(), got
    # Paeth (gray, 2x2)
    raw = bytes([4, 5, 7]) + bytes([4, 1, 1])
    got = M.decode_png(_png_from_raw(2, 2, 0, raw))
    assert (got == np.array([[5, 12], [6, 13]])).all(), got


def test_png_decoder_rejects_bad_payloads():
    import pytest

    from dataflowjavasdk_spark.functions import multimodal as M

    with pytest.raises(ValueError, match="not a PNG"):
        M.decode_png(b"BM______")
    # valid signature, no IHDR
    with pytest.raises(ValueError, match="missing IHDR"):
        M.decode_png(b"\x89PNG\r\n\x1a\n")
    # size mismatch: IHDR says 2x2 gray but IDAT holds one row
    bad = _png_from_raw(2, 2, 0, bytes([0, 1, 2]))
    with pytest.raises(ValueError, match="size mismatch"):
        M.decode_png(bad)


def test_png_spark_extractor(spark):
    import numpy as np

    from dataflowjavasdk_spark.functions import multimodal as M

    img = np.zeros((4, 6, 3), dtype=np.uint8)
    img[..., 0], img[..., 1], img[..., 2] = 200, 100, 50
    df = spark.createDataFrame(
        [(9, bytearray(M.encode_png(img)))], "media_id long, payload binary"
    )
    got = M.extract_png_features(df).collect()[0]
    assert (got["width"], got["height"], got["n_channels"]) == (6, 4, 3)
    assert (got["mean_r"], got["mean_g"], got["mean_b"]) == (200.0, 100.0, 50.0)


def test_png_decoder_bounds_inflate_and_wraps_zlib_errors():
    """A deflate-bomb IDAT (tiny dims, huge decompressed stream) must be
    rejected at the declared size without materializing the bomb, and
    truncated/garbage IDAT surfaces as ValueError per the decoder
    contract (not zlib.error / struct.error)."""
    import zlib

    import pytest

    from dataflowjavasdk_spark.functions import multimodal as M

    # bomb: IHDR says 1x1 gray (2 expected bytes) but IDAT inflates to 10 MB
    bomb = _png_from_raw(1, 1, 0, b"\x00" * (10 * 1024 * 1024))
    with pytest.raises(ValueError, match="size mismatch"):
        M.decode_png(bomb)
    # garbage IDAT -> zlib error surfaced as ValueError
    import struct as _s

    def chunk(t, d):
        body = t + d
        return _s.pack(">I", len(d)) + body + _s.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)

    garbage = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", _s.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", b"\xff\xfe\xfd")
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="corrupt PNG stream"):
        M.decode_png(garbage)
    # malformed IHDR length -> ValueError, not struct.error
    bad_ihdr = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", b"\x00\x01")
    with pytest.raises(ValueError, match="corrupt PNG IHDR"):
        M.decode_png(bad_ihdr)


def test_sniff_media_meta_real_headers_jvm_only(spark):
    """sniff_media_meta reads REAL container headers with pure JVM
    expressions: types and dimensions/rate match what the full decoders
    report, and the plan contains no Python stage at all."""
    import numpy as np

    from dataflowjavasdk_spark.functions import multimodal as M
    from dataflowjavasdk_spark.plans import audit

    import struct

    from dataflowjavasdk_spark.functions.jpeg import encode_jpeg

    png = M.encode_png(np.zeros((7, 13, 3), dtype=np.uint8))
    bmp_px = np.zeros((2, 3, 3), dtype=np.uint8)
    bmp = _bmp_bytes(bmp_px)
    wav = _wav_bytes(rate=22050, nch=2, seconds=0.01)
    jpg = encode_jpeg(np.full((4, 6), 50, dtype=np.uint8))
    # top-down BMP: negative biHeight (r4 ADVICE — sign-aware sniffing)
    w_td, h_td = 5, 4
    row_bytes = (w_td * 3 + 3) & ~3
    body = (b"\x00" * row_bytes) * h_td
    td_bmp = (
        b"BM"
        + struct.pack("<IHHI", 14 + 40 + len(body), 0, 0, 14 + 40)
        + struct.pack(
            "<IiiHHIIiiII", 40, w_td, -h_td, 1, 24, 0, len(body), 2835, 2835, 0, 0
        )
        + body
    )
    # non-canonical WAV: LIST chunk BEFORE fmt (r4 ADVICE — must sniff as
    # audio/wav but with NULL fields, not silently wrong bytes)
    fmt = struct.pack("<HHIIHH", 1, 2, 44100, 44100 * 4, 4, 16)
    nc_wav = (
        b"RIFF"
        + struct.pack("<I", 4 + 12 + 24 + 8)
        + b"WAVE"
        + b"LIST"
        + struct.pack("<I", 4)
        + b"INFO"
        + b"fmt "
        + struct.pack("<I", 16)
        + fmt
        + b"data"
        + struct.pack("<I", 0)
    )
    rows = [(1, bytearray(png)), (2, bytearray(bmp)), (3, bytearray(wav)),
            (4, bytearray(b"plain text payload")), (5, bytearray(jpg)),
            (6, bytearray(td_bmp)), (7, bytearray(nc_wav))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = M.sniff_media_meta(df)
    p = audit(out)
    assert p.python_evals == 0, "sniffing must stay JVM-side"
    got = {r["media_id"]: r["meta"].asDict() for r in out.collect()}
    assert got[1]["media_type"] == "image/png"
    assert (got[1]["width"], got[1]["height"]) == (13, 7)
    assert got[2]["media_type"] == "image/bmp"
    assert (got[2]["width"], got[2]["height"]) == (3, 2)
    assert got[3]["media_type"] == "audio/wav"
    assert (got[3]["sample_rate"], got[3]["n_channels"]) == (22050, 2)
    assert got[4]["media_type"] == "application/octet-stream"
    assert got[4]["width"] is None
    # JPEG: type detected; dims stay NULL by design (SOF offset varies)
    assert got[5]["media_type"] == "image/jpeg"
    assert got[5]["width"] is None and got[5]["height"] is None
    # top-down BMP: sniffer and decoder agree on the positive height
    assert got[6]["media_type"] == "image/bmp"
    assert (got[6]["width"], got[6]["height"]) == (w_td, h_td)
    assert M.decode_bmp(td_bmp).shape == (h_td, w_td, 3)
    # non-canonical WAV: still audio/wav, fields NULL instead of garbage
    assert got[7]["media_type"] == "audio/wav"
    assert got[7]["sample_rate"] is None and got[7]["n_channels"] is None


# ---------------------------------------------------------------------------
# Baseline JPEG (functions/jpeg.py)
# ---------------------------------------------------------------------------


def test_jpeg_roundtrip_block_constant_exact():
    """Per-8x8-block-constant planes are DC-only in DCT space, so with
    all-ones quant tables the codec must round-trip EXACTLY — across
    grayscale, 4:4:4, 4:2:0, partial-MCU crops, and restart intervals."""
    import numpy as np

    from dataflowjavasdk_spark.functions.jpeg import decode_jpeg, encode_jpeg

    def block_pattern(w, h):
        img = np.zeros((h, w), np.uint8)
        for by in range(-(-h // 8)):
            for bx in range(-(-w // 8)):
                img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = 40 + 17 * bx + 29 * by
        return img

    for w, h in [(1, 1), (8, 8), (9, 7), (21, 19), (16, 16), (17, 9)]:
        img = block_pattern(w, h)
        assert np.array_equal(decode_jpeg(encode_jpeg(img)), img), (w, h)
        color = np.zeros((h, w, 3), np.uint8)
        color[..., 0], color[..., 1], color[..., 2] = img, 77, 201
        assert np.array_equal(decode_jpeg(encode_jpeg(color)), color), (w, h)
        got = decode_jpeg(encode_jpeg(color, subsample=True))
        assert np.array_equal(got, color), ("420", w, h)
        got = decode_jpeg(encode_jpeg(color, subsample="422"))
        assert np.array_equal(got, color), ("422", w, h)
    # restart intervals: DC predictors reset per segment, byte-aligned
    img = block_pattern(41, 33)
    got = decode_jpeg(encode_jpeg(img, restart_interval=4))
    assert np.array_equal(got, img)


def test_jpeg_hand_built_mcu_vs_independent_idct():
    """Hand-assembled single-MCU JPEG with NONZERO AC coefficients and a
    non-trivial quant table, decoded against an INDEPENDENT double-loop
    T.81 IDCT — the bitstream, Huffman tables, and expectation are all
    built by hand here, so the codec can't be symmetrically wrong.

    Layout: custom canonical DHTs (DC: one 1-bit code for category 2;
    AC: 2-bit codes for 0x01/0x12/0x00), quant 16/11/12/14 on the first
    four zigzag slots, coefficients [DC=3, AC(u=1,v=0)=1, skip,
    AC(u=0,v=2)=-2, EOB] → dequantized F(0,0)=48, F(1,0)=11,
    F(0,2)=-28."""
    import math
    import struct

    import numpy as np

    from dataflowjavasdk_spark.functions.jpeg import decode_jpeg

    def seg(marker, body):
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    dqt = bytes([0x00, 16, 11, 12, 14] + [1] * 60)
    sof = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    dht_dc = bytes([0x00] + [1] + [0] * 15 + [2])  # one 1-bit code -> cat 2
    dht_ac = bytes([0x10] + [0, 3] + [0] * 14 + [0x01, 0x12, 0x00])
    sos = bytes([1, 1, 0x00]) + b"\x00\x3f\x00"
    # bits: DC '0'+mag'11'(+3); AC '00'+mag'1'(+1); '01'+mag'01'(-2); EOB '10'
    scan = bytes([0b01100101, 0b01101111])
    payload = (
        b"\xff\xd8"
        + seg(0xDB, dqt)
        + seg(0xC0, sof)
        + seg(0xC4, dht_dc)
        + seg(0xC4, dht_ac)
        + seg(0xDA, sos)
        + scan
        + b"\xff\xd9"
    )
    got = decode_jpeg(payload)

    F = {(0, 0): 48.0, (1, 0): 11.0, (0, 2): -28.0}  # (u, v) -> dequantized
    expected = np.zeros((8, 8), dtype=np.uint8)
    for y in range(8):
        for x in range(8):
            s = 0.0
            for (u, v), val in F.items():
                cu = 1 / math.sqrt(2) if u == 0 else 1.0
                cv = 1 / math.sqrt(2) if v == 0 else 1.0
                s += (
                    cu * cv * val
                    * math.cos((2 * x + 1) * u * math.pi / 16)
                    * math.cos((2 * y + 1) * v * math.pi / 16)
                )
            expected[y, x] = min(255, max(0, round(s / 4 + 128)))
    assert np.array_equal(got, expected), (got, expected)


def test_jpeg_lossy_roundtrip_tolerance():
    """All-ones quant on arbitrary content is exact up to the forward-DCT
    integer rounding: reconstruction within ±1 everywhere. A coarse quant
    table must still land within its quantization error bound."""
    import numpy as np

    from dataflowjavasdk_spark.functions.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(17)
    img = rng.integers(0, 256, (24, 31), np.uint8)
    out = decode_jpeg(encode_jpeg(img))
    assert out.shape == img.shape
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 1
    smooth = np.add.outer(np.arange(16) * 3, np.arange(16) * 2).astype(np.uint8)
    q = np.full((8, 8), 4, dtype=np.int32)
    out = decode_jpeg(encode_jpeg(smooth, quant=q))
    assert np.abs(out.astype(int) - smooth.astype(int)).max() <= 16


def test_jpeg_rejects_bad_payloads():
    import pytest

    import numpy as np

    from dataflowjavasdk_spark.functions.jpeg import (
        build_huffman,
        decode_jpeg,
        encode_jpeg,
    )

    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg(b"PK\x03\x04 not a jpeg")
    good = encode_jpeg(np.full((8, 8), 99, np.uint8))
    # progressive frame marker: SOF0 (0xC0) -> SOF2 (0xC2)
    idx = good.index(b"\xff\xc0")
    with pytest.raises(ValueError, match="SOF2"):
        decode_jpeg(good[:idx] + b"\xff\xc2" + good[idx + 2 :])
    # truncated mid-scan: no trailing marker at all
    with pytest.raises(ValueError, match="truncated JPEG scan"):
        decode_jpeg(good[:-4])
    # entropy stream exhausted: scan bytes removed but EOI kept
    sos = good.index(b"\xff\xda")
    scan_start = sos + 2 + int.from_bytes(good[sos + 2 : sos + 4], "big")
    with pytest.raises(ValueError, match="truncated JPEG entropy"):
        decode_jpeg(good[:scan_start] + b"\xff\xd9")
    # corrupt Huffman spec: BITS promises more codes than VALS delivers
    with pytest.raises(ValueError, match="corrupt Huffman"):
        build_huffman([0, 3] + [0] * 14, [1, 2])


def test_jpeg_dht_cache_transparent_and_bounded():
    """The raw-DHT-bytes table cache (round 10) must be invisible: cold
    decode (empty cache) == warm decode (hit), a truncated DHT still
    raises even when the intact table is already cached (the short raw
    slice can never false-hit), and the cache stays executor-bounded."""
    import pytest

    import numpy as np

    from dataflowjavasdk_spark.functions import jpeg as J

    img = np.zeros((13, 18), np.uint8)
    img[:, :8], img[:, 8:16], img[:, 16:] = 40, 57, 74
    payload = J.encode_jpeg(img)
    J._DHT_CACHE.clear()
    cold = J.decode_jpeg(payload)
    assert J._DHT_CACHE, "decode should populate the DHT cache"
    warm = J.decode_jpeg(payload)
    assert np.array_equal(cold, warm)

    # Truncate the first DHT segment by one value byte (fixing the
    # marker length): must raise despite the intact table being cached.
    i = payload.index(b"\xff\xc4")
    seglen = int.from_bytes(payload[i + 2 : i + 4], "big")
    trunc = (
        payload[: i + 2]
        + (seglen - 1).to_bytes(2, "big")
        + payload[i + 4 : i + 2 + seglen - 1]
        + payload[i + 2 + seglen :]
    )
    with pytest.raises(ValueError, match="truncated DHT|corrupt Huffman"):
        J.decode_jpeg(trunc)

    # Cached entry must equal a fresh build, and the cache stays bounded.
    J._DHT_CACHE.clear()
    for v in range(70):
        raw = bytes([0, 1] + [0] * 14) + bytes([v])  # one 2-bit code -> v
        table, lut = J._dht_table_lut(raw)
        assert table == J.build_huffman([0, 1] + [0] * 14, [v])
        assert lut[0] == (v, 2)  # peek16=0 spells code 00
    assert len(J._DHT_CACHE) <= 64


def test_jpeg_spark_extractor_mixed_gray_color(spark):
    """extract_jpeg_features over a mixed grayscale/4:2:0 batch: schema,
    NULL chroma means for gray rows, exact means for block-constant
    payloads."""
    import numpy as np

    from dataflowjavasdk_spark.functions.jpeg import encode_jpeg
    from dataflowjavasdk_spark.functions.multimodal import extract_jpeg_features

    gray = np.full((6, 10), 120, np.uint8)
    color = np.zeros((4, 5, 3), np.uint8)
    color[..., 0], color[..., 1], color[..., 2] = 60, 80, 100
    df = spark.createDataFrame(
        [(1, bytearray(encode_jpeg(gray))), (2, bytearray(encode_jpeg(color, subsample=True)))],
        "media_id long, payload binary",
    )
    rows = {r.media_id: r for r in extract_jpeg_features(df).collect()}
    assert rows[1].width == 10 and rows[1].height == 6
    assert rows[1].n_components == 1 and rows[1].mean_y == 120.0
    assert rows[1].mean_cb is None and rows[1].mean_cr is None
    assert rows[2].n_components == 3
    assert (rows[2].mean_y, rows[2].mean_cb, rows[2].mean_cr) == (60.0, 80.0, 100.0)


def test_jpeg_ycbcr_to_rgb():
    import numpy as np

    from dataflowjavasdk_spark.functions.jpeg import ycbcr_to_rgb

    # neutral chroma -> gray; JFIF matrix on a known triple
    neutral = np.array([[[128, 128, 128]]], np.uint8)
    assert (ycbcr_to_rgb(neutral) == 128).all()
    px = ycbcr_to_rgb(np.array([[[81, 90, 240]]], np.uint8))[0, 0]
    assert tuple(px) == (238, 14, 14)  # ~pure red in YCbCr


def test_media_sniff_prune_blob_never_shuffles(spark):
    """media_sniff_prune's contract at 100 TB: the payload column is read
    (sniffing needs header bytes) but no Exchange input carries the blob
    — the shuffle moves only grouping keys + partial aggregates."""
    import re

    from dataflowjavasdk_spark.plans import audit
    from dataflowjavasdk_spark.queries.registry import get
    from tests.conftest import SMOKE_SF

    df = get("media_sniff_prune").fn(spark, SMOKE_SF)
    p = audit(df)
    assert p.exchanges >= 1, "the rollup must aggregate (shuffle expected)"
    # formatted explain: each "(N) Exchange" block lists "Input [n]: [...]"
    blocks = re.split(r"^\(\d+\) ", p.text, flags=re.M)
    exchange_inputs = [
        b for b in blocks if b.startswith("Exchange")
    ]
    assert exchange_inputs, p.text
    for b in exchange_inputs:
        m = re.search(r"Input \[\d+\]: \[([^\]]*)\]", b)
        assert m, b
        assert "payload" not in m.group(1), (
            f"blob column reached a shuffle: {m.group(1)}"
        )
    # and the result itself is non-trivial
    rows = df.collect()
    assert any(r.media_type == "image/jpeg" and r.width_bucket is None for r in rows)


# ---------------------------------------------------------------------------
# Video family (functions/video.py): MJPEG-in-AVI + GIF/LZW
# ---------------------------------------------------------------------------


def test_avi_mjpeg_roundtrip_and_sampling():
    import numpy as np

    from dataflowjavasdk_spark.functions.jpeg import encode_jpeg
    from dataflowjavasdk_spark.functions.video import (
        decode_avi_mjpeg,
        encode_avi_mjpeg,
        extract_mjpeg_frames,
    )

    frames_px = [np.full((16, 24), 40 + 13 * i, np.uint8) for i in range(7)]
    avi = encode_avi_mjpeg([encode_jpeg(f) for f in frames_px], 24, 16, fps=5)
    assert len(extract_mjpeg_frames(avi)) == 7
    dec = decode_avi_mjpeg(avi)
    assert all(np.array_equal(d, f) for d, f in zip(dec, frames_px))
    # sample-then-decode: every 3rd frame, in stream order
    dec3 = decode_avi_mjpeg(avi, every_nth=3)
    assert len(dec3) == 3
    assert np.array_equal(dec3[1], frames_px[3])
    assert np.array_equal(dec3[2], frames_px[6])


def test_avi_rejects_bad_payloads():
    import struct

    import numpy as np
    import pytest

    from dataflowjavasdk_spark.functions.jpeg import encode_jpeg
    from dataflowjavasdk_spark.functions.video import (
        decode_avi_mjpeg,
        encode_avi_mjpeg,
        extract_mjpeg_frames,
    )

    with pytest.raises(ValueError, match="not an AVI"):
        extract_mjpeg_frames(b"RIFF\x00\x00\x00\x00WAVE")
    good = encode_avi_mjpeg([encode_jpeg(np.zeros((8, 8), np.uint8))], 8, 8)
    # chunk size runs past the container end
    idx = good.index(b"00dc")
    bad = good[: idx + 4] + struct.pack("<I", 1 << 24) + good[idx + 8 :]
    with pytest.raises(ValueError, match="truncated AVI chunk"):
        extract_mjpeg_frames(bad)
    with pytest.raises(ValueError, match="no video frames"):
        decode_avi_mjpeg(good.replace(b"00dc", b"01wb"))


def test_gif_lzw_boundary_regression():
    """Pinned bug: the decoder appends a table entry after EVERY data
    code, including the final one the encoder never materializes — when
    that phantom entry lands on the 2^code_size boundary the EOI widths
    diverged ('truncated GIF LZW stream' on constant runs). Sweep run
    lengths across several boundaries plus random payloads."""
    import numpy as np

    from dataflowjavasdk_spark.functions.video import _lzw_decode, _lzw_encode

    rng = np.random.default_rng(5)
    for size in list(range(1, 200)) + [4000, 6000]:
        flat = bytes([1]) * size
        assert _lzw_decode(_lzw_encode(flat, 2), 2, size) == flat, size
        rand = bytes(rng.integers(0, 4, size, dtype=np.uint8))
        assert _lzw_decode(_lzw_encode(rand, 2), 2, size) == rand, size


def test_gif_roundtrip_and_rejections():
    import numpy as np
    import pytest

    from dataflowjavasdk_spark.functions.video import decode_gif, encode_gif

    rng = np.random.default_rng(3)
    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
    frames = [rng.integers(0, 4, (11, 13)).astype(np.uint8) for _ in range(4)]
    palette, got = decode_gif(encode_gif(frames, pal))
    assert len(got) == 4
    assert all(np.array_equal(a, b) for a, b in zip(got, frames))
    assert tuple(palette[2]) == (0, 0, 255)

    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"BM_not_gif")
    good = bytearray(encode_gif(frames[:1], pal))
    # flip the interlace flag in the image descriptor
    desc = good.index(0x2C)
    bad = bytearray(good)
    bad[desc + 9] |= 0x40
    with pytest.raises(ValueError, match="interlaced"):
        decode_gif(bytes(bad))
    # truncate mid-LZW: drop the trailer and final sub-blocks — uniform
    # ValueError rejection (module convention), never a raw IndexError
    with pytest.raises(ValueError, match="truncated GIF"):
        decode_gif(bytes(good[:-6]))
    # truncate inside the header / palette
    with pytest.raises(ValueError, match="truncated GIF"):
        decode_gif(b"GIF89a\x0b\x00")
    with pytest.raises(ValueError, match="truncated GIF"):
        decode_gif(bytes(good[: good.index(0x2C) + 2]))
    # declared size mismatch: shrink logical height after encoding
    bad2 = bytearray(good)
    bad2[8] = 5  # canvas height 11 -> 5; frame descriptor disagrees
    with pytest.raises(ValueError, match="partial-canvas"):
        decode_gif(bytes(bad2))


def test_video_spark_extractors(spark):
    """Both video extractors through mapInPandas: schema + exact features
    for synthesized payloads."""
    import numpy as np

    from dataflowjavasdk_spark.functions.jpeg import encode_jpeg
    from dataflowjavasdk_spark.functions.multimodal import (
        extract_gif_features,
        extract_mjpeg_features,
    )
    from dataflowjavasdk_spark.functions.video import encode_avi_mjpeg, encode_gif

    frames = [encode_jpeg(np.full((8, 16), 30 + 4 * f, np.uint8)) for f in range(5)]
    avi = encode_avi_mjpeg(frames, 16, 8)
    df = spark.createDataFrame(
        [(1, bytearray(avi))], "media_id long, payload binary"
    )
    r = extract_mjpeg_features(df, every_nth=2).collect()[0]
    # sampled frames 0,2,4 -> lumas 30,38,46 -> mean 38
    assert (r.n_frames, r.n_sampled, r.width, r.height) == (5, 3, 16, 8)
    assert r.mean_luma == 38.0

    gif = encode_gif(
        [np.full((4, 6), 0, np.uint8), np.full((4, 6), 1, np.uint8)],
        [(10, 20, 30), (50, 60, 70)],
    )
    df = spark.createDataFrame(
        [(2, bytearray(gif))], "media_id long, payload binary"
    )
    g = extract_gif_features(df).collect()[0]
    assert (g.n_frames, g.palette_size, g.width, g.height) == (2, 4, 6, 4)
    assert (g.mean_r, g.mean_g, g.mean_b) == (30.0, 40.0, 50.0)


def test_resize_kernels_hand_built():
    """NN takes the top-left of each block; box averages the block —
    pinned on a hand-built 4x4 gradient independent of the query's
    closed-form oracle."""
    import numpy as np

    from dataflowjavasdk_spark.functions.multimodal import (
        resize_box,
        resize_nearest,
    )

    # r(x, y) = 10 + x + 4y, green/blue constant
    img = np.zeros((4, 4, 3), np.uint8)
    img[..., 0] = 10 + np.arange(4)[None, :] + 4 * np.arange(4)[:, None]
    img[..., 1] = 7
    nn = resize_nearest(img, 2)
    assert nn.shape == (2, 2, 3)
    assert nn[..., 0].tolist() == [[10, 12], [18, 20]]
    box = resize_box(img, 2)
    # block mean of {r0, r0+1, r0+4, r0+5} = r0 + 2.5
    assert box[..., 0].tolist() == [[12.5, 14.5], [20.5, 22.5]]
    assert float(box[..., 1].mean()) == 7.0
    with pytest.raises(ValueError):
        resize_box(np.zeros((3, 4, 3), np.uint8), 2)
    with pytest.raises(ValueError):
        resize_nearest(img, 0)


def test_tone_detection_bank(spark):
    """Each probe frequency must win its own clip; an off-bank tone
    lands on the nearest probe (leakage maximum), and a silent clip
    falls to bin 0 deterministically."""
    import io
    import wave

    import numpy as np

    from dataflowjavasdk_spark.functions.multimodal import (
        extract_tone_detection,
    )

    def clip(freq_hz):
        t = np.arange(800, dtype=np.float64) / 8000.0
        sig = np.round(12000.0 * np.sin(2 * np.pi * freq_hz * t)).astype("<i2")
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wv:
            wv.setnchannels(1)
            wv.setsampwidth(2)
            wv.setframerate(8000)
            wv.writeframes(sig.tobytes())
        return buf.getvalue()

    rows = [(i, clip(400 * (i + 1))) for i in range(8)]
    # Off-bank AND off-grid (119.5 periods in the window): leakage is
    # maximal and concentrates on the nearest probe. (An off-bank but
    # on-grid tone like 1190 Hz would be orthogonal to every probe —
    # near-zero power everywhere and a noise-driven argmax.)
    rows.append((100, clip(1195)))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        r["media_id"]: (r["dominant_bin"], r["dominant_freq_hz"])
        for r in extract_tone_detection(df).collect()
    }
    for i in range(8):
        assert got[i] == (i, 400 * (i + 1)), f"probe {i} misdetected: {got[i]}"
    assert got[100] == (2, 1200)


def test_multimodal_pipeline_routes_and_keeps_blobs_unshuffled(spark):
    """The composed pipeline's scale contract: payloads feed the routed
    decode branches but NO Exchange input carries the blob — only the
    4-column feature rows and rollup partials shuffle. And the routing
    must be real: every branch's survival stats land in the output."""
    import re

    from dataflowjavasdk_spark.plans import audit
    from dataflowjavasdk_spark.queries.registry import get
    from tests.conftest import SMOKE_SF

    df = get("multimodal_curation_pipeline").fn(spark, SMOKE_SF)
    p = audit(df)
    assert p.exchanges >= 1
    blocks = re.split(r"^\(\d+\) ", p.text, flags=re.M)
    for b in (b for b in blocks if b.startswith("Exchange")):
        m = re.search(r"Input \[\d+\]: \[([^\]]*)\]", b)
        assert m, b
        assert "payload" not in m.group(1), (
            f"blob column reached a shuffle: {m.group(1)}"
        )
    rows = {r.media_type: r for r in df.collect()}
    assert set(rows) == {"image/png", "image/bmp", "image/jpeg", "audio/wav"}
    # the non-canonical empty WAV rows must be dropped by the gate
    wav = rows["audio/wav"]
    assert wav.n_kept < wav.n_total
    # decoded-value checksum: every kept JPEG is the constant-60 gray
    jpg = rows["image/jpeg"]
    assert jpg.sum_kept_luma == 60.0 * jpg.n_kept


def test_ahash_brightness_and_contrast_invariance():
    """The perceptual contract, pinned directly on the kernel: adding a
    constant brightness or scaling the gradient contrast must not move
    the hash; rotating the gradient direction must."""
    import numpy as np

    from dataflowjavasdk_spark.functions.multimodal import ahash64

    def grad(a, b, r0):
        img = (
            r0 + a * np.arange(16)[None, :] + b * np.arange(16)[:, None]
        )
        return img.astype(np.uint8)

    base = ahash64(grad(1, 2, 10))
    assert ahash64(grad(1, 2, 50)) == base          # brightness-invariant
    assert ahash64(grad(2, 4, 10)) == base          # contrast-invariant
    assert ahash64(grad(2, 1, 10)) != base          # direction-sensitive
    with pytest.raises(ValueError):
        ahash64(np.zeros((12, 16), np.uint8))


def test_decode_deadletter_split_corrupt_media(spark):
    """Adversarial payloads per codec family, driven through the
    mapInPandas dead-letter wrapper: a truncated-LZW GIF, an AVI whose
    00dc chunk is not JPEG, and a frameless-but-parseable AVI must each
    land in the DLQ branch with a diagnosable error — never a task
    failure — while good rows in the SAME Arrow batch still decode."""
    import numpy as np

    from dataflowjavasdk_spark.functions.jpeg import decode_jpeg, encode_jpeg
    from dataflowjavasdk_spark.functions.video import (
        decode_avi_mjpeg,
        decode_gif,
        encode_avi_mjpeg,
        encode_gif,
    )

    good_gif = encode_gif(
        [np.arange(64, dtype=np.uint8).reshape(8, 8) % 4], [(0, 0, 0)] * 4
    )
    bad_gif = good_gif[:-6]  # drop trailer + final sub-block bytes
    jpg = encode_jpeg(np.full((8, 8), 77, dtype=np.uint8))
    good_avi = encode_avi_mjpeg([jpg], 8, 8)
    bad_avi = good_avi.replace(jpg, b"\x00" * len(jpg))  # non-JPEG 00dc
    # direct decoder contracts first
    with pytest.raises(ValueError, match="truncated GIF"):
        decode_gif(bad_gif)
    with pytest.raises(ValueError, match="SOI"):
        decode_avi_mjpeg(bad_avi)

    def gif_mean(payload: bytes) -> dict:
        _pal, frames = decode_gif(payload)
        return {"feat": float(frames[0].mean())}

    def mjpeg_mean(payload: bytes) -> dict:
        frames = decode_avi_mjpeg(payload)
        return {"feat": float(frames[0].mean())}

    rows = [(1, bytearray(good_gif)), (2, bytearray(bad_gif))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        r["media_id"]: r
        for r in M.extract_features_deadletter(df, gif_mean, "feat double").collect()
    }
    assert got[1]["error"] is None and got[1]["feat"] is not None
    assert "truncated GIF" in got[2]["error"] and got[2]["feat"] is None

    rows = [(3, bytearray(good_avi)), (4, bytearray(bad_avi))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        r["media_id"]: r
        for r in M.extract_features_deadletter(df, mjpeg_mean, "feat double").collect()
    }
    assert got[3]["error"] is None and abs(got[3]["feat"] - 77.0) < 1e-9
    assert "SOI" in got[4]["error"] and got[4]["feat"] is None


def test_mjpeg_features_reject_frameless_avi(spark):
    """A parseable AVI with zero video frames: extract_mjpeg_features
    must raise the clean ValueError (not IndexError), and the
    dead-letter wrapper must route it, not die."""
    import struct as _struct

    from dataflowjavasdk_spark.functions import multimodal as MM

    body = b"AVI " + b"LIST" + _struct.pack("<I", 4) + b"movi"
    frameless = b"RIFF" + _struct.pack("<I", len(body)) + body
    df = spark.createDataFrame(
        [(9, bytearray(frameless))], "media_id long, payload binary"
    )
    with pytest.raises(Exception, match="no video frames"):
        MM.extract_mjpeg_features(df).collect()

    def feats(payload: bytes) -> dict:
        from dataflowjavasdk_spark.functions.video import decode_avi_mjpeg

        frames = decode_avi_mjpeg(payload)
        return {"n": len(frames)}

    got = M.extract_features_deadletter(df, feats, "n long").collect()[0]
    assert "no video frames" in got["error"] and got["n"] is None


def test_video_frame_lumas_per_frame_rows(spark):
    import numpy as np

    from dataflowjavasdk_spark.functions.jpeg import encode_jpeg
    from dataflowjavasdk_spark.functions.multimodal import (
        extract_video_frame_lumas,
    )
    from dataflowjavasdk_spark.functions.video import encode_avi_mjpeg

    frames = [
        encode_jpeg(np.full((16, 16), 20, np.uint8)),
        encode_jpeg(np.full((16, 16), 20, np.uint8)),
        encode_jpeg(np.full((16, 16), 120, np.uint8)),
    ]
    df = spark.createDataFrame(
        [(7, encode_avi_mjpeg(frames, 16, 16))], "media_id long, payload binary"
    )
    rows = sorted(
        extract_video_frame_lumas(df).collect(), key=lambda r: r["frame_idx"]
    )
    assert [r["frame_idx"] for r in rows] == [0, 1, 2]
    assert rows[0]["mean_luma"] == rows[1]["mean_luma"]  # identical frames
    assert abs(rows[2]["mean_luma"] - rows[0]["mean_luma"]) > 50


def test_audio_frame_rms_rows_and_trailing_drop(spark):
    import io
    import wave

    import numpy as np

    from dataflowjavasdk_spark.functions.multimodal import (
        extract_audio_frame_rms,
    )

    # 2 full frames (silent, active) + 80 trailing samples (dropped)
    sig = np.zeros(160 * 2 + 80, dtype="<i2")
    sig[160:320:2], sig[161:320:2] = 1000, -1000
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(8000)
        wv.writeframes(sig.tobytes())
    df = spark.createDataFrame(
        [(3, buf.getvalue())], "media_id long, payload binary"
    )
    rows = sorted(
        extract_audio_frame_rms(df).collect(), key=lambda r: r["frame_idx"]
    )
    assert [r["frame_idx"] for r in rows] == [0, 1]
    assert rows[0]["rms"] == 0.0
    assert abs(rows[1]["rms"] - 1000 / 32768) < 1e-12


def test_wav_chunk_walker_matches_stdlib_wave_reference():
    """decode_wav's round-10 struct chunk walker must agree bit for bit
    with a stdlib `wave`-module reference decode (the pre-round-10
    front-end) across sample widths, channel counts, and odd frame
    counts — the walker changed the container parsing, never the sample
    math."""
    import io
    import wave

    import numpy as np

    from dataflowjavasdk_spark.functions.multimodal import decode_wav

    def reference(payload):
        with wave.open(io.BytesIO(payload), "rb") as w:
            rate, nch, width = (
                w.getframerate(), w.getnchannels(), w.getsampwidth(),
            )
            raw = w.readframes(w.getnframes())
        if width == 1:
            arr = (
                np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0
            ) / 128.0
        elif width == 2:
            arr = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
        else:
            arr = (
                np.frombuffer(raw, dtype="<i4").astype(np.float64)
                / 2147483648.0
            )
        return rate, nch, arr.reshape(-1, nch)

    rng = np.random.default_rng(7)
    cases = [
        (1, 1, 101),  # 8-bit mono, odd frame count (odd data chunk, padded)
        (2, 1, 100),
        (2, 2, 57),
        (4, 2, 33),
    ]
    for width, nch, nframes in cases:
        if width == 1:
            pcm = rng.integers(0, 256, nframes * nch).astype(np.uint8)
        elif width == 2:
            pcm = rng.integers(-(2**15), 2**15, nframes * nch).astype("<i2")
        else:
            pcm = rng.integers(-(2**31), 2**31, nframes * nch).astype("<i4")
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(nch)
            w.setsampwidth(width)
            w.setframerate(8000)
            w.writeframes(pcm.tobytes())
        payload = buf.getvalue()
        r_rate, r_nch, r_arr = reference(payload)
        d_rate, d_nch, d_arr = decode_wav(payload)
        assert (d_rate, d_nch) == (r_rate, r_nch)
        assert d_arr.shape == r_arr.shape
        assert np.array_equal(d_arr, r_arr)


def test_wav_chunk_walker_rejects_non_pcm_and_truncated():
    import pytest as _pytest

    from dataflowjavasdk_spark.functions.multimodal import decode_wav

    with _pytest.raises(ValueError):
        decode_wav(b"RIFF\x00\x00\x00\x00JUNK")
    with _pytest.raises(ValueError):
        decode_wav(b"not a riff container at all")
    # fmt chunk with a non-PCM format tag (3 = IEEE float, unsupported)
    import struct

    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 16000, 2, 16)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", 0)
    payload = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    with _pytest.raises(ValueError):
        decode_wav(payload)


def test_wav_batch_decode_matches_per_row_on_heterogeneous_corpus():
    """iter_wav_chunks groups a chunk's clips by (width, n_channels) and
    runs the sample math once per group over concatenated bytes; every clip's
    mono fold must still be bit-identical to the per-row
    decode_wav(...)[2].mean(axis=1), including across a corpus that
    mixes widths, channel counts, rates, and frame counts (so groups
    interleave in row order) and a clip shorter than one frame."""
    import io
    import wave

    import numpy as np

    from dataflowjavasdk_spark.functions.multimodal import (
        _gather_framed,
        _segment_max,
        _segment_sums,
        decode_wav,
        iter_wav_chunks,
    )

    def one_chunk(payloads):
        (chunk,) = iter_wav_chunks(payloads)
        off, *decoded = chunk
        assert off == 0
        return decoded

    rng = np.random.default_rng(11)
    cases = [  # (width, nch, nframes, rate) — deliberately interleaved groups
        (2, 1, 100, 8000),
        (1, 1, 101, 8000),
        (2, 2, 57, 16000),
        (2, 1, 3, 8000),  # shorter than one 160-sample frame
        (4, 2, 33, 8000),
        (2, 1, 100, 8000),  # same group as row 0, non-adjacent
        (1, 2, 64, 11025),
    ]
    payloads = []
    for width, nch, nframes, rate in cases:
        if width == 1:
            pcm = rng.integers(0, 256, nframes * nch).astype(np.uint8)
        elif width == 2:
            pcm = rng.integers(-(2**15), 2**15, nframes * nch).astype("<i2")
        else:
            pcm = rng.integers(-(2**31), 2**31, nframes * nch).astype("<i4")
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(nch)
            w.setsampwidth(width)
            w.setframerate(rate)
            w.writeframes(pcm.tobytes())
        payloads.append(buf.getvalue())

    rates, nchs, lens, starts, mono = one_chunk(payloads)
    assert len(rates) == len(cases)
    assert starts[0] == 0 and np.all(np.diff(starts) == lens[:-1])
    per_row = [decode_wav(p) for p in payloads]
    for i, (rate, nch, pcm) in enumerate(per_row):
        assert (rates[i], nchs[i], lens[i]) == (rate, nch, pcm.shape[0])
        assert np.array_equal(mono[starts[i] : starts[i] + lens[i]], pcm.mean(axis=1))

    # segment reductions == per-clip numpy reductions (sums run
    # clip-locally via reduceat; empty segments yield 0.0)
    monos = [p[2].mean(axis=1) for p in per_row]
    sums = _segment_sums(mono * mono, starts, lens)
    for i, m in enumerate(monos):
        assert sums[i] == np.add.reduce(m * m)
    mx = _segment_max(mono, starts, lens)
    for i, m in enumerate(monos):
        assert mx[i] == m.max()
    zero_lens = np.zeros_like(lens)
    assert np.all(_segment_sums(mono, starts, zero_lens) == 0.0)
    assert np.all(_segment_max(mono, starts, zero_lens) == 0.0)

    # framed gather == per-clip reshape (tails dropped, short clip -> 0 rows)
    frame = 160
    nf = lens // frame
    fm = _gather_framed(mono, starts, nf, frame)
    assert fm.shape == (int(nf.sum()), frame)
    pos = 0
    for i, m in enumerate(monos):
        want = m[: nf[i] * frame].reshape(int(nf[i]), frame)
        assert np.array_equal(fm[pos : pos + int(nf[i])], want)
        pos += int(nf[i])

    # degenerate corpora: an empty batch yields no chunk; a zero-frame clip
    assert list(iter_wav_chunks([])) == []
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"")
    z_rates, _, z_lens, z_starts, z_mono = one_chunk([buf.getvalue()])
    assert z_lens[0] == 0 and z_mono.size == 0


def test_wav_batch_pool_reuse_shrinking_batches():
    """The round-10 _BufferPool retains per-worker buffers across
    batches; a SMALLER batch following a larger one must slice the
    pooled buffers to exactly its own length — stale samples from the
    earlier batch beyond the fill must never leak into mono, the
    framed gather, or the segment reductions."""
    import io
    import wave

    import numpy as np

    from dataflowjavasdk_spark.functions.multimodal import (
        _gather_framed,
        _segment_sums,
        decode_wav,
        iter_wav_chunks,
    )

    rng = np.random.default_rng(7)

    def wav(nframes, fill):
        pcm = (fill * np.ones(nframes)).astype("<i2") if fill is not None else (
            rng.integers(-(2**15), 2**15, nframes).astype("<i2")
        )
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(pcm.tobytes())
        return buf.getvalue()

    big = [wav(500, None) for _ in range(40)]  # grows the pool
    small = [wav(170, 12345), wav(333, -2048)]  # then a shrunk batch

    for _ in iter_wav_chunks(big):  # fills pooled buffers with big-batch samples
        pass
    ((_, rates, _, lens, starts, mono),) = iter_wav_chunks(small)
    assert int(lens.sum()) == 170 + 333
    for i, p in enumerate(small):
        ref = decode_wav(p)[2].mean(axis=1)
        assert np.array_equal(mono[starts[i] : starts[i] + lens[i]], ref)

    nf = lens // 160
    fm = _gather_framed(mono, starts, nf, 160)
    assert fm.shape == (int(nf.sum()), 160)
    refs = [decode_wav(p)[2].mean(axis=1) for p in small]
    want = np.concatenate(
        [m[: (len(m) // 160) * 160].reshape(-1, 160) for m in refs]
    )
    assert np.array_equal(fm, want)
    sums = _segment_sums(mono * mono, starts, lens)
    for i, m in enumerate(refs):
        assert sums[i] == np.add.reduce(m * m)


def _empty_wav_bytes():
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"")
    return buf.getvalue()


def test_audio_features_empty_clip_last_in_batch(spark):
    """ADVICE r10 regression (repro'd): a zero-length WAV (empty data
    chunk — valid PCM) as a batch's LAST row made the zero-crossing
    gather index one past the cumsum buffer (starts == mono.size) and
    crashed with IndexError. Empty clips must report rms=0.0/zcr=0.0
    like the pre-round-10 per-row path, wherever they fall in the
    batch."""
    from dataflowjavasdk_spark.functions import multimodal as M

    rows = [
        (1, bytearray(_wav_bytes(seconds=0.05))),
        (2, bytearray(_empty_wav_bytes())),  # empty clip LAST
    ]
    df = spark.createDataFrame(
        rows, "media_id long, payload binary"
    ).coalesce(1)
    got = {r["media_id"]: r for r in M.extract_audio_features(df).collect()}
    assert got[2]["n_samples"] == 0
    assert got[2]["rms"] == 0.0
    assert got[2]["zero_crossing_rate"] == 0.0
    assert got[2]["duration_s"] == 0.0
    assert got[1]["n_samples"] == 400 and got[1]["rms"] > 0.0
    # frame-energy path over the same batch shape stays healthy too
    fr = {
        r["media_id"]: r
        for r in M.extract_audio_frame_energy(df).collect()
    }
    assert fr[2]["n_frames"] == 0 and fr[2]["mean_frame_rms"] == 0.0


def _extensible_wav_bytes(subformat_guid: bytes, n_frames: int = 40):
    """Hand-built WAVE_FORMAT_EXTENSIBLE (fmt tag 0xFFFE) 16-bit mono
    payload with the given 16-byte SubFormat GUID."""
    import struct

    import numpy as np

    pcm = (np.arange(n_frames, dtype=np.int64) * 321 - 5000).astype("<i2")
    data = pcm.tobytes()
    fmt = struct.pack(
        "<HHIIHH", 0xFFFE, 1, 8000, 8000 * 2, 2, 16
    ) + struct.pack("<HHI", 22, 16, 0x4) + subformat_guid
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_parse_wav_extensible_subformat_guid():
    """ADVICE r10: WAVE_FORMAT_EXTENSIBLE must be gated on the
    extension's SubFormat GUID — PCM decodes (bit-equal to the tag-1
    twin), IEEE-float raises instead of decoding as int PCM garbage."""
    import io
    import struct
    import wave

    import numpy as np
    import pytest

    from dataflowjavasdk_spark.functions.multimodal import (
        _SUBTYPE_PCM_GUID,
        decode_wav,
    )

    good = _extensible_wav_bytes(_SUBTYPE_PCM_GUID)
    rate, nch, samples = decode_wav(good)
    assert (rate, nch) == (8000, 1)
    # tag-1 twin with identical sample bytes
    pcm = (np.arange(40, dtype=np.int64) * 321 - 5000).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(pcm.tobytes())
    assert np.array_equal(samples, decode_wav(buf.getvalue())[2])

    float_guid = b"\x03" + _SUBTYPE_PCM_GUID[1:]  # KSDATAFORMAT IEEE_FLOAT
    with pytest.raises(ValueError, match="SubFormat"):
        decode_wav(_extensible_wav_bytes(float_guid))
    # truncated extension (no GUID at all) also rejects
    trunc = _extensible_wav_bytes(_SUBTYPE_PCM_GUID)
    # shrink the fmt chunk's declared size to the 16 base bytes
    fmt_off = trunc.index(b"fmt ")
    trunc = (
        trunc[: fmt_off + 4]
        + struct.pack("<I", 16)
        + trunc[fmt_off + 8 : fmt_off + 8 + 16]
        + trunc[trunc.index(b"data") :]
    )
    with pytest.raises(ValueError, match="SubFormat"):
        decode_wav(trunc)


def test_parse_wav_data_chunk_strictness():
    """ADVICE r10: a data chunk whose declared size overruns the payload
    must raise (not silently truncate), and the FIRST data chunk wins
    when several are present (stdlib wave semantics)."""
    import struct

    import numpy as np
    import pytest

    from dataflowjavasdk_spark.functions.multimodal import decode_wav

    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    a = (np.arange(10, dtype=np.int64) * 100).astype("<i2").tobytes()
    b = (np.arange(10, dtype=np.int64) * 7 + 3).astype("<i2").tobytes()

    def riff(*chunks):
        body = b"WAVE" + b"".join(
            cid + struct.pack("<I", len(data)) + data for cid, data in chunks
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    two = riff((b"fmt ", fmt), (b"data", a), (b"data", b))
    _, _, samples = decode_wav(two)
    assert np.array_equal(
        samples.ravel(), np.frombuffer(a, "<i2").astype(np.float64) / 32768.0
    )

    overrun = riff((b"fmt ", fmt), (b"data", a))
    # bump the declared data size past the payload end
    off = overrun.index(b"data") + 4
    overrun = overrun[:off] + struct.pack("<I", len(a) + 4) + overrun[off + 4 :]
    with pytest.raises(ValueError, match="truncated WAV data chunk"):
        decode_wav(overrun)


def test_media_feature_math_matches_reference_formulation(spark):
    """Round-11 extractor rewrites (integer-histogram / integer-sum
    means + columnar assembly) must be BIT-identical to the original
    per-payload formulations — pinned here by recomputing the old math
    (palette gather + pairwise np.mean; resize_nearest/resize_box then
    .mean()) independently on random corpora."""
    import numpy as np

    from dataflowjavasdk_spark.functions import multimodal as M
    from dataflowjavasdk_spark.functions.video import decode_gif, encode_gif

    rng = np.random.default_rng(23)

    # --- GIFs: random sizes (incl. 1x1), palettes, frame counts ---
    gifs = []
    for i in range(30):
        h, w = int(rng.integers(1, 12)), int(rng.integers(1, 12))
        npal = int(rng.integers(2, 9))
        pal = [tuple(int(v) for v in rng.integers(0, 256, 3)) for _ in range(npal)]
        frames = [
            rng.integers(0, npal, (h, w)).astype(np.uint8)
            for _ in range(int(rng.integers(1, 5)))
        ]
        gifs.append((i, bytearray(encode_gif(frames, pal))))
    df = spark.createDataFrame(gifs, "media_id long, payload binary")
    got = {r["media_id"]: r for r in M.extract_gif_features(df).collect()}
    for i, payload in gifs:
        palette, frames = decode_gif(bytes(payload))
        rgb = np.stack([palette[f] for f in frames]).astype(np.float64)
        means = rgb.reshape(-1, 3).mean(axis=0)
        r = got[i]
        assert r["n_frames"] == len(frames)
        assert (r["mean_r"], r["mean_g"], r["mean_b"]) == (
            means[0], means[1], means[2],
        )

    # --- BMPs: bmp features + both resize kernels (even dims) ---
    bmps = []
    for i in range(30):
        h, w = 2 * int(rng.integers(1, 9)), 2 * int(rng.integers(1, 9))
        img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        bmps.append((i, img, bytearray(M.encode_bmp(img))))
    df = spark.createDataFrame(
        [(i, p) for i, _img, p in bmps], "media_id long, payload binary"
    )
    feats = {r["media_id"]: r for r in M.extract_bmp_features(df).collect()}
    resized = {r["media_id"]: r for r in M.extract_resized_features(df).collect()}
    for i, img, _p in bmps:
        means = img.reshape(-1, 3).mean(axis=0)
        luma = 0.299 * means[0] + 0.587 * means[1] + 0.114 * means[2]
        r = feats[i]
        assert (r["mean_r"], r["mean_g"], r["mean_b"], r["mean_luma"]) == (
            means[0], means[1], means[2], luma,
        )
        nn = M.resize_nearest(img, 2)
        box = M.resize_box(img, 2)
        rr = resized[i]
        assert rr["nn_mean_r"] == float(nn[..., 0].mean())
        assert rr["box_mean_r"] == float(box[..., 0].mean())
        assert rr["mean_g"] == float(box[..., 1].mean())

    # --- PNGs: gray / RGB / RGBA ---
    pngs = []
    for i in range(24):
        h, w = int(rng.integers(1, 10)), int(rng.integers(1, 10))
        ch = (1, 3, 4)[i % 3]
        img = (
            rng.integers(0, 256, (h, w)).astype(np.uint8)
            if ch == 1
            else rng.integers(0, 256, (h, w, ch)).astype(np.uint8)
        )
        pngs.append((i, img, bytearray(M.encode_png(img))))
    df = spark.createDataFrame(
        [(i, p) for i, _img, p in pngs], "media_id long, payload binary"
    )
    got = {r["media_id"]: r for r in M.extract_png_features(df).collect()}
    for i, img, _p in pngs:
        r = got[i]
        if img.ndim == 2:
            m = float(img.mean())
            assert (r["mean_r"], r["mean_g"], r["mean_b"]) == (m, m, m)
        else:
            mm = img.reshape(-1, img.shape[2]).mean(axis=0)
            assert (r["mean_r"], r["mean_g"], r["mean_b"]) == (
                float(mm[0]), float(mm[1]), float(mm[2]),
            )

    # --- JPEGs: gray and 4:2:0 color; NULL chroma stays NULL ---
    from dataflowjavasdk_spark.functions.jpeg import decode_jpeg, encode_jpeg

    jpegs = []
    for i in range(20):
        h, w = int(rng.integers(1, 20)), int(rng.integers(1, 20))
        if i % 2:
            img = rng.integers(0, 256, (h, w)).astype(np.uint8)
            jpegs.append((i, bytearray(encode_jpeg(img))))
        else:
            img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
            jpegs.append((i, bytearray(encode_jpeg(img, subsample=True))))
    df = spark.createDataFrame(jpegs, "media_id long, payload binary")
    got = {r["media_id"]: r for r in M.extract_jpeg_features(df).collect()}
    for i, payload in jpegs:
        img = decode_jpeg(bytes(payload))
        r = got[i]
        if img.ndim == 2:
            assert r["n_components"] == 1
            assert r["mean_y"] == float(img.mean())
            assert r["mean_cb"] is None and r["mean_cr"] is None
        else:
            mm = img.reshape(-1, 3).mean(axis=0)
            assert r["n_components"] == 3
            assert (r["mean_y"], r["mean_cb"], r["mean_cr"]) == (
                float(mm[0]), float(mm[1]), float(mm[2]),
            )


def test_jpeg_scan_walk_handles_stuffing_and_restarts():
    """Round-11 decode internals (find-based scan-end jump, find-based
    restart split, lazy AC coefficient storage): decode must be exact on
    streams that actually contain stuffed 0xFF00 bytes and RSTn markers,
    and on AC-heavy blocks. The encoder's writer stuffs 0xFF bytes
    itself, so a corpus with guaranteed stuffing pins the jump logic."""
    import numpy as np

    from dataflowjavasdk_spark.functions.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(77)
    q = np.clip(np.arange(64).reshape(8, 8) // 4 + 1, 1, 32).astype(np.int32)
    n_stuffed = 0
    for i in range(60):
        h, w = int(rng.integers(4, 40)), int(rng.integers(4, 40))
        img = rng.integers(0, 256, (h, w)).astype(np.uint8)
        payload = encode_jpeg(img, quant=q, restart_interval=(3 if i % 2 else 0))
        if b"\xff\x00" in payload:
            n_stuffed += 1
        out = decode_jpeg(payload)
        assert out.shape == (h, w)
        # all-ones quant on a *random* image is lossy only through the
        # DCT round-trip rounding; with the real quant table the bound
        # is q-step/2 per coefficient — keep a loose sanity envelope and
        # an exact mean check on a lossless (flat) twin instead
        flat = np.full((h, w), int(rng.integers(0, 256)), np.uint8)
        exact = decode_jpeg(encode_jpeg(flat, restart_interval=(2 if i % 3 else 0)))
        assert np.array_equal(exact, flat)
    assert n_stuffed > 10  # the corpus genuinely exercised byte unstuffing
