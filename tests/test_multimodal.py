"""BMP codec round-trip and the real-pixel decode path in extract_features."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_aws_spark.multimodal import ops


def test_map_rows_fans_out_per_row_with_ddl_schema(spark):
    """map_rows hands fn each row's cols values and keeps the tuples it
    returns — none, one or three here — under the DDL's names and types;
    an input with no rows still carries that schema."""
    df = spark.range(6).select("id", F.concat(F.lit("t"), F.col("id").cast("string")).alias("tag"))

    def fn(i, tag):
        return [(i, k, f"{tag}.{k}", i / 2) for k in range((0, 1, 3)[i % 3])]

    ddl = "src bigint, k int, label string, half double"
    out = ops.map_rows(df, ["id", "tag"], fn, ddl)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("src", "bigint"), ("k", "int"), ("label", "string"), ("half", "double"),
    ]
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 0, "t1.0", 0.5),
        (2, 0, "t2.0", 1.0), (2, 1, "t2.1", 1.0), (2, 2, "t2.2", 1.0),
        (4, 0, "t4.0", 2.0),
        (5, 0, "t5.0", 2.5), (5, 1, "t5.1", 2.5), (5, 2, "t5.2", 2.5),
    ]
    empty = ops.map_rows(df.filter("id < 0"), ["id", "tag"], fn, ddl)
    assert empty.schema == out.schema
    assert empty.collect() == []


def test_bmp_roundtrip_exact():
    rng = np.random.RandomState(9)
    for w, h in [(1, 1), (3, 2), (5, 7), (16, 4)]:  # odd widths exercise padding
        img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        back = ops.decode_bmp24(ops.encode_bmp24(img))
        np.testing.assert_array_equal(back, img)


def test_bmp_decode_known_mean():
    img = np.array([[[0, 0, 0], [255, 255, 255]]], dtype=np.uint8)  # 1x2
    payload = ops.encode_bmp24(img)
    dec = ops.decode_bmp24(payload)
    assert dec.shape == (1, 2, 3)
    assert int(dec.sum()) == 765  # mean intensity = 765/(6*255) = 0.5


def test_bmp_decode_rejects_non_bmp():
    with pytest.raises(ValueError):
        ops.decode_bmp24(b"BMW cars are manufactured in Bavaria" + b"x" * 64)
    with pytest.raises(ValueError):
        ops.decode_bmp24(b"plain text payload")


def test_extract_features_real_pixels_for_bmp(spark):
    # a BMP payload must yield features from ACTUAL pixels (not the hash
    # stub), while a text payload still routes to the stub deterministically
    img = np.full((4, 6, 3), 51, dtype=np.uint8)  # mean = 51/255 = 0.2
    bmp = ops.encode_bmp24(img)
    rows = [(1, bytearray(bmp), "image/bmp", len(bmp), "d1"),
            (2, bytearray(b"just text"), "text/plain", 9, "d2")]
    df = spark.createDataFrame(rows, ops.MEDIA_SCHEMA)
    out = {r.asset_id: r for r in ops.extract_features(df).collect()}
    assert (out[1].width, out[1].height, out[1].n_channels) == (6, 4, 3)
    assert abs(out[1].mean_intensity - 0.2) < 1e-12
    w, h, c, mi = ops._decode_stub(b"just text")
    assert (out[2].width, out[2].height, out[2].mean_intensity) == (w, h, mi)


def test_png_roundtrip_exact_all_filters():
    rng = np.random.RandomState(11)
    for w, h in [(1, 1), (3, 2), (5, 7), (16, 4)]:
        img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        for filters in [None, [0], [1], [2], [3], [4], [0, 1, 2, 3, 4]]:
            back = ops.decode_png_rgb8(ops.encode_png_rgb8(img, filters))
            np.testing.assert_array_equal(back, img, err_msg=f"{w}x{h} {filters}")


def test_png_decode_rejects_garbage_and_corruption():
    with pytest.raises(ValueError):
        ops.decode_png_rgb8(b"plain text payload of reasonable length....")
    good = ops.encode_png_rgb8(np.zeros((2, 2, 3), dtype=np.uint8))
    corrupt = good[:40] + bytes([good[40] ^ 0xFF]) + good[41:]  # flip an IDAT byte
    with pytest.raises(ValueError):  # CRC check must catch it
        ops.decode_png_rgb8(corrupt)


def test_extract_features_real_pixels_for_png(spark):
    img = np.full((4, 6, 3), 102, dtype=np.uint8)  # mean = 102/255 = 0.4
    png = ops.encode_png_rgb8(img, [0, 1, 2, 3, 4])
    rows = [(1, bytearray(png), "image/png", len(png), "d1")]
    df = spark.createDataFrame(rows, ops.MEDIA_SCHEMA)
    out = ops.extract_features(df).collect()[0]
    assert (out.width, out.height, out.n_channels) == (6, 4, 3)
    assert abs(out.mean_intensity - 0.4) < 1e-12


def test_wav_roundtrip_and_chunk_walk(spark):
    import numpy as np

    from etl_aws_spark.multimodal import ops

    s = np.array([0, 100, -100, 32767, -32768, 5], dtype=np.int16)
    payload = ops.encode_wav16(s, sample_rate=16000)
    back, rate = ops.decode_wav16(payload)
    assert rate == 16000 and (back == s).all()
    # chunk walk must skip an inserted LIST chunk before data
    import struct

    head, data_chunk = payload[:36], payload[36:]
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    patched = (
        payload[:4]
        + struct.pack("<I", struct.unpack("<I", payload[4:8])[0] + len(extra))
        + payload[8:36]
        + extra
        + data_chunk
    )
    back2, _ = ops.decode_wav16(patched)
    assert (back2 == s).all()
    # corrupt magic rejected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        ops.decode_wav16(b"JUNK" + payload[4:])


def test_audio_features_match_numpy(spark):
    import numpy as np

    from etl_aws_spark.multimodal import ops

    rng = np.random.RandomState(3)
    rows = []
    want = {}
    for aid in range(5):
        s = (rng.randint(-2048, 2048, size=50 + aid)).astype(np.int16)
        rows.append((aid, bytearray(ops.encode_wav16(s))))
        x = s.astype(float)
        neg = x < 0
        want[aid] = (
            len(s),
            float(np.sqrt(np.mean(x * x))),
            int(np.abs(s).max()),
            int(np.count_nonzero(neg[1:] != neg[:-1])),
        )
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    out = ops.extract_audio_features(df).toPandas().set_index("asset_id")
    for aid, (n, rms, peak, zc) in want.items():
        r = out.loc[aid]
        assert r.n_samples == n and r.peak == peak and r.n_zero_crossings == zc
        assert abs(r.rms - rms) < 1e-12


def test_jpeg_block_constant_roundtrip_exact():
    """Per-8x8-block-constant images at even offsets from 128 survive the
    lossy pipeline bit-exactly (DC-only blocks; quantizer step 16 divides
    8*(v-128) with no remainder) — the invariant the registered query's
    closed-form oracle relies on."""
    import numpy as np

    from etl_aws_spark.multimodal.jpeg import decode_jpeg_gray8, encode_jpeg_gray8

    rng = np.random.RandomState(11)
    for _ in range(6):
        w, h = int(rng.randint(5, 33)), int(rng.randint(5, 33))
        bw, bh = -(-w // 8), -(-h // 8)
        blocks = 128 + 2 * rng.randint(-60, 61, size=(bh, bw))
        img = np.repeat(np.repeat(blocks, 8, 0), 8, 1)[:h, :w].astype(np.uint8)
        dec = decode_jpeg_gray8(encode_jpeg_gray8(img))
        assert dec.shape == (h, w)
        assert np.array_equal(dec, img)


def test_jpeg_ac_path_smooth_image_small_error():
    """Smooth gradients produce rich AC runs/magnitudes (ZRL, EOB, byte
    stuffing); a Huffman or zigzag bug yields garbage, not a small error.
    Annex-K quantization on smooth content stays within a few levels."""
    import numpy as np

    from etl_aws_spark.multimodal.jpeg import decode_jpeg_gray8, encode_jpeg_gray8

    x = np.arange(48)
    img = (
        (np.sin(x / 5.0)[:, None] * np.cos(x / 7.0)[None, :]) * 100 + 128
    ).astype(np.uint8)
    dec = decode_jpeg_gray8(encode_jpeg_gray8(img))
    err = np.abs(dec.astype(int) - img.astype(int))
    assert err.max() <= 12 and err.mean() < 3.0


def test_jpeg_random_image_error_within_quantization_bound():
    """Arbitrary (worst-case) content: per-pixel error is bounded by the
    IDCT image of half-a-quantizer-step per coefficient plus rounding —
    the quantization-theoretic ceiling, format machinery exercised on
    maximal-entropy AC streams."""
    import numpy as np

    from etl_aws_spark.multimodal.jpeg import (
        QTABLE,
        decode_jpeg_gray8,
        encode_jpeg_gray8,
    )

    cu = np.ones(8)
    cu[0] = 1 / np.sqrt(2)
    bound = (np.outer(cu, cu) / 4 * (QTABLE / 2.0)).sum() + 1
    rng = np.random.RandomState(23)
    for _ in range(4):
        w, h = int(rng.randint(5, 41)), int(rng.randint(5, 41))
        img = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
        dec = decode_jpeg_gray8(encode_jpeg_gray8(img))
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= bound


def test_jpeg_decoder_rejects_non_baseline_and_truncation():
    import numpy as np
    import pytest as _pytest

    from etl_aws_spark.multimodal.jpeg import decode_jpeg_gray8, encode_jpeg_gray8

    img = np.full((16, 16), 130, np.uint8)
    payload = encode_jpeg_gray8(img)
    for bad in (b"hello", b"\xff\xd8\xff\xe0junk", payload[:40], payload[:-20][:60]):
        with _pytest.raises(ValueError):
            decode_jpeg_gray8(bad)
    # progressive SOF2 marker must be refused, not mis-decoded
    prog = payload.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with _pytest.raises(ValueError):
        decode_jpeg_gray8(prog)


def test_jpeg_query_dispatch_uses_real_decode(spark):
    """extract_features must route JPEG payloads to the real decoder (1
    channel, exact block mean), not the stub."""
    import numpy as np

    from etl_aws_spark.multimodal import ops
    from etl_aws_spark.multimodal.jpeg import encode_jpeg_gray8

    img = np.full((8, 8), 128 + 40, np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(encode_jpeg_gray8(img)))], "doc_id long, payload binary"
    )
    media = ops.attach_media_metadata(df, "doc_id", "payload", mime="image/jpeg")
    row = ops.extract_features(media).collect()[0]
    assert (row.width, row.height, row.n_channels) == (8, 8, 1)
    assert abs(row.mean_intensity - 168 / 255.0) < 1e-9


def test_jpeg_color_neutral_and_ycbcr_exact_roundtrip():
    """Color path: (1) neutral-chroma RGB content round-trips exactly
    through the full RGB->YCbCr->encode->decode->RGB pipeline; (2) the
    oracle-corpus YCbCr planes (Y even offsets, chroma multiples of 17)
    decode bit-exactly, with no value near a .5 rounding boundary and no
    clipping — the invariants the color query's oracle relies on."""
    import numpy as np

    from etl_aws_spark.multimodal.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
    )

    rng = np.random.RandomState(17)
    blocks = 128 + 2 * rng.randint(-60, 61, size=(3, 4))
    g = np.repeat(np.repeat(blocks, 8, 0), 8, 1)[:20, :28].astype(np.uint8)
    rgb = np.stack([g, g, g], -1)
    assert np.array_equal(decode_jpeg(encode_jpeg_color(rgb)), rgb)

    for did in (0, 7, 41, 123):
        w, h = 6 + did % 19, 6 + (did * 7) % 17
        bw, bh = -(-w // 8), -(-h // 8)
        ycc = np.zeros((h, w, 3), np.uint8)
        for by in range(bh):
            for bx in range(bw):
                y = 128 + 2 * (((did * 5 + bx * 3 + by * 7) % 41) - 20)
                k = ((did * 3 + bx + by * 2) % 5) - 2
                m = ((did * 11 + bx * 5 + by * 3) % 5) - 2
                ycc[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    y, 128 + 17 * k, 128 + 17 * m,
                )
        yf = ycc[..., 0].astype(np.float64)
        cbd = ycc[..., 1].astype(np.float64) - 128.0
        crd = ycc[..., 2].astype(np.float64) - 128.0
        exp = np.stack(
            [
                yf + 1.402 * crd,
                (yf - 0.344136286 * cbd) - 0.714136286 * crd,
                yf + 1.772 * cbd,
            ],
            -1,
        )
        assert exp.min() > 0.0 and exp.max() < 255.0
        assert np.abs(exp - np.floor(exp) - 0.5).min() > 1e-9
        dec = decode_jpeg(encode_jpeg_color(ycc, from_ycbcr=True))
        assert np.array_equal(dec, np.round(exp).astype(np.uint8)), did


def test_jpeg_color_smooth_error_bounded():
    import numpy as np

    from etl_aws_spark.multimodal.jpeg import decode_jpeg, encode_jpeg_color

    x = np.arange(40)
    r = (np.sin(x / 6.0)[:, None] * np.ones(40)[None, :]) * 60 + 128
    g = (np.cos(x / 9.0)[None, :] * np.ones(40)[:, None]) * 60 + 128
    b = np.full((40, 40), 90.0)
    rgb = np.clip(np.stack([r, g, b], -1), 0, 255).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg_color(rgb))
    err = np.abs(dec.astype(int) - rgb.astype(int))
    assert err.max() <= 30 and err.mean() < 6


def test_jpeg_gray_entry_rejects_color(spark):
    import numpy as np

    from etl_aws_spark.multimodal import ops
    from etl_aws_spark.multimodal.jpeg import decode_jpeg_gray8, encode_jpeg_color
    import pytest as _pytest

    rgb = np.full((8, 8, 3), 140, np.uint8)
    with _pytest.raises(ValueError):
        decode_jpeg_gray8(encode_jpeg_color(rgb))
    # dispatch reports 3 channels for color payloads
    df = spark.createDataFrame(
        [(1, bytearray(encode_jpeg_color(rgb)))], "doc_id long, payload binary"
    )
    media = ops.attach_media_metadata(df, "doc_id", "payload", mime="image/jpeg")
    row = ops.extract_features(media).collect()[0]
    assert row.n_channels == 3 and (row.width, row.height) == (8, 8)


def test_y4m_roundtrip_and_errors():
    import numpy as np
    import pytest

    from etl_aws_spark.multimodal.ops import decode_y4m_420, encode_y4m_420

    frames = [
        (
            ((np.arange(48).reshape(6, 8) * 5 + f) % 256).astype(np.uint8),
            np.full((3, 4), 100 + f, np.uint8),
            np.full((3, 4), 200 - f, np.uint8),
        )
        for f in range(4)
    ]
    w, h, out = decode_y4m_420(encode_y4m_420(frames))
    assert (w, h, len(out)) == (8, 6, 4)
    for (ey, ecb, ecr), (dy, dcb, dcr) in zip(frames, out):
        assert (ey == dy).all() and (ecb == dcb).all() and (ecr == dcr).all()
    with pytest.raises(ValueError, match="not a YUV4MPEG2"):
        decode_y4m_420(b"RIFF1234\n")
    with pytest.raises(ValueError, match="unsupported chroma"):
        decode_y4m_420(b"YUV4MPEG2 W8 H6 F25:1 Ip A1:1 C444\nFRAME\n")


def test_bilinear_resize_identity_and_interpolation():
    import numpy as np

    from etl_aws_spark.multimodal.ops import bilinear_resize_numerators

    a = (np.arange(6 * 8 * 3).reshape(6, 8, 3) * 13 % 256).astype(np.uint8)
    # identity resize reproduces the array exactly (all weights land on one corner)
    n, den = bilinear_resize_numerators(a, 6, 8)
    assert (n == a.astype(np.int64) * den).all()
    # 2x downsample of a horizontal gradient v(x)=x: centers at x=0.5, 2.5, ...
    g = np.tile(np.arange(8, dtype=np.uint8)[None, :, None], (4, 1, 3))
    n2, den2 = bilinear_resize_numerators(g, 2, 4)
    vals = n2.astype(float) / den2
    assert np.allclose(vals[0, :, 0], [0.5, 2.5, 4.5, 6.5])
    # constant image is resize-invariant at any output size
    c = np.full((5, 7, 3), 42, np.uint8)
    n3, den3 = bilinear_resize_numerators(c, 3, 2)
    assert (n3 == 42 * den3).all()
    # 2x UPSCALE: first output center samples xs = -0.25 < 0 — must
    # edge-replicate column 0, never wrap to the last column. Columns
    # [0, 255]: centers -0.25, 0.25, 0.75, 1.25 -> 0, 63.75, 191.25, 255.
    u = np.tile(np.array([0, 255], dtype=np.uint8)[None, :, None], (2, 1, 1))
    n4, den4 = bilinear_resize_numerators(u, 4, 4)
    vals4 = n4.astype(float) / den4
    assert np.allclose(vals4[0, :, 0], [0.0, 63.75, 191.25, 255.0])
    # same at the top edge for rows
    assert np.allclose(vals4[:, 0, 0], [0.0, 0.0, 0.0, 0.0])


def test_linear_resample_identity_and_midpoints():
    import numpy as np

    from etl_aws_spark.multimodal.ops import linear_resample_numerators

    a = np.array([-100, 0, 100, 200, 300, 400], dtype=np.int16)
    # identity resample reproduces the waveform exactly
    n, den = linear_resample_numerators(a, 6)
    assert (n == a.astype(np.int64) * den).all()
    # 2x downsample of a ramp: centers at 0.5, 2.5, 4.5 -> midpoints
    n2, den2 = linear_resample_numerators(a, 3)
    assert (n2.astype(float) / den2 == [-50.0, 150.0, 350.0]).all()
    # 2x UPSAMPLE: first output center samples xs = -0.25 < 0 — must
    # edge-replicate sample 0, never wrap to the last sample.
    b = np.array([0, 1000], dtype=np.int16)
    n3, den3 = linear_resample_numerators(b, 4)
    assert (n3.astype(float) / den3 == [0.0, 250.0, 750.0, 1000.0]).all()
