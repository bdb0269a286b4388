"""Binary-column operators: metadata, decode, feature extraction, resize,
frame sampling. Every per-asset op is a per-asset function plus one
:func:`map_rows` pass."""

from __future__ import annotations

import hashlib
import math
import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

MEDIA_SCHEMA = (
    "asset_id bigint, payload binary, mime string, n_bytes bigint, digest string"
)

FEATURE_SCHEMA = (
    "asset_id bigint, mime string, n_bytes bigint, width int, height int, "
    "n_channels int, mean_intensity double"
)

FRAME_SCHEMA = "asset_id bigint, frame_idx int, frame_digest string"


def map_rows(df: DataFrame, cols: list, fn, schema: str) -> DataFrame:
    """One Arrow-batched ``mapInPandas`` pass over ``df``: ``fn(*values)``
    receives each input row's ``cols`` values and returns that row's
    output tuples in ``schema`` order — none, one, or one per frame or
    bin. Output column names and types are read from the DDL ``schema``
    alone. Batch size is governed by
    ``spark.sql.execution.arrow.maxRecordsPerBatch``, so executor memory is
    bounded by batch_size × max_asset_size."""
    out = DataType.fromDDL(schema)
    names = out.fieldNames()

    def run(batches):
        for pdf in batches:
            rows = [t for vals in zip(*(pdf[c] for c in cols)) for t in fn(*vals)]
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(run, out)


def attach_media_metadata(df: DataFrame, id_col: str, payload_col: str, mime: str) -> DataFrame:
    """Derive the typed metadata columns every media table carries: byte
    size, content digest, mime tag. Pure expressions — metadata derivation
    never leaves the JVM."""
    return df.select(
        F.col(id_col).alias("asset_id"),
        F.col(payload_col).alias("payload"),
        F.lit(mime).alias("mime"),
        F.length(payload_col).cast("bigint").alias("n_bytes"),
        F.md5(payload_col).alias("digest"),
    )


def fixture_pixels(doc_id: int):
    """The deterministic (H, W, 3) uint8 RGB image of ``doc_id`` behind the
    BMP/PNG corpora and the binaryFile fixture: W = 4 + id % 13,
    H = 4 + 7·id % 11, v(x, y, c) = (31·id + 7x + 3y + 11c) % 256 — the
    closed form the SQL oracles recompute."""
    w, h = 4 + doc_id % 13, 4 + (doc_id * 7) % 11
    x = np.arange(w)[None, :, None]
    y = np.arange(h)[:, None, None]
    c = np.arange(3)[None, None, :]
    return ((doc_id * 31 + x * 7 + y * 3 + c * 11) % 256).astype(np.uint8)


def encode_bmp24(arr) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as an uncompressed 24-bpp BMP
    (BITMAPINFOHEADER, BI_RGB, bottom-up, 4-byte row padding) — pure
    numpy/struct, no imaging library. Used to synthesize a real decodable
    corpus in tests and queries."""
    arr = np.asarray(arr, dtype=np.uint8)
    h, w, _ = arr.shape
    row = w * 3
    stride = (row + 3) & ~3
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, :row] = arr[::-1, :, ::-1].reshape(h, row)  # bottom-up, BGR
    pixels = body.tobytes()
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(pixels), 0, 0, off)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    return header + dib + pixels


def decode_bmp24(payload: bytes):
    """Decode an uncompressed 24-bpp BI_RGB BMP to an (H, W, 3) uint8 RGB
    array — dependency-free (numpy slicing over the pixel buffer). Raises
    ValueError on anything that is not strictly this format, so callers can
    fall back; validation checks magic, header size, bpp, compression, and
    that the buffer really contains stride x height bytes (a text payload
    that happens to start with 'BM' cannot pass)."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP")
    off = struct.unpack_from("<I", payload, 10)[0]
    dib_size = struct.unpack_from("<I", payload, 14)[0]
    if dib_size < 40:
        raise ValueError("unsupported DIB header")
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0 or w <= 0 or h == 0 or w > 1 << 16 or abs(h) > 1 << 16:
        raise ValueError("not uncompressed 24-bpp")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    if off + stride * h > len(payload) or off < 54:
        raise ValueError("truncated pixel buffer")
    buf = np.frombuffer(payload, dtype=np.uint8, offset=off, count=stride * h)
    img = buf.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]
    if bottom_up:
        img = img[::-1]
    return img


def dhash_bands(arr) -> list[int]:
    """dHash of an (H, W, 3) image as four 16-bit bands: the green channel
    nearest-neighbor sampled on a 9×8 grid (integer index arithmetic —
    exactly replayable in SQL), bit k = gy·8 + gx set iff the sample is
    brighter than its right neighbor, band b = bits 16b .. 16b+15."""
    h, w = arr.shape[0], arr.shape[1]
    g = arr[:, :, 1].astype(np.int64)  # green channel
    grid = g[np.ix_((np.arange(8) * h) // 8, (np.arange(9) * w) // 9)]
    bits = (grid[:, :8] > grid[:, 1:]).astype(np.int64).reshape(-1)
    return [int((bits[b * 16 : (b + 1) * 16] << np.arange(16)).sum()) for b in range(4)]


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png_rgb8(arr, row_filters=None) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as an 8-bit truecolor PNG —
    stdlib ``zlib``/``struct`` only, no imaging library. ``row_filters``
    optionally assigns a PNG filter type (0-4, cycled) per scanline so a
    decoder's None/Sub/Up/Average/Paeth reconstruction paths can all be
    exercised from one corpus; default is filter 0 everywhere."""
    arr = np.asarray(arr, dtype=np.uint8)
    h, w, _ = arr.shape
    bpp = 3
    raw = arr.reshape(h, w * bpp).astype(np.int16)
    zeros = np.zeros(bpp, dtype=np.int16)
    prev = np.zeros(w * bpp, dtype=np.int16)
    lines = []
    for y in range(h):
        ft = 0 if not row_filters else int(row_filters[y % len(row_filters)])
        cur = raw[y]
        left = np.concatenate([zeros, cur[:-bpp]])
        up = prev
        ul = np.concatenate([zeros, prev[:-bpp]])
        if ft == 0:
            f = cur
        elif ft == 1:  # Sub
            f = (cur - left) % 256
        elif ft == 2:  # Up
            f = (cur - up) % 256
        elif ft == 3:  # Average
            f = (cur - (left + up) // 2) % 256
        elif ft == 4:  # Paeth
            p = left + up - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul))
            f = (cur - pred) % 256
        else:
            raise ValueError(f"bad filter {ft}")
        lines.append(bytes([ft]) + f.astype(np.uint8).tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    idat = zlib.compress(b"".join(lines), 6)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def decode_png_rgb8(payload: bytes):
    """Decode an 8-bit truecolor non-interlaced PNG to an (H, W, 3) uint8
    array — stdlib ``zlib`` inflate plus all five scanline unfilters
    (None/Sub/Up/Average/Paeth), no imaging library. CRCs are verified;
    raises ValueError on any other PNG flavor (palette, alpha, 16-bit,
    interlaced) so callers can fall back."""
    if len(payload) < 8 + 25 or payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, w = 8, None
    idat = bytearray()
    while pos + 12 <= len(payload):
        (clen,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + clen]
        if len(data) != clen:
            raise ValueError("truncated chunk")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + clen)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError("bad CRC")
        if ctype == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", data)
            if (depth, color, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise ValueError("only 8-bit RGB non-interlaced supported")
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if w is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    bpp = 3
    stride = w * bpp
    raw = zlib.decompress(bytes(idat))
    if len(raw) != (stride + 1) * h:
        raise ValueError("bad scanline buffer size")
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        line = np.frombuffer(raw, np.uint8, stride, y * (stride + 1) + 1).astype(np.int32)
        up = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if ft == 0:
            rec = line
        elif ft == 2:  # Up — fully vectorized, no intra-row dependence
            rec = (line + up) % 256
        elif ft in (1, 3, 4):  # Sub/Average/Paeth — sequential in x
            rec = np.zeros(stride, np.int32)
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0  # left
                b = int(up[x])  # above
                c = int(up[x - bpp]) if x >= bpp else 0  # upper-left
                if ft == 1:
                    pred = a
                elif ft == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                rec[x] = (int(line[x]) + pred) % 256
        else:
            raise ValueError(f"bad filter byte {ft}")
        out[y] = rec.astype(np.uint8)
    return out.reshape(h, w, bpp)


def _decode_stub(payload: bytes) -> tuple[int, int, int, float]:
    """Deterministic stand-in for an image decode (PIL absent here): derive
    (width, height, channels, mean_intensity) from the content hash, so the
    full pipeline — batching, schema, downstream aggregation — runs
    end-to-end with stable outputs."""
    h = hashlib.sha256(payload).digest()
    width = 32 + h[0] % 224
    height = 32 + h[1] % 224
    channels = 3
    mean_intensity = h[2] / 255.0
    return width, height, channels, mean_intensity


def extract_features(df: DataFrame) -> DataFrame:
    """Decode + feature-extract media payloads via ``mapInPandas``: Arrow
    batches of (asset_id, payload, …) stream through the Python worker; one
    output row per asset. Real decoders (PIL) plug into the same loop via
    the import-try; batch size is governed by
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` so executor memory is
    bounded by batch_size × max_asset_size."""
    try:  # pragma: no cover - not installed in this environment
        from PIL import Image  # noqa: F401
        import io

        def pil_decode(payload: bytes):
            with Image.open(io.BytesIO(payload)) as im:
                arr = np.asarray(im.convert("RGB"), dtype="float64")
                return im.width, im.height, 3, float(arr.mean() / 255.0)

    except ImportError:
        pil_decode = None

    def decode(payload: bytes):
        # Real pixel decode for the dependency-free formats first: an
        # uncompressed 24-bpp BMP and an 8-bit RGB PNG (stdlib zlib
        # inflate + unfilter) both decode from actual pixel data (mean
        # intensity as exact integer sum / (n*255), deterministic across
        # engines). Anything else goes to PIL when present, else the
        # declared deterministic stub.
        if payload[:2] == b"BM":
            try:
                img = decode_bmp24(payload)
                h, w = img.shape[0], img.shape[1]
                return w, h, 3, float(int(img.sum(dtype="int64"))) / (img.size * 255.0)
            except ValueError:
                pass
        if payload[:8] == _PNG_SIG:
            try:
                img = decode_png_rgb8(payload)
                h, w = img.shape[0], img.shape[1]
                return w, h, 3, float(int(img.sum(dtype="int64"))) / (img.size * 255.0)
            except ValueError:
                pass
        if payload[:2] == b"\xff\xd8":
            try:
                from etl_aws_spark.multimodal.jpeg import decode_jpeg

                img = decode_jpeg(payload)  # (H, W) gray or (H, W, 3) RGB
                h, w = img.shape[0], img.shape[1]
                ch = 1 if img.ndim == 2 else img.shape[2]
                return w, h, ch, float(int(img.sum(dtype="int64"))) / (img.size * 255.0)
            except ValueError:
                pass
        if pil_decode is not None:  # pragma: no cover
            try:
                return pil_decode(payload)
            except Exception:
                pass
        return _decode_stub(payload)

    def features(aid, mime, n_bytes, payload):
        return [(aid, mime, n_bytes, *decode(bytes(payload)))]

    return map_rows(df, ["asset_id", "mime", "n_bytes", "payload"], features, FEATURE_SCHEMA)


def sample_frames(df: DataFrame, every_n_bytes: int = 64, max_frames: int = 8) -> DataFrame:
    """Frame sampling for video-like payloads: one output row per sampled
    frame (UDTF shape — rows expand). The stub samples byte windows; a real
    av/ffmpeg decoder plugs into the same mapInPandas loop."""

    def frames(aid, payload):
        data = bytes(payload)
        n = min(max_frames, max(1, len(data) // every_n_bytes))
        return [
            (aid, i, hashlib.md5(data[i * every_n_bytes : (i + 1) * every_n_bytes]).hexdigest())
            for i in range(n)
        ]

    return map_rows(df, ["asset_id", "payload"], frames, FRAME_SCHEMA)


def encode_wav16(samples, sample_rate: int = 8000) -> bytes:
    """Encode a 1-D int16 array as a canonical 44-byte-header RIFF/WAVE
    file (PCM, mono, 16-bit LE) — pure struct/numpy, no audio library.
    Used to synthesize a real decodable audio corpus in tests/queries."""
    s = np.asarray(samples, dtype="<i2")
    data = s.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def decode_wav16(payload: bytes):
    """Decode a PCM mono 16-bit RIFF/WAVE payload to (samples, rate) —
    dependency-free, walking the RIFF chunk list properly (a conforming
    writer may insert LIST/fact chunks before data). Raises ValueError on
    anything that is not strictly this format so callers can fall back."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, sz = payload[pos : pos + 4], struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        body = payload[pos + 8 : pos + 8 + sz]
        if len(body) < sz:
            raise ValueError("truncated chunk")
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, n_ch, rate, _, _, bits = fmt
    if audio_fmt != 1 or n_ch != 1 or bits != 16:
        raise ValueError("only PCM mono 16-bit supported")
    return np.frombuffer(data, dtype="<i2"), rate


def extract_audio_features(df: DataFrame) -> DataFrame:
    """REAL audio decode + features over Arrow batches: duration, RMS,
    peak, and zero-crossing count from the decoded PCM samples — the audio
    twin of the BMP/PNG pixel paths (same plumbing: binary column in,
    typed scalars out, one vectorized pass per batch; sqrt is IEEE
    exact-rounded so RMS is engine-exact after rounding).

    Input: (asset_id, payload). Output: asset_id, n_samples, sample_rate,
    duration_ms, rms, peak, n_zero_crossings.
    """

    def features(aid, payload):
        s, rate = decode_wav16(bytes(payload))
        x = s.astype(np.float64)
        n = len(s)
        neg = x < 0
        zc = int(np.count_nonzero(neg[1:] != neg[:-1])) if n > 1 else 0
        # no rounding here: Python's round is half-to-even while the
        # engine convention is Spark's HALF_UP — callers round via
        # F.round so both engines apply one identical rounding
        rms = float(np.sqrt(np.mean(x * x))) if n else 0.0
        peak = int(np.abs(s).max()) if n else 0
        return [(aid, n, int(rate), n * 1000.0 / rate, rms, peak, zc)]

    return map_rows(
        df, ["asset_id", "payload"], features,
        "asset_id bigint, n_samples bigint, sample_rate bigint, duration_ms double, "
        "rms double, peak bigint, n_zero_crossings bigint",
    )


def encode_y4m_420(frames, fps: str = "25:1") -> bytes:
    """Encode a sequence of planar 4:2:0 frames as a YUV4MPEG2 (.y4m)
    stream — the uncompressed video interchange container (public spec;
    the mjpegtools/ffmpeg `yuv4mpeg` format): one ASCII stream header
    ``YUV4MPEG2 W<w> H<h> F<fps> Ip A1:1 C420jpeg``, then per frame a
    ``FRAME`` line followed by raw Y (w·h), Cb and Cr (w/2·h/2) planes.
    ``frames`` is a list of (Y, Cb, Cr) uint8 arrays."""
    y0, cb0, cr0 = frames[0]
    h, w = y0.shape
    out = [f"YUV4MPEG2 W{w} H{h} F{fps} Ip A1:1 C420jpeg\n".encode("ascii")]
    for y, cb, cr in frames:
        out.append(b"FRAME\n")
        out.append(np.asarray(y, dtype=np.uint8).tobytes())
        out.append(np.asarray(cb, dtype=np.uint8).tobytes())
        out.append(np.asarray(cr, dtype=np.uint8).tobytes())
    return b"".join(out)


def decode_y4m_420(payload: bytes):
    """Decode a YUV4MPEG2 4:2:0 stream: parse the stream header's W/H/C
    tags, then walk FRAME sections into (Y, Cb, Cr) uint8 planes.
    Returns (width, height, [(Y, Cb, Cr), ...]). Pure numpy/bytes — the
    real-decode video tier beside BMP/PNG/JPEG (images) and WAV (audio)."""
    nl = payload.index(b"\n")
    header = payload[:nl].decode("ascii", "replace").split(" ")
    if header[0] != "YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 stream")
    w = h = None
    for tok in header[1:]:
        if tok.startswith("W"):
            w = int(tok[1:])
        elif tok.startswith("H"):
            h = int(tok[1:])
        elif tok.startswith("C") and not tok.startswith("C420"):
            raise ValueError(f"unsupported chroma mode {tok}")
    if not w or not h or w % 2 or h % 2:
        raise ValueError("bad Y4M geometry")
    ysz, csz = w * h, (w // 2) * (h // 2)
    frames = []
    pos = nl + 1
    while pos < len(payload):
        fnl = payload.index(b"\n", pos)
        if not payload[pos:fnl].startswith(b"FRAME"):
            raise ValueError("expected FRAME marker")
        pos = fnl + 1
        y = np.frombuffer(payload[pos : pos + ysz], dtype=np.uint8).reshape(h, w)
        pos += ysz
        cb = np.frombuffer(payload[pos : pos + csz], dtype=np.uint8).reshape(
            h // 2, w // 2
        )
        pos += csz
        cr = np.frombuffer(payload[pos : pos + csz], dtype=np.uint8).reshape(
            h // 2, w // 2
        )
        pos += csz
        frames.append((y, cb, cr))
    return w, h, frames


def bilinear_resize_numerators(arr, out_h: int, out_w: int):
    """EXACT fixed-point bilinear resize of an (h, w, c) uint8 array.

    Half-pixel-center sampling (the OpenCV/PIL convention,
    align_corners=False): source coord of output column j is
    xs = (j+0.5)·w/out_w − 0.5, a rational with denominator 2·out_w — so
    the four corner weights are integers over (2·out_w)·(2·out_h) and the
    resized value is N / (4·out_h·out_w) with N computed entirely in
    int64. No float enters the pixel path, which is what lets a SQL
    oracle replay the resize bit-for-bit from the generator formula.

    Returns (N, den): N an (out_h, out_w, c) int64 array, den the common
    denominator 4·out_h·out_w. Corner x1/y1 are clamped to the last
    row/col; the clamped corner always carries weight 0 there, so the
    clamp never changes the value (it only keeps indices in range).
    """
    h, w, c = arr.shape
    a = arr.astype(np.int64)
    jj = np.arange(out_w)
    xs_num = (2 * jj + 1) * w - out_w          # = xs · 2·out_w
    x0 = xs_num // (2 * out_w)
    ax = xs_num - x0 * (2 * out_w)             # 0 .. 2·out_w − 1
    # upscale edge: xs < 0 at the left border would floor to x0 = -1 and
    # numpy fancy-indexing wraps to the LAST column — clamp to replicate
    # the first column (standard OpenCV/PIL border behavior).
    neg = xs_num < 0
    x0 = np.where(neg, 0, x0)
    ax = np.where(neg, 0, ax)
    x1 = np.minimum(x0 + 1, w - 1)
    ii = np.arange(out_h)
    ys_num = (2 * ii + 1) * h - out_h
    y0 = ys_num // (2 * out_h)
    ay = ys_num - y0 * (2 * out_h)
    negy = ys_num < 0
    y0 = np.where(negy, 0, y0)
    ay = np.where(negy, 0, ay)
    y1 = np.minimum(y0 + 1, h - 1)
    wx0 = (2 * out_w - ax)[None, :, None]
    wx1 = ax[None, :, None]
    wy0 = (2 * out_h - ay)[:, None, None]
    wy1 = ay[:, None, None]
    n = (
        wy0 * (wx0 * a[np.ix_(y0, x0)] + wx1 * a[np.ix_(y0, x1)])
        + wy1 * (wx0 * a[np.ix_(y1, x0)] + wx1 * a[np.ix_(y1, x1)])
    )
    return n, 4 * out_h * out_w


def resize_images(df: DataFrame, out_h: int, out_w: int) -> DataFrame:
    """Arrow-batched resize over a (asset_id, payload) BMP frame: decode,
    exact fixed-point bilinear to (out_h, out_w), per-image intensity
    accounting. Output: asset_id, width, height, out_w, out_h,
    resize_numerator_sum (int64, denominator 4·out_h·out_w per pixel),
    mean_resized_intensity (normalized /255)."""

    def resize(aid, payload):
        arr = decode_bmp24(bytes(payload))
        n, den = bilinear_resize_numerators(arr, out_h, out_w)
        s = int(n.sum())
        npix = out_h * out_w * arr.shape[2]
        return [(aid, arr.shape[1], arr.shape[0], out_w, out_h, s, s / (den * npix * 255.0))]

    return map_rows(
        df, ["asset_id", "payload"], resize,
        "asset_id bigint, width int, height int, out_w int, out_h int, "
        "resize_numerator_sum bigint, mean_resized_intensity double",
    )


def linear_resample_numerators(samples, out_n: int):
    """EXACT fixed-point 1-D linear resample of an int16 waveform — the
    audio twin of :func:`bilinear_resize_numerators`: output position j
    samples the source at xs = (j+0.5)·n/out_n − 0.5 (half-sample
    centers), weights are integers over 2·out_n, and the resampled value
    is N / (2·out_n) with N exact int64 (negative samples included).
    Returns (N, den); the clamped right neighbor always carries weight 0
    at the boundary."""
    n = len(samples)
    a = np.asarray(samples, dtype=np.int64)
    jj = np.arange(out_n)
    xs_num = (2 * jj + 1) * n - out_n            # = xs · 2·out_n
    x0 = xs_num // (2 * out_n)
    ax = xs_num - x0 * (2 * out_n)               # 0 .. 2·out_n − 1
    # upsample edge: xs < 0 at the first output would floor to x0 = -1
    # (wraps to the LAST sample) — clamp to replicate the first sample.
    neg = xs_num < 0
    x0 = np.where(neg, 0, x0)
    ax = np.where(neg, 0, ax)
    x1 = np.minimum(x0 + 1, n - 1)
    return (2 * out_n - ax) * a[x0] + ax * a[x1], 2 * out_n


def resample_audio(df: DataFrame, out_n: int) -> DataFrame:
    """Arrow-batched fixed-length resample over (asset_id, payload) WAVs:
    decode PCM16, exact fixed-point linear resample to out_n samples,
    per-clip accounting. Output: asset_id, n_samples, out_n,
    resample_numerator_sum (int64, denominator 2·out_n per sample),
    mean_resampled (mean output amplitude)."""

    def resample(aid, payload):
        samples, _rate = decode_wav16(bytes(payload))
        n_num, den = linear_resample_numerators(samples, out_n)
        s = int(n_num.sum())
        return [(aid, len(samples), out_n, s, s / (den * out_n))]

    return map_rows(
        df, ["asset_id", "payload"], resample,
        "asset_id bigint, n_samples int, out_n int, "
        "resample_numerator_sum bigint, mean_resampled double",
    )


def equalize_images(df: DataFrame) -> DataFrame:
    """Arrow-batched GLOBAL HISTOGRAM EQUALIZATION over a (asset_id,
    payload) BMP frame — the classic contrast-normalization step of a
    vision preprocessing pipeline (and the canonical histogram+CDF
    exercise for a decoder): decode, build the 256-bin histogram, remap
    every value through h(v) = floor((cdf(v) − cdf_min)·255 / (N − cdf_min)
    + 0.5) (the standard OpenCV equalizeHist formula with half-up
    rounding), and report exact integer accounting so a SQL oracle can
    replay the remap bit-for-bit from the pixel generator. A constant
    image (N == cdf_min) maps to 0.

    Output: asset_id, width, height, n_values (distinct pixel values
    before), cdf_min, equalized_sum (Σ count(v)·h(v), exact int64),
    mean_equalized (normalized /255)."""

    def equalize(aid, payload):
        arr = decode_bmp24(bytes(payload))
        flat = arr.reshape(-1).astype(np.int64)
        n = flat.size
        hist = np.bincount(flat, minlength=256)
        cdf = np.cumsum(hist)
        present = np.nonzero(hist)[0]
        cdf_min = int(cdf[present[0]])
        total = 0
        for v in present:
            cf = int(cdf[v])
            if n == cdf_min:
                hv = 0
            else:
                hv = math.floor((cf - cdf_min) * 255.0 / (n - cdf_min) + 0.5)
            total += int(hist[v]) * hv
        return [
            (aid, arr.shape[1], arr.shape[0], int(len(present)), cdf_min, total,
             total / (n * 255.0))
        ]

    return map_rows(
        df, ["asset_id", "payload"], equalize,
        "asset_id bigint, width int, height int, n_values int, "
        "cdf_min bigint, equalized_sum bigint, mean_equalized double",
    )


def audio_vad_energy(df: DataFrame, frame: int = 32, threshold: int = 45_000_000) -> DataFrame:
    """Arrow-batched energy-based VOICE-ACTIVITY DETECTION over a
    (asset_id, payload) WAV frame — the standard first pass of every
    speech-data pipeline (silence trimming, speech-ratio quality gates):
    the PCM stream is cut into fixed ``frame``-sample windows (partial
    tail dropped), each window's energy Σx² is an exact int64, and a
    window is active iff energy ≥ ``threshold``. Reports per clip the
    active count, the LONGEST active run (the longest speech burst), and
    total energy — all exact integers a SQL oracle replays from the
    waveform generator.

    Output: asset_id, n_samples, n_frames, n_active, longest_run,
    total_energy, active_ratio."""

    def vad(aid, payload):
        samples, _rate = decode_wav16(bytes(payload))
        a = np.asarray(samples, dtype=np.int64)
        n = a.size
        k = n // frame
        if k == 0:
            return [(aid, n, 0, 0, 0, 0, 0.0)]
        fr = a[: k * frame].reshape(k, frame)
        en = (fr * fr).sum(axis=1)
        act = en >= threshold
        longest = cur = 0
        for flag in act:
            cur = cur + 1 if flag else 0
            longest = max(longest, cur)
        return [
            (aid, n, k, int(act.sum()), int(longest), int(en.sum()),
             float(act.sum()) / k)
        ]

    return map_rows(
        df, ["asset_id", "payload"], vad,
        "asset_id bigint, n_samples int, n_frames int, n_active int, "
        "longest_run int, total_energy bigint, active_ratio double",
    )


def _dct_basis_fixed(n: int, n_freq: int):
    """Fixed-point DCT-II cosine basis: cb[u, x] = round(cos(pi*(2x+1)*u
    / (2n)) * 1e4 +- 1e-3 nudge) as int64. The 1e-3 nudge on the SCALED
    value (1e-7 of the cosine) moves exact half-boundaries off the edge
    identically on both engines (far above libm's last-ulp jitter, far
    below the 1e-4 resolution), so the basis integers — and therefore
    every DCT coefficient — are engine-exact."""
    out = np.zeros((n_freq, n), dtype=np.int64)
    for u in range(n_freq):
        for x in range(n):
            c = math.cos(math.pi * (2 * x + 1) * u / (2 * n))
            nudge = 0.001 if c > 0 else (-0.001 if c < 0 else 0.0)
            out[u, x] = int(round(c * 10000.0 + nudge))
    return out


def phash_images(df: DataFrame, n_freq: int = 4) -> DataFrame:
    """Arrow-batched PERCEPTUAL HASH (pHash) over a (asset_id, payload)
    BMP frame — the DCT cousin of the gradient dHash already in the
    near-dup family: decode, reduce to a fixed-point luma plane
    (299R + 587G + 114B, exact integers), project onto the n_freq^2
    low-frequency 2-D DCT-II block with a 1e4-scaled integer cosine
    basis (separable int64 matmuls — exact, max |coeff| ~6e15), and
    threshold the 15 AC coefficients against their exact median to
    form the 15-bit hash. Everything after the decode is integer
    arithmetic, so a SQL oracle replays the hash bit-for-bit from the
    pixel generator.

    Output: asset_id, width, height, mean_luma (Σluma/(w*h*255000)),
    dc_sum (Σluma, exact), phash (15-bit int)."""

    def phash(aid, payload):
        arr = decode_bmp24(bytes(payload)).astype(np.int64)
        h, w = arr.shape[0], arr.shape[1]
        luma = 299 * arr[:, :, 0] + 587 * arr[:, :, 1] + 114 * arr[:, :, 2]
        cbh = _dct_basis_fixed(h, n_freq)  # (n_freq, h)
        cbw = _dct_basis_fixed(w, n_freq)  # (n_freq, w)
        # F[u, v] = sum_y sum_x luma[y, x] * cbh[u, y] * cbw[v, x]
        coeff = cbh @ luma @ cbw.T
        ac = [
            int(coeff[u, v])
            for u in range(n_freq)
            for v in range(n_freq)
            if not (u == 0 and v == 0)
        ]
        med = sorted(ac)[len(ac) // 2]
        code = sum(1 << i for i, cval in enumerate(ac) if cval > med)
        dc = int(luma.sum())
        return [(aid, w, h, dc, round(dc / (w * h * 255000.0) + 1e-9, 6) + 0.0, code)]

    return map_rows(
        df, ["asset_id", "payload"], phash,
        "asset_id bigint, width int, height int, dc_sum bigint, "
        "mean_luma double, phash bigint",
    )


_SPECTRAL_TWO_PI = 6.283185307179586  # the house 2π literal (q_timeseries)


def audio_spectral_projection(
    df: DataFrame, bins: tuple = (1, 2, 4, 8)
) -> DataFrame:
    """Arrow-batched single-bin Fourier PROJECTIONS over real WAV
    decodes: for each normalized frequency bin ``k`` (cycles per clip),
    the cos/sin projections A_k = Σ s_j·cb(j), B_k = Σ s_j·sb(j) with a
    fixed-point 1e4-scaled trig basis (the `_dct_basis_fixed` recipe:
    basis = round(trig·1e4 + sign·1e-3), so the basis integers — and
    therefore every projection — are engine-exact int64s a SQL oracle
    replays from the waveform generator). The power P_k = A_k² + B_k²
    and spectral-centroid rollups belong to the calling query; this op
    only emits the exact integers.

    Output: long-form (asset_id, n_samples, k, a, b) — one row per
    (clip, bin); no per-sample rows ever leave the task."""

    def project(aid, payload):
        samples, _rate = decode_wav16(bytes(payload))
        s = np.asarray(samples, dtype=np.int64)
        n = s.size
        j = np.arange(n)
        rows = []
        for k in bins:
            theta = _SPECTRAL_TWO_PI * k * j / n
            c = np.cos(theta)
            sn = np.sin(theta)
            cb = np.round(c * 10000.0 + np.sign(c) * 0.001).astype(np.int64)
            sb = np.round(sn * 10000.0 + np.sign(sn) * 0.001).astype(np.int64)
            rows.append((aid, n, int(k), int((s * cb).sum()), int((s * sb).sum())))
        return rows

    return map_rows(
        df, ["asset_id", "payload"], project,
        "asset_id bigint, n_samples int, k int, a bigint, b bigint",
    )


def image_sobel_stats(df: DataFrame, threshold: int = 150000) -> DataFrame:
    """Arrow-batched SOBEL edge statistics over real BMP decodes: the
    exact fixed-point luma plane (299R+587G+114B — the pHash convention)
    convolves with the 3×3 Sobel pair on interior pixels, gradient
    magnitude |Gx|+|Gy| stays an exact int64 end-to-end, and a pixel is
    an edge iff magnitude >= ``threshold``. Emits per-image exact integer
    accounting a SQL oracle replays closed-form from the pixel
    generator — no float enters until the final density ratio.

    Output: asset_id, width, height, n_interior, n_edges, total_grad."""

    def sobel(aid, payload):
        a = decode_bmp24(bytes(payload)).astype(np.int64)  # h × w × 3
        lum = 299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]
        h, w = lum.shape
        gx = (
            lum[:-2, 2:] + 2 * lum[1:-1, 2:] + lum[2:, 2:]
            - lum[:-2, :-2] - 2 * lum[1:-1, :-2] - lum[2:, :-2]
        )
        gy = (
            lum[2:, :-2] + 2 * lum[2:, 1:-1] + lum[2:, 2:]
            - lum[:-2, :-2] - 2 * lum[:-2, 1:-1] - lum[:-2, 2:]
        )
        mag = np.abs(gx) + np.abs(gy)
        return [(aid, w, h, int(mag.size), int((mag >= threshold).sum()), int(mag.sum()))]

    return map_rows(
        df, ["asset_id", "payload"], sobel,
        "asset_id bigint, width int, height int, n_interior bigint, "
        "n_edges bigint, total_grad bigint",
    )


def image_otsu_threshold(df: DataFrame) -> DataFrame:
    """Arrow-batched OTSU binarization threshold over real BMP decodes:
    build the 256-bin histogram of the 8-bit luma plane (integer
    (299R+587G+114B)//1000 — exact floor division), then pick the
    threshold t* maximizing between-class variance. The selection
    statistic is the QUANTIZED integer score floor(d²·10⁶ / (w0·w1))
    with d = s0·w1 − (Σ−s0)·w0 — exact integer floor division on both
    engines (Python big ints here, HUGEINT in the oracle), so the argmax
    and its lower-threshold tie-break replay bit-exactly; score plateaus
    between occupied bins always start at an occupied bin, so the oracle
    may scan occupied bins only. Emits the threshold, class populations.

    Output: asset_id, width, height, otsu_threshold, n_below, n_above."""

    def otsu(aid, payload):
        a = decode_bmp24(bytes(payload)).astype(np.int64)
        lum = (299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]) // 1000
        hist = [int(c) for c in np.bincount(lum.ravel(), minlength=256)]
        n = int(lum.size)
        total_sum = sum(t * c for t, c in enumerate(hist))
        best_t, best_score = 0, -1
        w0 = s0 = 0
        for t in range(256):
            w0 += hist[t]
            s0 += t * hist[t]
            w1 = n - w0
            if w0 == 0 or w1 == 0:
                continue
            # between-class variance ∝ (s0*w1 - (total-s0)*w0)² / (w0*w1)
            d = s0 * w1 - (total_sum - s0) * w0
            score = (d * d * 1000000) // (w0 * w1)
            if score > best_score:
                best_t, best_score = t, score
        n_below = sum(hist[: best_t + 1])
        return [(aid, lum.shape[1], lum.shape[0], best_t, n_below, n - n_below)]

    return map_rows(
        df, ["asset_id", "payload"], otsu,
        "asset_id bigint, width int, height int, otsu_threshold int, "
        "n_below bigint, n_above bigint",
    )


def audio_zero_crossing(df: DataFrame) -> DataFrame:
    """Arrow-batched ZERO-CROSSING RATE over real WAV decodes: count
    sign boundaries between consecutive PCM samples (zero counts as
    non-negative, so the crossing predicate (s_j >= 0) != (s_{j+1} >= 0)
    is pure integer logic) — the cheap noisiness/pitch proxy that rides
    the same decode pass as VAD and the spectral centroid.

    Output: asset_id, n_samples, n_crossings (exact int64s)."""

    def crossings(aid, payload):
        s = np.asarray(decode_wav16(bytes(payload))[0], dtype=np.int64)
        return [(aid, int(s.size), int(((s[:-1] >= 0) != (s[1:] >= 0)).sum()))]

    return map_rows(
        df, ["asset_id", "payload"], crossings,
        "asset_id bigint, n_samples int, n_crossings bigint",
    )
