"""Multimodal asset plumbing: image/audio/video as opaque binary columns.

The decode step is REAL for the two public formats decodable without
native media libraries — uncompressed PCM WAV (:func:`decode_wav`) and
uncompressed 24-bit BMP (:func:`decode_bmp`), both pure numpy over the
published byte layouts. Compressed formats (JPEG/MP3/H.264 …) need
libjpeg/libsndfile/ffmpeg, absent from this container, and raise a
clearly-marked ``NotImplementedError``; ``fake=True`` keeps the
deterministic byte-stream fake for the synthetic tables. Everything
Spark-side is real and tested: the asset schema, Arrow-batched
``mapInArrow`` feature extraction (batch in, batch out — the shape a
real libjpeg/ffmpeg UDF would keep), and zero per-row Python in the
synthetic path: payload generation is a splitmix64 stream keyed by
(asset_id, word_idx) and the histogram is one flattened ``np.bincount``
over the whole batch. Real-format extraction loops rows only at the
Arrow-batch boundary — exactly where a real codec forces it.

Scale design: assets are *large values, small keys*. Feature extraction
is a narrow map (no shuffle); the output drops the payload so downstream
stages shuffle only features + metadata. At 100 TB of payload that is
the difference between a runnable job and an impossible one.
"""

from __future__ import annotations

import struct
from collections.abc import Iterable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .kernels.plain import _ramp
from .synth import _splitmix64

ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("kind", StringType(), False),          # image | audio | video
        StructField("payload", BinaryType(), False),        # opaque encoded bytes
        StructField("width", IntegerType(), True),          # typed metadata
        StructField("height", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_frames", IntegerType(), True),
    ]
)

_ASSET_PA_SCHEMA = pa.schema(
    [
        ("asset_id", pa.int64()),
        ("kind", pa.string()),
        ("payload", pa.binary()),
        ("width", pa.int32()),
        ("height", pa.int32()),
        ("sample_rate", pa.int32()),
        ("n_frames", pa.int32()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("features", ArrayType(DoubleType()), False),  # 16-dim
    ]
)

_KINDS = np.array(["image", "audio", "video"])


def _payload_bytes(ids: np.ndarray, sizes: np.ndarray, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Flat payload byte stream + offsets for a batch of assets, fully
    vectorized: byte j of asset i is splitmix64(i, j//8, seed) — a pure
    function of (asset_id, position), so the table is identical at any
    parallelism or Arrow batch size."""
    n_words = (sizes + 7) // 8
    row_of_word = np.repeat(np.arange(ids.size, dtype=np.int64), n_words)
    word_idx = np.arange(row_of_word.size, dtype=np.int64)
    word_starts = np.zeros(ids.size, dtype=np.int64)
    np.cumsum(n_words[:-1], out=word_starts[1:])
    word_in_row = word_idx - word_starts[row_of_word]
    key = (
        ids[row_of_word].astype(np.uint64) * np.uint64(0x10000000001)
        + word_in_row.astype(np.uint64)
        + np.uint64(seed) * np.uint64(0x9E3779B9)
    )
    words = _splitmix64(key)
    raw = words.view(np.uint8)  # 8 bytes per word, little-endian
    # trim each row's word-aligned region down to its exact byte size
    byte_region_starts = word_starts * 8
    take = np.repeat(byte_region_starts, sizes) + _ramp(sizes)
    offsets = np.zeros(ids.size + 1, dtype=np.int32)
    np.cumsum(sizes, out=offsets[1:])
    return raw[take], offsets


def _gen_asset_batch(ids: np.ndarray, seed: int) -> pa.RecordBatch:
    h1 = _splitmix64(ids.astype(np.uint64) + np.uint64(seed) * np.uint64(7919))
    h2 = _splitmix64(h1)
    h3 = _splitmix64(h2)
    sizes = (64 + (h1 % np.uint64(4032))).astype(np.int64)
    kind_idx = (ids % 3).astype(np.int64)
    flat, offsets = _payload_bytes(ids, sizes, seed)
    payload = pa.BinaryArray.from_buffers(
        pa.binary(), ids.size,
        [None, pa.py_buffer(offsets), pa.py_buffer(flat.tobytes())],
    )
    width = (16 + (h2 % np.uint64(496))).astype(np.int32)
    height = (16 + (h3 % np.uint64(496))).astype(np.int32)
    n_frames = (1 + (h2 % np.uint64(299))).astype(np.int32)
    is_img, is_aud, is_vid = kind_idx == 0, kind_idx == 1, kind_idx == 2
    return pa.RecordBatch.from_arrays(
        [
            pa.array(ids.astype(np.int64), pa.int64()),
            pa.array(_KINDS[kind_idx], pa.string()),
            payload,
            pa.array(width, pa.int32(), mask=~is_img),
            pa.array(height, pa.int32(), mask=~is_img),
            pa.array(np.full(ids.size, 16_000, np.int32), pa.int32(), mask=~is_aud),
            pa.array(n_frames, pa.int32(), mask=~is_vid),
        ],
        schema=_ASSET_PA_SCHEMA,
    )


def make_assets_table(spark: SparkSession, n_rows: int, *, seed: int = 42) -> DataFrame:
    """Deterministic fake assets: payload bytes are a splitmix stream keyed
    by (asset_id, position) — stable across parallelism levels (like
    synth.make_tokens_table), generated distributed with zero per-row
    Python."""
    base = spark.range(0, n_rows, 1, max(1, spark.sparkContext.defaultParallelism))

    def gen(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            ids = b.column(0).to_numpy()
            if ids.size:
                yield _gen_asset_batch(ids.astype(np.int64), seed)

    return base.mapInArrow(gen, ASSET_SCHEMA)


def decode_wav(payload: bytes) -> np.ndarray:
    """Pure-numpy decoder for uncompressed PCM WAV (RIFF/WAVE, format
    tag 1, 8- or 16-bit). Returns samples shaped ``(n_frames,
    n_channels)`` — uint8 for 8-bit, int16 for 16-bit (both
    little-endian per the spec). Malformed or truncated input RAISES
    ``ValueError`` (never silently mis-decodes); compressed format tags
    raise ``NotImplementedError``."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        (csize,) = np.frombuffer(payload, "<u4", 1, pos + 4)
        body = payload[pos + 8:pos + 8 + int(csize)]
        if len(body) < int(csize):
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + int(csize) + (int(csize) & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if len(fmt) < 16:
        raise ValueError("short fmt chunk")
    audio_format, n_ch = np.frombuffer(fmt, "<u2", 2, 0)
    bits = int(np.frombuffer(fmt, "<u2", 1, 14)[0])
    if int(audio_format) != 1:
        raise NotImplementedError(
            f"WAV format tag {int(audio_format)}: only PCM (1) is decoded"
        )
    if bits not in (8, 16) or int(n_ch) < 1:
        raise ValueError(f"unsupported PCM layout: {bits}-bit, {n_ch} ch")
    frame_bytes = int(n_ch) * bits // 8
    if len(data) % frame_bytes:
        raise ValueError("data chunk is not a whole number of frames")
    dt = np.uint8 if bits == 8 else np.dtype("<i2")
    return np.frombuffer(data, dt).reshape(-1, int(n_ch))


def wav_sample_rate(payload: bytes) -> int:
    """Sample rate from the fmt chunk of a PCM WAV payload."""
    if payload[:4] != b"RIFF":
        raise ValueError("not a RIFF stream")
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        (csize,) = np.frombuffer(payload, "<u4", 1, pos + 4)
        if cid == b"fmt ":
            return int(np.frombuffer(payload, "<u4", 1, pos + 8 + 4)[0])
        pos += 8 + int(csize) + (int(csize) & 1)
    raise ValueError("missing fmt chunk")


def decode_bmp(payload: bytes) -> np.ndarray:
    """Pure-numpy decoder for uncompressed 24-bit BMP
    (BITMAPINFOHEADER). Returns an ``(height, width, 3)`` uint8 RGB
    array (file stores BGR bottom-up with rows padded to 4 bytes;
    negative height = top-down, honored). Truncation and unsupported
    variants raise, never mis-decode."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP stream")
    (data_off,) = np.frombuffer(payload, "<u4", 1, 10)
    (hdr_size,) = np.frombuffer(payload, "<u4", 1, 14)
    if int(hdr_size) < 40:
        raise NotImplementedError("only BITMAPINFOHEADER (>=40) BMPs")
    w, h = (int(x) for x in np.frombuffer(payload, "<i4", 2, 18))
    bpp = int(np.frombuffer(payload, "<u2", 1, 28)[0])
    comp = int(np.frombuffer(payload, "<u4", 1, 30)[0])
    if bpp != 24 or comp != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMPs (got {bpp}-bit, compression {comp})"
        )
    top_down = h < 0
    h = abs(h)
    if w <= 0 or h == 0:
        raise ValueError("degenerate BMP dimensions")
    stride = (w * 3 + 3) & ~3
    end = int(data_off) + stride * h
    if end > len(payload):
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(payload, np.uint8, stride * h, int(data_off))
    px = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        px = px[::-1]
    return px[:, :, ::-1].copy()  # BGR -> RGB


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, RGB, gray+A, RGBA


def decode_png(payload: bytes) -> np.ndarray:
    """Pure stdlib-zlib + numpy decoder for 8-bit non-interlaced PNG
    (color types gray / RGB / gray+alpha / RGBA). Returns a uint8 array
    shaped ``(h, w)`` for grayscale or ``(h, w, channels)`` otherwise.

    This is the one COMPRESSED image format decodable without native
    media libraries: DEFLATE is ``zlib`` from the standard library, and
    the five scanline filters un-apply with numpy (Sub is a per-lane
    cumulative sum mod 256; Up is vectorized against the previous row;
    Average/Paeth fall back to an in-row walk — they are rare in
    encoder output and bounded by the row width). CRCs of ancillary
    chunks are not recomputed; structural damage (bad signature, short
    chunks, inconsistent IDAT length) RAISES — never a silent
    mis-decode. Palette (3), 16-bit, and interlaced PNGs raise
    ``NotImplementedError`` naming the variant."""
    import zlib

    if len(payload) < 8 or payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG stream")
    pos = 8
    ihdr = None
    idat = bytearray()
    ended = False
    while pos + 8 <= len(payload):
        (clen,) = np.frombuffer(payload, ">u4", 1, pos)
        ctype = payload[pos + 4:pos + 8]
        body = payload[pos + 8:pos + 8 + int(clen)]
        if len(body) < int(clen) or pos + 12 + int(clen) > len(payload):
            raise ValueError(f"truncated {ctype!r} chunk")
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            ended = True
            break
        pos += 12 + int(clen)  # len + type + data + crc
    if ihdr is None or len(ihdr) != 13:
        raise ValueError("missing/short IHDR")
    if not idat or not ended:
        raise ValueError("missing IDAT/IEND")
    w, h = (int(x) for x in np.frombuffer(ihdr, ">u4", 2, 0))
    bit_depth, color_type, comp, filt, interlace = ihdr[8:13]
    if comp != 0 or filt != 0:
        raise ValueError("nonstandard compression/filter method")
    if interlace != 0:
        raise NotImplementedError("interlaced (Adam7) PNGs")
    if bit_depth != 8 or color_type not in _PNG_CHANNELS:
        raise NotImplementedError(
            f"only 8-bit gray/RGB/gray+A/RGBA PNGs (got depth {bit_depth}, "
            f"color type {color_type})"
        )
    if w <= 0 or h <= 0:
        raise ValueError("degenerate PNG dimensions")
    ch = _PNG_CHANNELS[color_type]
    raw = np.frombuffer(zlib.decompress(bytes(idat)), np.uint8)
    stride = w * ch
    if raw.size != h * (stride + 1):
        raise ValueError("IDAT length does not match dimensions")
    lines = raw.reshape(h, stride + 1)
    out = np.empty((h, stride), np.uint16)
    prev = np.zeros(stride, np.uint16)
    for y in range(h):
        ftype = int(lines[y, 0])
        row = lines[y, 1:].astype(np.uint16)
        if ftype == 0:
            rec = row
        elif ftype == 1:  # Sub: per-lane prefix sum mod 256
            rec = row.copy()
            for lane in range(ch):
                rec[lane::ch] = np.cumsum(row[lane::ch], dtype=np.uint64) & 0xFF
        elif ftype == 2:  # Up
            rec = (row + prev) & 0xFF
        elif ftype in (3, 4):  # Average / Paeth: in-row walk
            rec = np.zeros(stride, np.uint16)
            for x in range(stride):
                a = int(rec[x - ch]) if x >= ch else 0
                b = int(prev[x])
                if ftype == 3:
                    pred = (a + b) >> 1
                else:
                    c = int(prev[x - ch]) if x >= ch else 0
                    p = a + b - c
                    pa_, pb, pc_ = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa_ <= pb and pa_ <= pc_) else (
                        b if pb <= pc_ else c)
                rec[x] = (int(row[x]) + pred) & 0xFF
        else:
            raise ValueError(f"invalid scanline filter type {ftype}")
        out[y] = rec
        prev = rec
    px = out.astype(np.uint8)
    return px.reshape(h, w) if ch == 1 else px.reshape(h, w, ch)


_JPEG_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], np.int64)

_JPEG_DCT = None


def _jpeg_dct_matrix() -> np.ndarray:
    global _JPEG_DCT
    if _JPEG_DCT is None:
        u = np.arange(8).reshape(8, 1)
        x = np.arange(8).reshape(1, 8)
        d = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16.0)
        d[0, :] *= 1.0 / np.sqrt(2.0)
        _JPEG_DCT = d
    return _JPEG_DCT


def _jpeg_huff_table(bits: bytes, vals: bytes) -> dict:
    """Canonical Huffman decode map: (code_length, code) -> symbol."""
    out: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


class _JpegBitReader:
    """MSB-first bit reader over entropy-coded JPEG scan data: un-stuffs
    0xFF00, stops at any real marker, byte-aligns across RSTn."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.d = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        if self.pos >= len(self.d):
            raise ValueError("truncated JPEG entropy data")
        b = self.d[self.pos]
        if b == 0xFF:
            nxt = self.d[self.pos + 1] if self.pos + 1 < len(self.d) else -1
            if nxt != 0x00:
                raise ValueError(
                    f"marker 0xFF{nxt:02X} inside JPEG entropy data"
                )
            self.pos += 2
        else:
            self.pos += 1
        # only called with the accumulator drained (n == 0): start a
        # fresh byte rather than shifting an ever-growing int, which
        # made a long scan without restart markers O(n^2)
        self.acc = b
        self.n = 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def symbol(self, table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bit()
            s = table.get((length, code))
            if s is not None:
                return s
        raise ValueError("invalid Huffman code in JPEG scan")

    def sync_restart(self, k: int) -> None:
        self.acc = 0
        self.n = 0  # discard pad bits: markers are byte-aligned
        if (self.pos + 1 >= len(self.d) or self.d[self.pos] != 0xFF
                or self.d[self.pos + 1] != 0xD0 + (k & 7)):
            raise ValueError("missing expected JPEG restart marker")
        self.pos += 2


def _jpeg_extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: s-bit magnitude code -> signed value."""
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Pure stdlib + numpy decoder for BASELINE sequential JPEG (SOF0/
    SOF1, Huffman, 8-bit, grayscale or 3-component YCbCr, any 1-2 h/v
    sampling factors incl. 4:2:0, restart markers honored). Returns
    uint8 ``(h, w)`` for grayscale or ``(h, w, 3)`` RGB.

    The entropy decode (Huffman + run-length over zigzag coefficients,
    ITU-T T.81 F.2.2) is a per-symbol Python walk — fixture/metadata
    scale, not a throughput path; everything after it is vectorized:
    dequantization, the 2-D inverse DCT (one ``einsum`` of the 8x8
    DCT-II basis over ALL blocks of a component at once), nearest
    chroma upsampling (``np.repeat``), and the YCbCr->RGB matrix.
    Progressive (SOF2), arithmetic-coded, 12-bit, and >2 sampling
    factors raise ``NotImplementedError`` naming the variant;
    structural damage raises ``ValueError`` — never a silent
    mis-decode. Format: ITU-T T.81 + JFIF; tables arrive in the
    stream's own DQT/DHT segments (nothing is assumed)."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    sof = None
    dri = 0
    pos = 2
    scan_comps = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("truncated JPEG (no SOS/EOI)")
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        # spec-legal 0xFF fill bytes may pad before any marker
        # (T.81 B.1.1.2): skip them rather than misread the real
        # marker byte as a segment length
        while payload[pos + 1] == 0xFF:
            pos += 1
            if pos + 4 > len(payload):
                raise ValueError("truncated JPEG (fill bytes to EOF)")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI before any scan
            raise ValueError("JPEG ended before scan data")
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # TEM / RSTn are standalone markers (no length segment)
            pos += 2
            continue
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4:pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                if pq != 0:
                    raise NotImplementedError("16-bit JPEG quant tables")
                if i + 65 > len(body):
                    raise ValueError("short DQT")
                t = np.zeros(64, np.float64)
                t[_JPEG_ZIGZAG] = np.frombuffer(body, np.uint8, 64, i + 1)
                qt[tq] = t.reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 15
                bits = body[i + 1:i + 17]
                nv = sum(bits)
                vals = body[i + 17:i + 17 + nv]
                if len(bits) != 16 or len(vals) != nv:
                    raise ValueError("short DHT")
                huff[(tc, th)] = _jpeg_huff_table(bits, vals)
                i += 17 + nv
        elif marker in (0xC0, 0xC1):  # baseline / extended sequential
            prec = body[0]
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit JPEG precision")
            h, w = struct.unpack_from(">HH", body, 1)
            ncomp = body[5]
            if ncomp not in (1, 3):
                raise NotImplementedError(f"{ncomp}-component JPEG")
            comps = []
            for c in range(ncomp):
                cid, hv, tq = body[6 + 3 * c:9 + 3 * c]
                ch_, cv = hv >> 4, hv & 15
                if not (1 <= ch_ <= 2 and 1 <= cv <= 2):
                    raise NotImplementedError(
                        f"sampling factors {ch_}x{cv} (only 1-2 supported)"
                    )
                comps.append({"id": cid, "h": ch_, "v": cv, "tq": tq})
            sof = {"h": int(h), "w": int(w), "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG (SOF marker 0xFF{marker:02X}: "
                "progressive/lossless/arithmetic)"
            )
        elif marker == 0xDD:  # DRI
            (dri,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan_comps = []
            for c in range(ns):
                cid, tabs = body[1 + 2 * c], body[2 + 2 * c]
                scan_comps.append((cid, tabs >> 4, tabs & 15))
            pos = pos + 2 + seglen
            break
        pos = pos + 2 + seglen
    if sof is None or scan_comps is None:
        raise ValueError("JPEG missing SOF before SOS")
    if len(scan_comps) != len(sof["comps"]):
        raise NotImplementedError("multi-scan (non-interleaved) JPEG")

    h, w = sof["h"], sof["w"]
    if h <= 0 or w <= 0:
        raise ValueError("degenerate JPEG dimensions")
    comps = sof["comps"]
    by_id = {c["id"]: c for c in comps}
    order = []
    for cid, dc_t, ac_t in scan_comps:
        if cid not in by_id:
            raise ValueError(f"SOS references unknown component {cid}")
        c = by_id[cid]
        c["dc"] = huff.get((0, dc_t))
        c["ac"] = huff.get((1, ac_t))
        if c["dc"] is None or c["ac"] is None or c["tq"] not in qt:
            raise ValueError("JPEG scan references a missing DHT/DQT table")
        order.append(c)
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcx = (w + 8 * hmax - 1) // (8 * hmax)
    mcy = (h + 8 * vmax - 1) // (8 * vmax)
    for c in comps:
        c["coef"] = np.zeros((mcy * c["v"], mcx * c["h"], 64), np.float64)
        c["prev"] = 0

    rd = _JpegBitReader(payload, pos)
    rst = 0
    n_mcu = 0
    for my in range(mcy):
        for mx in range(mcx):
            if dri and n_mcu and n_mcu % dri == 0:
                rd.sync_restart(rst)
                rst += 1
                for c in comps:
                    c["prev"] = 0
            for c in order:
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        blk = c["coef"][my * c["v"] + by, mx * c["h"] + bx]
                        s = rd.symbol(c["dc"])
                        if s > 11:
                            raise ValueError("invalid JPEG DC category")
                        c["prev"] += _jpeg_extend(rd.bits(s), s)
                        blk[0] = c["prev"]
                        k = 1
                        while k < 64:
                            rs = rd.symbol(c["ac"])
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:  # ZRL: sixteen zeros
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC run overflow")
                            blk[_JPEG_ZIGZAG[k]] = _jpeg_extend(
                                rd.bits(s), s)
                            k += 1
            n_mcu += 1

    d = _jpeg_dct_matrix()
    planes = []
    for c in comps:
        nby, nbx = c["coef"].shape[:2]
        f = c["coef"].reshape(nby, nbx, 8, 8) * qt[c["tq"]]
        # inverse DCT of every block at once: B = D^T F D
        px = np.einsum("ux,...uv,vy->...xy", d, f, d) + 128.0
        plane = px.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        ch_ = (h * c["v"] + vmax - 1) // vmax
        cw = (w * c["h"] + hmax - 1) // hmax
        plane = plane[:ch_, :cw]
        if c["v"] != vmax:
            plane = np.repeat(plane, vmax // c["v"], axis=0)
        if c["h"] != hmax:
            plane = np.repeat(plane, hmax // c["h"], axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(
        np.uint8)


def decode_asset(payload: bytes, kind: str, *, fake: bool = False) -> np.ndarray:
    """Decode an encoded asset to a raw sample array.

    Real pure-numpy decoders cover uncompressed PCM WAV (-> samples
    ``(n_frames, n_channels)``), uncompressed 24-bit BMP (-> RGB
    ``(h, w, 3)``), zlib PNG, and baseline-Huffman JPEG, dispatched on
    magic bytes. Remaining compressed formats (MP3/H.264, progressive
    JPEG …) need libsndfile/ffmpeg, absent from this container — those
    raise ``NotImplementedError``. ``fake=True`` bypasses dispatch and
    returns the payload bytes as uint8 (the deterministic fake the
    synthetic asset tables use).
    """
    if fake:
        return np.frombuffer(payload, dtype=np.uint8)
    if len(payload) >= 12 and payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return decode_wav(payload)
    if len(payload) >= 2 and payload[:2] == b"BM":
        return decode_bmp(payload)
    if len(payload) >= 8 and payload[:8] == _PNG_SIG:
        return decode_png(payload)
    if len(payload) >= 3 and payload[:3] == b"\xff\xd8\xff":
        return decode_jpeg(payload)
    raise NotImplementedError(
        f"{kind} decoding: only PCM WAV, 24-bit BMP, 8-bit PNG, and "
        "baseline JPEG are decodable without native media codecs "
        "(MP3/H.264 need libsndfile/ffmpeg); pass fake=True for the "
        "deterministic byte-stream fake"
    )


def extract_features(assets: DataFrame, *, fake_decode: bool = True) -> DataFrame:
    """16-bin byte-histogram features per asset via Arrow-batched mapInArrow.

    One vectorized pass per batch: all payloads are viewed as a single
    flat uint8 vector through the Arrow binary buffers (zero copies), and
    the per-asset histogram is one ``np.bincount`` over
    ``row_index * 16 + (byte >> 4)`` — the same flatten-then-scatter trick
    the dict decoder uses. Swap the histogram for a real jpeg-decode +
    pooling UDF and the plumbing (batch shape, schema, no shuffle) stays.
    """
    out_pa = pa.schema(
        [
            ("asset_id", pa.int64()),
            ("kind", pa.string()),
            ("n_bytes", pa.int64()),
            ("features", pa.list_(pa.float64())),
        ]
    )

    def feat(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            payload = b.column(b.schema.get_field_index("payload"))
            if not fake_decode:
                # real formats (WAV/BMP): decode row-at-a-time inside the
                # Arrow batch — where a real codec forces the loop — and
                # histogram the DECODED sample bytes
                kinds = b.column(b.schema.get_field_index("kind"))
                hist = np.zeros((n, 16), np.float64)
                lens = np.zeros(n, np.int64)
                for i in range(n):
                    raw_i = payload[i].as_py()
                    lens[i] = len(raw_i)
                    dec = np.frombuffer(
                        decode_asset(raw_i, kinds[i].as_py()).tobytes(),
                        np.uint8,
                    )
                    if dec.size:
                        hist[i] = np.bincount(dec >> 4, minlength=16)
                totals = np.maximum(hist.sum(axis=1, keepdims=True), 1.0)
                feats = pa.ListArray.from_arrays(
                    pa.array(np.arange(n + 1, dtype=np.int32) * 16,
                             pa.int32()),
                    pa.array((hist / totals).ravel(), pa.float64()),
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        b.column(b.schema.get_field_index("asset_id")),
                        kinds,
                        pa.array(lens, pa.int64()),
                        feats,
                    ],
                    schema=out_pa,
                )
                continue
            ba = payload.cast(pa.large_binary())
            bufs = ba.buffers()
            offs = np.frombuffer(bufs[1], dtype=np.int64, count=n + 1,
                                 offset=ba.offset * 8)
            raw = np.frombuffer(bufs[2], dtype=np.uint8,
                                count=int(offs[-1] - offs[0]),
                                offset=int(offs[0]))
            lens = np.diff(offs)
            row_of_byte = np.repeat(np.arange(n, dtype=np.int64), lens)
            hist = np.bincount(
                row_of_byte * 16 + (raw >> 4), minlength=16 * n
            ).reshape(n, 16).astype(np.float64)
            totals = np.maximum(hist.sum(axis=1, keepdims=True), 1.0)
            feats = pa.ListArray.from_arrays(
                pa.array(np.arange(n + 1, dtype=np.int32) * 16, pa.int32()),
                pa.array((hist / totals).ravel(), pa.float64()),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(b.schema.get_field_index("asset_id")),
                    b.column(b.schema.get_field_index("kind")),
                    pa.array(lens, pa.int64()),
                    feats,
                ],
                schema=out_pa,
            )

    return assets.select("asset_id", "kind", "payload").mapInArrow(
        feat, FEATURE_SCHEMA
    )


RESIZE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("samples", ArrayType(IntegerType()), False),
    ]
)


def resize_assets(
    assets: DataFrame, out_len: int = 16, *, fake_decode: bool = True
) -> DataFrame:
    """Nearest-neighbor resample of each decoded asset to ``out_len``
    samples via Arrow-batched ``mapInArrow``.

    The whole batch is one vectorized gather: source position of output
    sample j for a row of n bytes is ``(j * n) // out_len``, computed for
    every (row, j) pair at once and indexed against the flat payload
    buffer (zero copies, no per-row Python). A real image resize would
    index a (height, width) grid from the real decoder instead of the
    1-D byte stream; the plumbing — batch shape, output schema, narrow
    map with the payload dropped before any shuffle — is identical.
    """
    out_pa = pa.schema(
        [
            ("asset_id", pa.int64()),
            ("kind", pa.string()),
            ("n_bytes", pa.int64()),
            ("samples", pa.list_(pa.int32())),
        ]
    )

    def rz(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            payload = b.column(b.schema.get_field_index("payload"))
            if not fake_decode:
                kind0 = b.column(b.schema.get_field_index("kind"))[0].as_py()
                decode_asset(b"", kind0, fake=False)
            ba = payload.cast(pa.large_binary())
            bufs = ba.buffers()
            offs = np.frombuffer(bufs[1], dtype=np.int64, count=n + 1,
                                 offset=ba.offset * 8)
            raw = np.frombuffer(bufs[2], dtype=np.uint8,
                                count=int(offs[-1] - offs[0]),
                                offset=int(offs[0]))
            lens = np.diff(offs)
            # (n, out_len) source indices in one broadcasted expression
            j = np.arange(out_len, dtype=np.int64)
            src = (j[None, :] * lens[:, None]) // out_len
            take = (offs[:-1] - offs[0])[:, None] + np.minimum(
                src, np.maximum(lens[:, None] - 1, 0)
            )
            if raw.size:
                samples = raw[np.minimum(take, raw.size - 1)].astype(np.int32)
            else:
                samples = np.zeros((n, out_len), np.int32)
            samples[lens == 0] = 0  # empty payloads resize to zeros
            arr = pa.ListArray.from_arrays(
                pa.array(np.arange(n + 1, dtype=np.int32) * out_len,
                         pa.int32()),
                pa.array(samples.ravel(), pa.int32()),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(b.schema.get_field_index("asset_id")),
                    b.column(b.schema.get_field_index("kind")),
                    pa.array(lens, pa.int64()),
                    arr,
                ],
                schema=out_pa,
            )

    return assets.select("asset_id", "kind", "payload").mapInArrow(
        rz, RESIZE_SCHEMA
    )


def frame_sample_plan(assets: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling plan: one row per sampled frame index — pure
    built-ins (sequence + explode), no payload movement; the decode of the
    chosen frames would be a later mapInPandas over (asset_id, frame_idx)."""
    vids = assets.where(F.col("kind") == "video").select(
        "asset_id", "n_frames"
    )
    return vids.select(
        "asset_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
        ).alias("frame_idx"),
    )
