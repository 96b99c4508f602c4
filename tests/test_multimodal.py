"""Multimodal plumbing: vectorized synth assets + Arrow-batched features.

The media decode itself is stubbed (no codecs in the container) — these
tests pin everything around it: deterministic generation independent of
parallelism, batch-vectorized histograms matching a naive per-row
reference, metadata typing, and the stub contract.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pysparkenc import multimodal as mm


def test_assets_deterministic_across_parallelism(spark):
    a1 = mm.make_assets_table(spark, 50, seed=7).collect()
    # regenerate through a single partition: identical bytes
    base = spark.range(0, 50, 1, 1)
    import pyarrow as pa

    def gen(batches):
        for b in batches:
            ids = b.column(0).to_numpy()
            if ids.size:
                yield mm._gen_asset_batch(ids.astype(np.int64), 7)

    a2 = base.mapInArrow(gen, mm.ASSET_SCHEMA).collect()
    m1 = {r["asset_id"]: r for r in a1}
    m2 = {r["asset_id"]: r for r in a2}
    assert set(m1) == set(m2) == set(range(50))
    for k in m1:
        assert bytes(m1[k]["payload"]) == bytes(m2[k]["payload"])
        assert m1[k]["kind"] == m2[k]["kind"]
        assert m1[k]["width"] == m2[k]["width"]


def test_asset_metadata_typing(spark):
    rows = mm.make_assets_table(spark, 30).collect()
    for r in rows:
        assert 64 <= len(r["payload"]) < 4096
        if r["kind"] == "image":
            assert r["width"] is not None and r["height"] is not None
            assert r["sample_rate"] is None and r["n_frames"] is None
        elif r["kind"] == "audio":
            assert r["sample_rate"] == 16_000 and r["width"] is None
        else:
            assert r["n_frames"] is not None and r["width"] is None


def test_features_match_naive_reference(spark):
    assets = mm.make_assets_table(spark, 40)
    feats = {r["asset_id"]: r for r in mm.extract_features(assets).collect()}
    for r in assets.collect():
        raw = np.frombuffer(bytes(r["payload"]), dtype=np.uint8)
        hist = np.bincount(raw >> 4, minlength=16).astype(np.float64)
        want = hist / hist.sum()
        got = np.array(feats[r["asset_id"]]["features"])
        assert feats[r["asset_id"]]["n_bytes"] == raw.size
        assert np.allclose(got, want, atol=0, rtol=0)


def test_decode_stub_contract(spark):
    with pytest.raises(NotImplementedError, match="codecs"):
        mm.decode_asset(b"\x00", "image")
    assets = mm.make_assets_table(spark, 5)
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        mm.extract_features(assets, fake_decode=False).collect()


def test_frame_sample_plan(spark):
    assets = mm.make_assets_table(spark, 30)
    plan = mm.frame_sample_plan(assets, every_n=10)
    rows = plan.collect()
    vids = {r["asset_id"]: r["n_frames"]
            for r in assets.where(F.col("kind") == "video").collect()}
    by_asset: dict[int, list[int]] = {}
    for r in rows:
        by_asset.setdefault(r["asset_id"], []).append(r["frame_idx"])
    assert set(by_asset) == set(vids)
    for aid, idxs in by_asset.items():
        assert idxs == list(range(0, vids[aid], 10))


def test_resize_assets_nearest_neighbor(spark):
    assets = mm.make_assets_table(spark, 40)
    out_len = 16
    got = {r["asset_id"]: r for r in
           mm.resize_assets(assets, out_len=out_len).collect()}
    for r in assets.collect():
        raw = np.frombuffer(bytes(r["payload"]), dtype=np.uint8)
        want = [int(raw[(j * raw.size) // out_len]) for j in range(out_len)]
        row = got[r["asset_id"]]
        assert row["n_bytes"] == raw.size
        assert row["kind"] == r["kind"]
        assert list(row["samples"]) == want


def test_resize_assets_stub_contract(spark):
    assets = mm.make_assets_table(spark, 5)
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        mm.resize_assets(assets, fake_decode=False).collect()


# ---------------------------------------------------------------------------
# real decoders (pure numpy; committed fixture files)
# ---------------------------------------------------------------------------

import os

import numpy as np
import pytest

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def _wav_bytes() -> bytes:
    return open(os.path.join(FIX, "tone.wav"), "rb").read()


def _bmp_bytes() -> bytes:
    return open(os.path.join(FIX, "gradient.bmp"), "rb").read()


def test_decode_wav_fixture_exact_samples():
    from pysparkenc.multimodal import decode_asset, wav_sample_rate

    samples = decode_asset(_wav_bytes(), "audio")
    assert samples.shape == (400, 2) and samples.dtype == np.dtype("<i2")
    t = np.arange(400)
    assert np.array_equal(samples[:, 0], ((t * 523) % 20000 - 10000).astype("<i2"))
    assert np.array_equal(samples[:, 1], ((t * 797) % 16000 - 8000).astype("<i2"))
    assert wav_sample_rate(_wav_bytes()) == 8000


def test_decode_bmp_fixture_exact_pixels():
    from pysparkenc.multimodal import decode_asset

    img = decode_asset(_bmp_bytes(), "image")
    assert img.shape == (13, 21, 3) and img.dtype == np.uint8
    yy, xx = np.mgrid[0:13, 0:21]
    assert np.array_equal(img[..., 0], ((xx * 12) % 256).astype(np.uint8))
    assert np.array_equal(img[..., 1], ((yy * 19) % 256).astype(np.uint8))
    assert np.array_equal(img[..., 2], ((xx * 7 + yy * 3) % 256).astype(np.uint8))


def test_decode_truncation_raises_never_misdecodes():
    from pysparkenc.multimodal import decode_asset

    wav, bmp = _wav_bytes(), _bmp_bytes()
    with pytest.raises(ValueError):
        decode_asset(wav[: len(wav) - 7], "audio")  # short data chunk
    with pytest.raises(ValueError):
        decode_asset(bmp[: len(bmp) - 5], "image")  # short pixel rows
    with pytest.raises(ValueError):
        decode_asset(b"\xff\xd8\xff\xe0 jpeg-ish", "image")  # garbage segment
    # compressed WAV format tags are refused, not garbled
    import struct

    fmt = struct.pack("<HHIIHH", 85, 1, 8000, 8000, 1, 16)  # tag 85 = mp3
    bad = (b"RIFF" + struct.pack("<I", 28) + b"WAVE"
           + b"fmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", 0))
    with pytest.raises(NotImplementedError):
        decode_asset(bad, "audio")


def test_real_feature_extraction_over_fixture_assets(spark):
    """decode + feature-extract over REAL WAV/BMP payloads through the
    full Spark path (mapInArrow, fake_decode=False): features must equal
    the 16-bin histogram of the DECODED sample bytes, computed
    independently here."""
    from pysparkenc.multimodal import ASSET_SCHEMA, decode_asset, extract_features

    wav, bmp = _wav_bytes(), _bmp_bytes()
    rows = [
        (0, "audio", bytearray(wav), None, None, 8000, None),
        (1, "image", bytearray(bmp), 21, 13, None, None),
    ]
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    got = {r["asset_id"]: (r["n_bytes"], r["features"])
           for r in extract_features(assets, fake_decode=False).collect()}
    for aid, payload in ((0, wav), (1, bmp)):
        # int16 WAV: histogram runs over the decoded LE byte stream
        dec = np.frombuffer(decode_asset(payload, "").tobytes(), np.uint8)
        hist = np.bincount(dec >> 4, minlength=16).astype(float)
        want = hist / max(hist.sum(), 1.0)
        n_b, feats = got[aid]
        assert n_b == len(payload)
        assert np.allclose(feats, want)


def _png_bytes() -> bytes:
    return open(os.path.join(FIX, "gradient.png"), "rb").read()


def test_decode_png_fixture_exact_pixels():
    """The committed fixture cycles through ALL FIVE scanline filters
    (scripts/make_png_fixture.py writes row y with filter y % 5), so
    every un-filter path is checked pixel-exact."""
    from pysparkenc.multimodal import decode_asset

    img = decode_asset(_png_bytes(), "image")
    assert img.shape == (17, 24, 3) and img.dtype == np.uint8
    yy, xx = np.mgrid[0:17, 0:24]
    assert np.array_equal(img[..., 0], ((xx * 11) % 256).astype(np.uint8))
    assert np.array_equal(img[..., 1], ((yy * 23) % 256).astype(np.uint8))
    assert np.array_equal(img[..., 2],
                          ((xx * 5 + yy * 7) % 256).astype(np.uint8))


def test_decode_png_all_color_types_and_rejections():
    import struct
    import zlib

    from pysparkenc.multimodal import decode_png

    def chunk(t, b):
        return (struct.pack(">I", len(b)) + t + b
                + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF))

    def make(w, h, ct, ch, depth=8, interlace=0):
        raw = bytearray()
        for y in range(h):
            raw.append(0)
            raw += bytes(((x * 3 + y * ch + c) % 256)
                         for x in range(w) for c in range(ch))
        return (b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR",
                        struct.pack(">IIBBBBB", w, h, depth, ct, 0, 0,
                                    interlace))
                + chunk(b"IDAT", zlib.compress(bytes(raw)))
                + chunk(b"IEND", b""))

    assert decode_png(make(5, 4, 0, 1)).shape == (4, 5)       # gray
    assert decode_png(make(5, 4, 4, 2)).shape == (4, 5, 2)    # gray+A
    assert decode_png(make(5, 4, 6, 4)).shape == (4, 5, 4)    # RGBA
    with pytest.raises(NotImplementedError):                   # palette
        decode_png(make(5, 4, 3, 1))
    with pytest.raises(NotImplementedError):                   # interlaced
        decode_png(make(5, 4, 2, 3, interlace=1))
    png = _png_bytes()
    for cut in (7, 20, 40, len(png) - 5):                      # truncation
        with pytest.raises((ValueError, Exception)):
            decode_png(png[:cut])
    # IDAT length inconsistent with IHDR dims: raises, never misdecodes
    bad = make(5, 4, 2, 3).replace(
        struct.pack(">II", 5, 4), struct.pack(">II", 6, 4), 1
    )
    with pytest.raises(Exception):
        decode_png(bad)


def test_real_feature_extraction_includes_png(spark):
    from pysparkenc.multimodal import (
        ASSET_SCHEMA,
        decode_asset,
        extract_features,
    )

    png = _png_bytes()
    assets = spark.createDataFrame(
        [(7, "image", bytearray(png), 24, 17, None, None)], ASSET_SCHEMA
    )
    row = extract_features(assets, fake_decode=False).collect()[0]
    dec = np.frombuffer(decode_asset(png, "image").tobytes(), np.uint8)
    hist = np.bincount(dec >> 4, minlength=16).astype(float)
    assert row["n_bytes"] == len(png)
    assert np.allclose(row["features"], hist / hist.sum())


# ---------------------------------------------------------------- JPEG


def _jpeg_bytes(name: str) -> bytes:
    return open(os.path.join(FIX, name), "rb").read()


def _ramp(w: int, h: int) -> np.ndarray:
    """Recompute scripts/make_jpeg_fixture.ramp — the encoded image."""
    x = np.arange(w).reshape(1, w)
    y = np.arange(h).reshape(h, 1)
    r = (x * 255) // max(w - 1, 1)
    g = (y * 255) // max(h - 1, 1)
    b = ((x + y) * 255) // max(w + h - 2, 1)
    return np.stack(np.broadcast_arrays(r, g, b), axis=-1).astype(np.uint8)


def test_decode_jpeg_444_fixture():
    """Baseline 4:4:4 fixture decodes within JPEG quantization error of
    the exact ramp it encodes (Annex K tables on smooth ramps: a few
    LSBs). The tolerance is pinned tight enough that a DCT/zigzag/
    Huffman defect (tens to hundreds of levels off) cannot pass."""
    from pysparkenc.multimodal import decode_asset

    img = decode_asset(_jpeg_bytes("ramp444.jpg"), "image")
    want = _ramp(32, 24)
    assert img.shape == (24, 32, 3) and img.dtype == np.uint8
    err = np.abs(img.astype(int) - want.astype(int))
    assert err.max() <= 10 and err.mean() <= 3.0


def test_decode_jpeg_420_restart_fixture():
    """4:2:0 fixture: interleaved 4-luma+2-chroma MCUs, chroma
    upsampling, non-multiple-of-16 height (edge MCU padding), and RSTn
    markers every 2 MCUs — DC predictors must reset at each restart."""
    from pysparkenc.multimodal import decode_asset

    img = decode_asset(_jpeg_bytes("ramp420.jpg"), "image")
    want = _ramp(48, 40)
    assert img.shape == (40, 48, 3) and img.dtype == np.uint8
    err = np.abs(img.astype(int) - want.astype(int))
    assert err.max() <= 16 and err.mean() <= 4.0


def test_decode_jpeg_rejections_never_misdecode():
    from pysparkenc.multimodal import decode_jpeg

    good = _jpeg_bytes("ramp444.jpg")
    # progressive (SOF2) is refused by name, not garbled
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(NotImplementedError, match="progressive"):
        decode_jpeg(prog)
    # truncation anywhere in the entropy stream raises
    for cut in (2, 21, 100, len(good) - 9):
        with pytest.raises((ValueError, NotImplementedError)):
            decode_jpeg(good[:cut])
    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg")
    # a 12-bit-precision SOF is refused by name
    sof_at = good.find(b"\xff\xc0")
    deep = bytearray(good)
    deep[sof_at + 4] = 12
    with pytest.raises(NotImplementedError, match="12-bit"):
        decode_jpeg(bytes(deep))


def test_real_feature_extraction_includes_jpeg(spark):
    from pysparkenc.multimodal import (
        ASSET_SCHEMA,
        decode_asset,
        extract_features,
    )

    jpg = _jpeg_bytes("ramp420.jpg")
    assets = spark.createDataFrame(
        [(11, "image", bytearray(jpg), 48, 40, None, None)], ASSET_SCHEMA
    )
    row = extract_features(assets, fake_decode=False).collect()[0]
    dec = np.frombuffer(decode_asset(jpg, "image").tobytes(), np.uint8)
    hist = np.bincount(dec >> 4, minlength=16).astype(float)
    assert row["n_bytes"] == len(jpg)
    assert np.allclose(row["features"], hist / hist.sum())


def test_decode_jpeg_fill_bytes_and_tem_markers():
    """Spec-legal 0xFF fill bytes before a marker (T.81 B.1.1.2) and
    standalone TEM markers must not desync the header parse — an
    encoder that pads still decodes, byte-identically to the unpadded
    stream."""
    from pysparkenc.multimodal import decode_jpeg

    good = _jpeg_bytes("ramp444.jpg")
    base = decode_jpeg(good)
    i = good.find(b"\xff\xc4")  # before the first DHT
    padded = good[:i] + b"\xff\xff\xff" + good[i:]
    assert np.array_equal(decode_jpeg(padded), base)
    temmed = good[:i] + b"\xff\x01" + good[i:]
    assert np.array_equal(decode_jpeg(temmed), base)


def test_jpeg_bit_reader_long_scan_is_linear():
    """A long entropy-coded segment with no restart markers: every byte
    refill must cost O(1). The accumulator used to keep every bit read
    so far, making each refill a shift of an ever-longer int — 200 KB
    took tens of seconds; linear reading takes well under one."""
    import time

    from pysparkenc.multimodal import _JpegBitReader

    n = 200_000
    raw = np.random.default_rng(1).integers(0, 256, n, np.uint8).tobytes()
    scan = raw.replace(b"\xff", b"\xff\x00") + b"\xff\xd9"  # EOI
    rd = _JpegBitReader(scan, 0)
    t0 = time.perf_counter()
    got = bytes(rd.bits(8) for _ in range(n))
    assert time.perf_counter() - t0 < 5.0
    assert got == raw  # 0xFF00 un-stuffed, bits MSB-first
    with pytest.raises(ValueError, match="marker 0xFFD9"):
        rd.bit()
