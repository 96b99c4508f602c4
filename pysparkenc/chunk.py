"""Chunk framing: one encoded column of one partition batch.

Mirrors the reference's page/chunk/footer layering (``layout/chunk.go``,
``file-reader.go:193-253``) in table form: instead of thrift footers inside
a file, every chunk is a row ``(part_id, chunk_id, col, codec, dtype,
n_rows, n_values, …stats…, data, aux)`` and the "footer" is simply the
non-binary projection of the chunk table — queryable with plain SQL and
prunable by Spark/Iceberg partition statistics.

``encode_column``/``decode_column`` are pure (numpy in, dict/numpy out) so
they unit-test without Spark; the engine feeds them from Arrow batches.
"""

from __future__ import annotations

import json
import zlib
from dataclasses import dataclass

import numpy as np

from .kernels.alp import alp_decode, alp_encode
from .kernels.bss import bss_decode, bss_encode
from .kernels.bytearray import (
    delta_ba_decode,
    delta_ba_encode,
    delta_length_decode,
    delta_length_encode,
)
from .kernels.delta import delta_bp_decode, delta_bp_encode
from .kernels.dictenc import (
    dict_decode_codes,
    dict_encode_codes,
    dict_page_decode_bytes,
    dict_page_decode_numeric,
    dict_page_encode_bytes,
    dict_page_encode_numeric,
    sort_dict_bytes,
    sort_dict_numeric,
    factorize_bytes,
    factorize_numeric,
)
from .kernels.fsst import fsst_decode, fsst_encode
from .kernels.int96 import int96_decode, int96_encode
from .kernels.plain import (
    plain_decode_bool,
    plain_decode_bytes,
    plain_decode_numeric,
    plain_encode_bool,
    plain_encode_bytes,
    plain_encode_numeric,
)
from .kernels.rle import (
    hybrid_decode_with_size,
    hybrid_encode_with_size,
)
from . import compress as blockcomp
from .selector import Choice, select_bool, select_bytes, select_numeric

_ITEM = {"int32": 4, "int64": 8, "float32": 4, "float64": 8}


def compress_chunk(ck: "EncodedChunk", compression: str | None) -> "EncodedChunk":
    """Apply optional block compression (reference's BlockCompressor layer,
    compression/compressor.go:3-6) on top of the encoded payload. Kept only
    when it actually shrinks the chunk; recorded in ``extra`` so decode is
    self-describing. crc32 always covers the *stored* bytes."""
    if not compression or compression == "none":
        return ck
    data = blockcomp.compress(compression, ck.data)
    aux = blockcomp.compress(compression, ck.aux) if ck.aux else b""
    if len(data) + len(aux) >= ck.enc_bytes:
        return ck
    extra = json.loads(ck.extra) if ck.extra else {}
    extra["comp"] = compression
    ck.data, ck.aux = data, aux
    ck.enc_bytes = len(data) + len(aux)
    ck.crc32 = _chunk_crc(data, aux)
    ck.extra = json.dumps(extra)
    return ck


def _chunk_crc(data: bytes, aux: bytes = b"") -> int:
    """CRC32 over the stored payload AND the dictionary page: a flipped
    aux byte must fail fast, never decode into wrong values. Chaining
    keeps aux-less chunks' CRCs identical to a plain crc32(data)."""
    crc = zlib.crc32(data)
    return zlib.crc32(aux, crc) if aux else crc


def _open_payload(chunk: dict) -> tuple[bytes, bytes, dict]:
    """crc-check the stored bytes (payload + dict page), then undo block
    compression if present. Returns (data, aux, extra_dict)."""
    data = chunk["data"]
    aux = chunk.get("aux") or b""
    if chunk.get("crc32") is not None and _chunk_crc(data, aux) != chunk["crc32"]:
        # named like engine._corrupt when the row locates the chunk
        where = (f" (part_id {chunk['part_id']}, chunk_id {chunk['chunk_id']})"
                 if "part_id" in chunk and "chunk_id" in chunk else "")
        raise ValueError(
            f"corrupt chunk {chunk.get('col')!r}{where}: crc32 mismatch")
    extra = json.loads(chunk["extra"]) if chunk.get("extra") else {}
    comp = extra.get("comp")
    if comp:
        data = blockcomp.decompress(comp, data)
        aux = blockcomp.decompress(comp, aux) if aux else b""
    return data, aux, extra


@dataclass
class EncodedChunk:
    col: str
    codec: str
    dtype: str
    n_values: int
    null_count: int
    n_unique: int
    bit_width: int
    plain_bytes: int
    enc_bytes: int
    num_min: float | None
    num_max: float | None
    crc32: int
    extra: str
    data: bytes
    aux: bytes
    # optional split-block bloom filter over the chunk's non-null values
    # (kernels/bloom.py) — index metadata, not payload: excluded from
    # enc_bytes the way parquet stores blooms outside the column chunk
    bloom: bytes = b""


def _exact_int_sum(values: np.ndarray) -> int:
    """Exact integer sum with no overflow, no Python-object array.

    Each value splits into signed-high and unsigned-low 32-bit halves
    (v = hi * 2**32 + lo); both halves' int64 partial sums stay far
    inside int64 for any page-sized chunk (|hi| < 2**31, lo < 2**32,
    n <= 2**20 -> |sum| < 2**52), and the Python-int recombination is
    exact. ~30x faster than values.astype(object).sum() on hot pages.
    """
    if values.dtype == np.int32:
        return int(values.sum(dtype=np.int64))
    v = values.view(np.int64) if values.dtype == np.int64 else values.astype(
        np.int64)
    hi = (v >> 32).sum(dtype=np.int64)
    lo = (v & 0xFFFFFFFF).sum(dtype=np.int64)
    return (int(hi) << 32) + int(lo)


def _stats_numeric(values: np.ndarray) -> tuple[float | None, float | None]:
    """Chunk min/max under Spark's NaN-greatest ordering.

    Plain ``values.min()/max()`` would both become NaN if any value is NaN
    and pruning would silently drop in-range chunks (parquet writers skip
    NaN in stats for the same reason). Instead:
    - num_min = nanmin: the true smallest value (NaN sorts greatest, so it
      can never be the min unless the chunk is all-NaN);
    - num_max = plain max: NaN when any NaN is present — semantically the
      max under NaN-greatest ordering, and page-group pruning treats a NaN
      max as "unbounded above" so lo-bounded scans keep the chunk.
    """
    if values.size == 0:
        return None, None
    if values.dtype.kind == "f":
        vmax = float(values.max())
        finite_mask_needed = np.isnan(vmax)
        if finite_mask_needed:
            non_nan = values[~np.isnan(values)]
            vmin = float(non_nan.min()) if non_nan.size else float("nan")
        else:
            vmin = float(values.min())
        return vmin, vmax
    return float(values.min()), float(values.max())


def encode_numeric(
    col: str, values: np.ndarray, dtype: str, codec: str | None = None,
    compression: str | None = None, bloom_fpp: float | None = None,
) -> EncodedChunk:
    n = values.size
    choice: Choice | None = None
    if codec is None:
        # n == 0 happens for all-null columns (values fully compacted
        # away); the selector's candidates assume at least one value
        codec = "plain" if n == 0 else None
    if codec is None:
        choice = select_numeric(values, dtype, compression)
        codec = choice.codec
    plain_bytes = n * _ITEM[dtype]
    aux = b""
    extra: dict = {}
    n_unique = -1
    bit_width = 0

    if codec == "plain":
        data = plain_encode_numeric(values, dtype)
    elif codec == "bss":
        data = bss_encode(values, dtype)
    elif codec == "alp":
        data = alp_encode(values, dtype)
    elif codec == "delta_bp":
        width = 32 if dtype == "int32" else 64
        data = delta_bp_encode(values, width=width)
    elif codec == "dict_rle":
        codes, uniques = factorize_numeric(values)
        # DELTA-dict: sorted dictionaries delta-pack far below PLAIN;
        # run structure (hence index size) survives the code remap
        codes, uniques = sort_dict_numeric(codes, uniques)
        n_unique = uniques.size
        aux = dict_page_encode_numeric(uniques, dtype)
        data = dict_encode_codes(codes, n_unique)
        bit_width = data[0]
    elif codec == "for_rle":
        vmin = int(values.min()) if n else 0
        shifted = values.astype(np.int64) - vmin
        bit_width = int(shifted.max()).bit_length() if n else 0
        data = hybrid_encode_with_size(shifted, bit_width)
        extra["for_offset"] = vmin
    elif codec == "int96":
        # legacy 12-byte timestamp layout; force-only (never auto-picked:
        # 12 bytes/value always loses to the int64 codecs)
        if dtype != "int64":
            raise ValueError("int96 codec requires int64 (epoch-micros)")
        data = int96_encode(values)
    else:
        raise ValueError(f"unknown numeric codec {codec}")

    vmin_f, vmax_f = _stats_numeric(values)
    if n and dtype.startswith("int"):
        # exact per-chunk sum, immune to int64 overflow at page scale —
        # enables metadata-only SUM/COUNT aggregate pushdown
        # (engine.aggregate_chunks); ints only, float sums are
        # order-dependent and would break bit-for-bit contracts
        extra["sum"] = _exact_int_sum(values)
    bloom = b""
    if bloom_fpp is not None and n:
        from .kernels.bloom import bloom_build, hash_numeric

        ndv = n_unique if n_unique >= 0 else n
        bloom = bloom_build(hash_numeric(values, dtype), ndv, bloom_fpp)
    return EncodedChunk(
        col=col, codec=codec, dtype=dtype, n_values=n, null_count=0,
        n_unique=n_unique, bit_width=bit_width, plain_bytes=plain_bytes,
        enc_bytes=len(data) + len(aux), num_min=vmin_f, num_max=vmax_f,
        crc32=_chunk_crc(data, aux), extra=json.dumps(extra) if extra else "",
        data=data, aux=aux, bloom=bloom,
    )


def encode_bool(col: str, values: np.ndarray, codec: str | None = None) -> EncodedChunk:
    n = values.size
    if codec is None:
        codec = select_bool(values).codec
    if codec == "bool_plain":
        data = plain_encode_bool(values)
    elif codec == "bool_rle":
        data = hybrid_encode_with_size(values.astype(np.int64), 1)
    else:
        raise ValueError(f"unknown boolean codec {codec}")
    return EncodedChunk(
        col=col, codec=codec, dtype="bool", n_values=n, null_count=0,
        n_unique=-1, bit_width=1, plain_bytes=(n + 7) // 8,
        enc_bytes=len(data), num_min=None, num_max=None,
        crc32=zlib.crc32(data), extra="", data=data, aux=b"",
    )


# pages per column between FSST retrains when a symbol cache is passed:
# training costs ~4x the actual encode, and value distributions are
# near-stationary across adjacent pages of one column, so the selector
# reuses one trained table for a stretch and refreshes to bound drift
_FSST_REUSE_PAGES = 16


def encode_bytes(
    col: str, offsets: np.ndarray, data_buf: bytes, codec: str | None = None,
    *, logical: str = "bytes", bloom_fpp: float | None = None,
    fsst_cache: dict | None = None,
) -> EncodedChunk:
    """``fsst_cache``: optional per-task dict ``col -> [symbols, uses]``.
    The FSST probe reuses the cached table for up to ``_FSST_REUSE_PAGES``
    pages instead of retraining per page; the size estimate then prices
    exactly what the encode emits with that table, so codec selection
    stays honest — staleness can only cost a little compression, never
    correctness."""
    n = offsets.size - 1
    choice: Choice | None = None
    if codec is None and n == 0:
        codec = "ba_plain"  # all-null column: no values to select over
    if codec is None:
        hint = None
        if fsst_cache is not None:
            ent = fsst_cache.get(col)
            if ent is not None and ent[1] < _FSST_REUSE_PAGES:
                hint = ent[0]
                ent[1] += 1
        choice = select_bytes(offsets, data_buf, fsst_symbols=hint)
        codec = choice.codec
        if (
            fsst_cache is not None
            and hint is None
            and choice.fsst_symbols is not None
        ):
            fsst_cache[col] = [choice.fsst_symbols, 0]
    plain_bytes = len(data_buf) + 4 * n
    aux = b""
    n_unique = -1
    extra: dict = {}

    if codec == "ba_fixed":
        # FIXED_LEN_BYTE_ARRAY (types/byte-array.go:94-114): equal-width
        # values stored back-to-back, no offsets at all — UUID / digest /
        # decimal-backing shapes
        lens = np.diff(offsets)
        w = int(lens[0]) if n else 0
        if n and not (lens == w).all():
            raise ValueError(
                f"ba_fixed requires equal-length values for {col}"
            )
        data = bytes(data_buf)
        extra["flba_w"] = w
    elif codec == "ba_plain":
        data = plain_encode_bytes(offsets, data_buf)
    elif codec == "ba_delta_len":
        data = delta_length_encode(offsets, data_buf)
    elif codec == "ba_delta":
        data = delta_ba_encode(offsets, data_buf)
    elif codec == "dict_rle":
        codes, d_off, d_data = factorize_bytes(offsets, data_buf)
        # DELTA-dict: lexicographically sorted dictionaries share long
        # prefixes, so DELTA_BYTE_ARRAY shrinks the page; remap is free
        codes, d_off, d_data = sort_dict_bytes(codes, d_off, d_data)
        n_unique = d_off.size - 1
        aux = dict_page_encode_bytes(d_off, d_data)
        data = dict_encode_codes(codes, n_unique)
    elif codec == "fsst":
        symbols = choice.fsst_symbols if choice else None
        data = fsst_encode(offsets, data_buf, symbols)
    else:
        raise ValueError(f"unknown byte-array codec {codec}")

    bloom = b""
    if bloom_fpp is not None and n:
        from .kernels.bloom import bloom_build, hash_bytes

        ndv = n_unique if n_unique >= 0 else n
        bloom = bloom_build(hash_bytes(offsets, data_buf), ndv, bloom_fpp)
    return EncodedChunk(
        col=col, codec=codec, dtype=logical, n_values=n, null_count=0,
        n_unique=n_unique, bit_width=0, plain_bytes=plain_bytes,
        enc_bytes=len(data) + len(aux), num_min=None, num_max=None,
        crc32=_chunk_crc(data, aux), extra=json.dumps(extra) if extra else "",
        data=data, aux=aux, bloom=bloom,
    )


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

def decode_numeric(chunk: dict) -> np.ndarray:
    codec, dtype, n = chunk["codec"], chunk["dtype"], int(chunk["n_values"])
    data, aux, extra = _open_payload(chunk)
    if codec == "plain":
        return plain_decode_numeric(data, dtype, n)
    if codec == "bss":
        return bss_decode(data, dtype, n)
    if codec == "alp":
        return alp_decode(data, dtype, n)
    if codec == "delta_bp":
        width = 32 if dtype == "int32" else 64
        vals, _ = delta_bp_decode(data, width=width)
        if vals.size != n:
            raise ValueError("delta stream count mismatch")
        return vals
    if codec == "dict_rle":
        n_unique = int(chunk["n_unique"])
        uniques = dict_page_decode_numeric(aux, dtype, n_unique)
        codes = dict_decode_codes(data, n, n_unique)
        return uniques.take(codes)  # take: no index widening pass
    if codec == "for_rle":
        offset = int(extra.get("for_offset", 0))
        bw = int(chunk["bit_width"])
        shifted, _ = hybrid_decode_with_size(data, bw, n)
        out = shifted.astype(np.int64) + offset
        return out.astype(np.int32 if dtype == "int32" else np.int64)
    if codec == "int96":
        return int96_decode(data, n)
    raise ValueError(f"unknown numeric codec {codec}")


def decode_bool(chunk: dict) -> np.ndarray:
    codec, n = chunk["codec"], int(chunk["n_values"])
    data, _, _ = _open_payload(chunk)
    if codec == "bool_plain":
        return plain_decode_bool(data, n)
    if codec == "bool_rle":
        vals, _ = hybrid_decode_with_size(data, 1, n)
        return vals.astype(bool)
    raise ValueError(f"unknown boolean codec {codec}")


def decode_bytes(chunk: dict) -> tuple[np.ndarray, bytes]:
    codec, n = chunk["codec"], int(chunk["n_values"])
    data, aux, extra = _open_payload(chunk)
    if codec == "ba_fixed":
        w = int(extra.get("flba_w", 0))
        if len(data) != n * w:
            raise ValueError(
                f"ba_fixed payload length {len(data)} != {n} * {w}"
            )
        return np.arange(n + 1, dtype=np.int64) * w, bytes(data)
    if codec == "ba_plain":
        return plain_decode_bytes(data, n)
    if codec == "ba_delta_len":
        return delta_length_decode(data, n)
    if codec == "ba_delta":
        return delta_ba_decode(data, n)
    if codec == "dict_rle":
        n_unique = int(chunk["n_unique"])
        d_off, d_data = dict_page_decode_bytes(aux, n_unique)
        codes = dict_decode_codes(data, n, n_unique)
        lens = np.diff(d_off).take(codes)
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens, out=offsets[1:])
        raw = np.frombuffer(d_data, dtype=np.uint8)
        from .kernels.plain import _ramp

        idx = np.repeat(d_off.take(codes), lens) + _ramp(lens)
        return offsets, raw[idx].tobytes()
    if codec == "fsst":
        return fsst_decode(data, n)
    raise ValueError(f"unknown byte-array codec {codec}")
