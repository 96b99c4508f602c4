"""Dictionary encoding (Parquet ``RLE_DICTIONARY`` enum 8 / legacy
``PLAIN_DICTIONARY`` enum 2).

Re-expresses ``/root/reference/types/dict.go:14-117`` +
``datastore/dict.go:9-105``: the reference deduplicates value-at-a-time
through a Go hash map; here one ``pandas.factorize``/``np.unique`` call
yields the first-occurrence-ordered dictionary and the int32 code stream at
once.

Wire format (data page, ``types/dict.go:34-57``):
    <1 byte bit-width = bits.Len(len(dict))><hybrid-encoded codes>
Dictionary page: one tag byte, then either PLAIN values (the only layout
the reference accepts, ``layout/page-dict.go:42-49``) or — north-star
"DELTA-dict" — the sorted dictionary DELTA_BINARY_PACKED (ints) /
DELTA_BYTE_ARRAY prefix-compressed (bytes), whichever is smaller.

Decode validates ``code < len(dict)`` exactly like ``types/dict.go:104-111``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .plain import (
    plain_decode_bytes,
    plain_decode_numeric,
    plain_encode_bytes,
    plain_encode_numeric,
)
from .rle import hybrid_decode, hybrid_encode, hybrid_encoded_size


def factorize_numeric(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(codes int32, uniques) in first-occurrence order (DictStore order)."""
    codes, uniques = pd.factorize(values, use_na_sentinel=False)
    return codes.astype(np.int32), np.asarray(uniques)


def factorize_bytes(
    offsets: np.ndarray, data: bytes
) -> tuple[np.ndarray, np.ndarray, bytes]:
    """Factorize a binary column in offsets+data form.

    Returns (codes int32, dict_offsets int64, dict_data) with the
    dictionary in first-occurrence order (DictStore order). Runs through
    Arrow's hash kernel over a zero-copy LargeBinaryArray view — the
    previous np.split + per-value ``bytes`` path materialized n Python
    objects and dominated the string-encode profile.
    """
    n = offsets.size - 1
    if n == 0:
        return (np.empty(0, dtype=np.int32), np.zeros(1, dtype=np.int64), b"")
    import pyarrow as pa
    import pyarrow.compute as pc

    off = np.ascontiguousarray(offsets, dtype=np.int64)
    arr = pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), n, [None, pa.py_buffer(off), pa.py_buffer(data)]
    )
    denc = pc.dictionary_encode(arr)  # dictionary = first-occurrence order
    codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int32)
    d = denc.dictionary
    dbufs = d.buffers()
    d_off = np.frombuffer(
        dbufs[1], dtype=np.int64, count=len(d) + 1, offset=d.offset * 8
    )
    base = int(d_off[0])
    dict_data = (
        bytes(memoryview(dbufs[2])[base : int(d_off[-1])])
        if dbufs[2] is not None
        else b""
    )
    return codes, (d_off - base).astype(np.int64), dict_data


def dict_index_bit_width(n_unique: int) -> int:
    """Bits needed for the largest code, ``(n_unique - 1).bit_length()``.

    Deliberate divergence from the reference, which sizes the code stream
    by the dictionary *count* (``bits.Len(uint(len(values)))``,
    ``types/dict.go:41``) and so wastes one bit per value whenever the
    count is an exact power of two (e.g. 2 values -> 2 bits instead of 1;
    parquet-mr uses max-code semantics). Our chunks are strictly <= the
    reference's, and decode always reads the width from the chunk header
    byte, so both conventions decode correctly.
    """
    return max(0, int(n_unique) - 1).bit_length()


def dict_encode_codes(codes: np.ndarray, n_unique: int) -> bytes:
    if n_unique == 0:
        raise ValueError("empty dictionary nothing to write")
    w = dict_index_bit_width(n_unique)
    # codes are in [0, n_unique) by construction (factorize) and w is
    # sized from n_unique -> skip the range scan and the int64 copy
    return bytes([w]) + hybrid_encode(codes, w, assume_fits=True)


def dict_decode_codes(buf: bytes | memoryview, n: int, n_unique: int) -> np.ndarray:
    """The ``n`` codes as uint32, checked against the dictionary size."""
    mv = memoryview(buf).cast("B")
    if len(mv) < 1:
        raise EOFError("missing dictionary bit-width byte")
    w = mv[0]
    if w > 32:
        raise ValueError(f"invalid bit-width {w}")
    codes = hybrid_decode(mv[1:], w, n)
    if codes.size and codes.max() >= n_unique:
        raise ValueError(
            f"invalid index {int(codes.max())} for dictionary of {n_unique}"
        )
    return codes


def dict_codes_encoded_size(codes: np.ndarray, n_unique: int) -> int:
    w = dict_index_bit_width(n_unique)
    return 1 + hybrid_encoded_size(codes.astype(np.int64), w)


# -- dictionary page (DELTA-dict with PLAIN fallback) ------------------------
#
# The north-star names "dictionary (DELTA-dict with fallback)": the chunk
# writer sorts the dictionary (see sort_dict_numeric/sort_dict_bytes) and
# the page encoder then prices DELTA_BINARY_PACKED (ints) or
# DELTA_BYTE_ARRAY prefix compression (bytes) against PLAIN and keeps the
# smaller, tagged with one leading byte so decode is self-describing:
#     <tag 0 = PLAIN | 1 = DELTA><payload>
# Float dictionaries always take the PLAIN tag (deltas of floats are not
# compressible and not bit-exact under re-accumulation).

_DICT_PAGE_PLAIN = 0
_DICT_PAGE_DELTA = 1


def sort_dict_numeric(
    codes: np.ndarray, uniques: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Reorder a factorized dictionary ascending and remap the codes.

    Sorted dictionaries delta-pack into a fraction of PLAIN (ascending
    distinct ints = small positive deltas) and allow searchsorted probes.
    Run structure in the code stream is preserved under any bijective
    remap, so the RLE-hybrid index size is unchanged.
    """
    nu = uniques.size
    if nu <= 1:
        return codes, uniques
    order = np.argsort(uniques, kind="stable")
    inv = np.empty(nu, dtype=np.int32)
    inv[order] = np.arange(nu, dtype=np.int32)
    return inv[codes], uniques[order]


def sort_dict_bytes(
    codes: np.ndarray, d_off: np.ndarray, d_data: bytes
) -> tuple[np.ndarray, np.ndarray, bytes]:
    """Byte-array variant of :func:`sort_dict_numeric` (lexicographic)."""
    nu = d_off.size - 1
    if nu <= 1:
        return codes, d_off, d_data
    import pyarrow as pa
    import pyarrow.compute as pc

    off = np.ascontiguousarray(d_off, dtype=np.int64)
    arr = pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), nu, [None, pa.py_buffer(off), pa.py_buffer(d_data)]
    )
    order = pc.sort_indices(arr).to_numpy().astype(np.int64)
    sorted_arr = arr.take(order)
    bufs = sorted_arr.buffers()
    s_off = np.frombuffer(
        bufs[1], dtype=np.int64, count=nu + 1, offset=sorted_arr.offset * 8
    )
    base = int(s_off[0])
    s_data = (
        bytes(memoryview(bufs[2])[base : int(s_off[-1])])
        if bufs[2] is not None
        else b""
    )
    inv = np.empty(nu, dtype=np.int32)
    inv[order] = np.arange(nu, dtype=np.int32)
    return inv[codes], (s_off - base).astype(np.int64), s_data


def dict_page_encode_numeric(uniques: np.ndarray, dtype: str) -> bytes:
    plain = plain_encode_numeric(uniques, dtype)
    if dtype in ("int32", "int64") and uniques.size > 1:
        from .delta import delta_bp_encode

        width = 32 if dtype == "int32" else 64
        delta = delta_bp_encode(uniques, width=width)
        if len(delta) < len(plain):
            return bytes([_DICT_PAGE_DELTA]) + delta
    return bytes([_DICT_PAGE_PLAIN]) + plain


def dict_page_decode_numeric(
    buf: bytes | memoryview, dtype: str, n_unique: int
) -> np.ndarray:
    buf = bytes(buf)
    if len(buf) < 1:
        raise EOFError("missing dictionary page tag byte")
    tag, payload = buf[0], buf[1:]
    if tag == _DICT_PAGE_PLAIN:
        return plain_decode_numeric(payload, dtype, n_unique)
    if tag == _DICT_PAGE_DELTA:
        from .delta import delta_bp_decode

        width = 32 if dtype == "int32" else 64
        uniques, _ = delta_bp_decode(payload, width=width)
        if uniques.size != n_unique:
            raise ValueError(
                f"dictionary page holds {uniques.size} values, "
                f"footer says {n_unique}"
            )
        return uniques
    raise ValueError(f"unknown dictionary page tag {tag}")


def dict_page_encode_bytes(dict_offsets: np.ndarray, dict_data: bytes) -> bytes:
    plain = plain_encode_bytes(dict_offsets, dict_data)
    if dict_offsets.size > 2:
        from .bytearray import delta_ba_encode

        delta = delta_ba_encode(dict_offsets, dict_data)
        if len(delta) < len(plain):
            return bytes([_DICT_PAGE_DELTA]) + delta
    return bytes([_DICT_PAGE_PLAIN]) + plain


def dict_page_decode_bytes(
    buf: bytes | memoryview, n_unique: int
) -> tuple[np.ndarray, bytes]:
    buf = bytes(buf)
    if len(buf) < 1:
        raise EOFError("missing dictionary page tag byte")
    tag, payload = buf[0], buf[1:]
    if tag == _DICT_PAGE_PLAIN:
        return plain_decode_bytes(payload, n_unique)
    if tag == _DICT_PAGE_DELTA:
        from .bytearray import delta_ba_decode

        return delta_ba_decode(payload, n_unique)
    raise ValueError(f"unknown dictionary page tag {tag}")
