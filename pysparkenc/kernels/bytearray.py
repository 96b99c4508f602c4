"""BYTE_ARRAY codecs: DELTA_LENGTH_BYTE_ARRAY (enum 6) and DELTA_BYTE_ARRAY
(enum 7, incremental front-coding).

Re-expresses ``/root/reference/types/byte-array.go:120-348``:

- DELTA_LENGTH: all lengths as one DELTA_BINARY_PACKED int32 stream
  (block 128 / 4 miniblocks, ``byte-array.go:149-151``), then the raw bytes
  concatenated — which is exactly the Arrow BinaryArray (offsets, data)
  layout, so encode is ``delta(diff(offsets)) + data``.
- DELTA (front-coding): per-value shared-prefix length with the previous
  value (``types/helpers.go:58-71``) emitted as its own delta-packed int32
  stream, followed by the suffixes in DELTA_LENGTH form
  (``byte-array.go:225-348``).  The prefix computation here is vectorized:
  adjacent values are compared as padded byte matrices and the first
  mismatch position found with one argmin, instead of the reference's
  byte-at-a-time loop. Decode resolves every prefix byte to the suffix byte
  it copies with one sort by position, one running max and one gather.
"""

from __future__ import annotations

import numpy as np

from .delta import delta_bp_decode, delta_bp_encode, delta_bp_encoded_size

DELTA_LENGTH_BLOCK = 128
DELTA_LENGTH_MINIBLOCKS = 4


# -- DELTA_LENGTH_BYTE_ARRAY --------------------------------------------------

def delta_length_encode(offsets: np.ndarray, data: bytes) -> bytes:
    lens = np.diff(offsets).astype(np.int32)
    head = delta_bp_encode(
        lens,
        width=32,
        block_size=DELTA_LENGTH_BLOCK,
        miniblock_count=DELTA_LENGTH_MINIBLOCKS,
    )
    return head + data


def delta_length_decode(
    buf: bytes | memoryview, n: int
) -> tuple[np.ndarray, bytes]:
    mv = memoryview(buf).cast("B")
    lens, consumed = delta_bp_decode(mv, width=32)
    if lens.size != n:
        raise ValueError(f"length stream holds {lens.size} values, expected {n}")
    if (lens < 0).any():
        raise ValueError("negative BYTE_ARRAY length")
    total = int(lens.sum())
    if consumed + total > len(mv):
        raise EOFError("there is no byte left")
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens.astype(np.int64), out=offsets[1:])
    return offsets, bytes(mv[consumed : consumed + total])


def delta_length_encoded_size(offsets: np.ndarray, data_len: int) -> int:
    lens = np.diff(offsets).astype(np.int32)
    return (
        delta_bp_encoded_size(
            lens,
            width=32,
            block_size=DELTA_LENGTH_BLOCK,
            miniblock_count=DELTA_LENGTH_MINIBLOCKS,
        )
        + data_len
    )


# -- DELTA_BYTE_ARRAY (front coding) ------------------------------------------

def _common_prefix_lens(offsets: np.ndarray, data: bytes) -> np.ndarray:
    """prefix(previous, current) for each value (first value: 0),
    vectorized via a padded byte matrix."""
    n = offsets.size - 1
    if n == 0:
        return np.zeros(0, dtype=np.int32)
    lens = np.diff(offsets).astype(np.int64)
    if n == 1:
        return np.zeros(1, dtype=np.int32)
    maxlen = int(lens.max())
    if maxlen == 0:
        return np.zeros(n, dtype=np.int32)
    raw = np.frombuffer(data, dtype=np.uint8)
    mat = np.zeros((n, maxlen), dtype=np.uint8)
    col = np.arange(maxlen)
    valid = col < lens[:, None]
    # gather positions: offsets[i] + col where valid
    gather = (offsets[:-1, None] + col)[valid]
    mat[valid] = raw[gather]
    # pairwise compare consecutive rows; a position participates only while
    # both strings are long enough
    both = np.minimum(lens[1:], lens[:-1])
    eq = mat[1:] == mat[:-1]
    # first position where not equal or beyond min length
    stop = (~eq) | (col >= both[:, None])
    has_stop = stop.any(axis=1)
    first_stop = np.where(has_stop, stop.argmax(axis=1), both)
    out = np.zeros(n, dtype=np.int32)
    out[1:] = np.minimum(first_stop, both).astype(np.int32)
    return out


def delta_ba_encode(offsets: np.ndarray, data: bytes) -> bytes:
    prefix_lens = _common_prefix_lens(offsets, data)
    n = offsets.size - 1
    lens = np.diff(offsets).astype(np.int64)
    suffix_lens = lens - prefix_lens
    raw = np.frombuffer(data, dtype=np.uint8)
    # gather suffix bytes
    total = int(suffix_lens.sum())
    if total:
        starts = offsets[:-1] + prefix_lens
        idx = np.repeat(starts, suffix_lens) + _ramp(suffix_lens)
        suffix_data = raw[idx].tobytes()
    else:
        suffix_data = b""
    suffix_offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(suffix_lens, out=suffix_offsets[1:])
    head = delta_bp_encode(
        prefix_lens,
        width=32,
        block_size=DELTA_LENGTH_BLOCK,
        miniblock_count=DELTA_LENGTH_MINIBLOCKS,
    )
    return head + delta_length_encode(suffix_offsets, suffix_data)


def delta_ba_decode(buf: bytes | memoryview, n: int) -> tuple[np.ndarray, bytes]:
    mv = memoryview(buf).cast("B")
    prefix_lens, consumed = delta_bp_decode(mv, width=32)
    if prefix_lens.size != n:
        raise ValueError("prefix stream length mismatch")
    suffix_offsets, suffix_data = delta_length_decode(mv[consumed:], n)
    plens = prefix_lens.astype(np.int64)
    slens = np.diff(suffix_offsets)
    lens = plens + slens
    if n and plens[0]:
        raise ValueError("first value cannot have a prefix")
    if (plens < 0).any():
        raise ValueError("negative prefix length")
    if (plens[1:] > lens[:-1]).any():
        raise ValueError("prefix longer than the previous value")
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    total = int(offsets[-1])
    out = np.empty(total, dtype=np.uint8)
    # Byte t of value i is suffix byte t - plens[i] of value i when
    # t >= plens[i], else byte t of value i - 1 (byte-array.go:315-348).
    # The suffix bytes, in output order, are the suffix stream itself.
    is_suffix = np.repeat(np.tile(np.array([False, True]), n),
                          np.stack((plens, slens), axis=1).ravel())
    out[is_suffix] = np.frombuffer(suffix_data, dtype=np.uint8)
    if not is_suffix.all():
        # A prefix byte at position t copies the latest suffix byte at
        # position t of an earlier value: that value is the latest one at
        # or before it whose prefix length is <= t. Ordered by (t, value),
        # every position's first byte is a suffix byte (a prefix never
        # outruns the previous value), so one running max over suffix
        # ranks finds every source, and one gather copies it.
        idx = np.int32 if total < 2**31 else np.int64
        t = np.arange(total, dtype=idx) - np.repeat(offsets[:-1].astype(idx), lens)
        # stable by t: a radix sort while t fits 16 bits
        t = t.astype(np.min_scalar_type(int(lens.max()) - 1))
        order = np.argsort(t, kind="stable")
        rank = np.arange(total, dtype=idx)
        rank[~is_suffix[order]] = 0
        np.maximum.accumulate(rank, out=rank)
        out[order] = out[order[rank]]
    return offsets, out.tobytes()


def delta_ba_encoded_size(offsets: np.ndarray, data: bytes) -> int:
    prefix_lens = _common_prefix_lens(offsets, data)
    lens = np.diff(offsets).astype(np.int64)
    suffix_lens = lens - prefix_lens
    suffix_offsets = np.zeros(offsets.size, dtype=np.int64)
    np.cumsum(suffix_lens, out=suffix_offsets[1:])
    return (
        delta_bp_encoded_size(
            prefix_lens,
            width=32,
            block_size=DELTA_LENGTH_BLOCK,
            miniblock_count=DELTA_LENGTH_MINIBLOCKS,
        )
        + delta_length_encoded_size(suffix_offsets, int(suffix_lens.sum()))
    )


def _ramp(lens: np.ndarray) -> np.ndarray:
    from .plain import _ramp as ramp

    return ramp(lens)
