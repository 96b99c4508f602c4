"""Low-level bit/varint primitives shared by every codec kernel.

These replace the reference's ~4600 lines of generated straight-line Go
pack/unpack functions (``/root/reference/encoding/bitpacking32.go``,
``bitpacking64.go``, generator ``bitpack-gen.go:138-164``) with vectorized
numpy expressions over the whole value stream at once. Packing expands the
values to a little-endian bit matrix and moves it through ``np.packbits``
with ``bitorder="little"``, which is exactly the Parquet bit-packed layout
(value 0's least-significant bit occupies the lowest bit of the first byte —
verified against the golden vector in
``/root/reference/encoding/hybrid-encoder_test.go:126``). Unpacking reads
each of the 8 value lanes of a packed group as one shifted, masked column of
little-endian words, with no bit matrix.

No Spark imports here: kernels are unit-testable in isolation.
"""

from __future__ import annotations

import numpy as np

_M64 = (1 << 64) - 1


# ---------------------------------------------------------------------------
# varint / zigzag (Go encoding/binary compatible:
# /root/reference/encoding/helpers.go:83-95)
# ---------------------------------------------------------------------------

def write_uvarint(out: bytearray, x: int) -> None:
    """Append the unsigned LEB128 varint of ``x`` (Go binary.PutUvarint)."""
    if x < 0:
        raise ValueError("uvarint of negative value")
    while True:
        b = x & 0x7F
        x >>= 7
        if x:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def write_varint(out: bytearray, x: int) -> None:
    """Append the zigzag varint of signed ``x`` (Go binary.PutVarint)."""
    ux = (x << 1) & _M64
    if x < 0:
        ux ^= _M64
    write_uvarint(out, ux)


def read_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    """Read an unsigned varint at ``pos``; returns (value, new_pos).

    Raises EOFError on truncation and ValueError past 64 bits (mirrors the
    reference decoder's EOF and overflow errors from ``binary.ReadUvarint``).
    """
    result = 0
    shift = 0
    n = len(buf)
    while True:
        if pos >= n:
            raise EOFError("truncated uvarint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            if shift == 63 and b > 1:
                raise ValueError("uvarint overflows 64 bits")
            return result, pos
        shift += 7
        if shift > 63:
            raise ValueError("uvarint overflows 64 bits")


def read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """Read a zigzag varint; returns (signed value, new_pos)."""
    ux, pos = read_uvarint(buf, pos)
    v = ux >> 1
    if ux & 1:
        v = ~v
    return v, pos


def zigzag64(x: int) -> int:
    ux = (x << 1) & _M64
    if x < 0:
        ux ^= _M64
    return ux


# ---------------------------------------------------------------------------
# variable-width bit packing (the E5 kernel of SURVEY.md §2.1)
# ---------------------------------------------------------------------------

def pack_varwidth(values: np.ndarray, widths: np.ndarray) -> bytes:
    """Bit-pack ``values[i]`` into ``widths[i]`` little-endian bits each.

    ``values`` is interpreted unsigned (cast to uint64); callers are
    responsible for total bit count alignment (all codec layouts emit whole
    bytes by construction: 8-value groups at constant width).  Trailing
    partial bytes are zero-padded by ``np.packbits``.
    """
    values = np.ascontiguousarray(values).astype(np.uint64, copy=False)
    widths = np.asarray(widths, dtype=np.int64)
    if values.size == 0:
        return b""
    maxw = int(widths.max())
    if maxw == 0:
        return b""
    if maxw > 64:
        raise ValueError(f"bit width {maxw} > 64")
    shifts = np.arange(maxw, dtype=np.uint64)
    bits = ((values[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
    mask = shifts.astype(np.int64) < widths[:, None]
    stream = bits[mask]
    return np.packbits(stream, bitorder="little").tobytes()


def pack_const_width(values: np.ndarray, bit_width: int) -> bytes:
    """Pack at one constant width; input length must be a multiple of 8
    (callers pad to whole 8-value groups, matching the reference's
    group-of-8 layout)."""
    if bit_width == 0 or values.size == 0:
        return b""
    if values.size % 8:
        raise ValueError("pack_const_width requires multiple-of-8 input")
    vals = np.ascontiguousarray(values).astype("<u8", copy=False)
    if bit_width % 8 == 0:
        # byte-aligned widths: the packed stream IS the low bytes of each
        # value back-to-back — no bit shuffling at all (the dropped high
        # bytes are provably zero for valid input)
        nb = bit_width // 8
        return np.ascontiguousarray(
            vals.view(np.uint8).reshape(-1, 8)[:, :nb]
        ).tobytes()
    if bit_width in (1, 2, 4):
        # sub-byte divisors: k values per output byte via k-1 shift-ORs
        k = 8 // bit_width
        grp = vals.reshape(-1, k)
        acc = grp[:, 0].copy()
        for j in range(1, k):
            acc |= grp[:, j] << np.uint64(j * bit_width)
        return acc.astype(np.uint8).tobytes()
    # general path: uint64 -> (n, 8) LE
    # bytes -> per-row unpackbits -> keep bit_width bits -> one packbits
    # pass. Only the ceil(bit_width/8) low bytes can carry set bits for
    # valid input, so the unpack touches those alone — at width <= 8 that
    # is 8x less bit-matrix traffic than unpacking the full 8-byte rows
    # (identical output bytes: the dropped bits are provably zero).
    nb = (bit_width + 7) // 8
    rows = vals.view(np.uint8).reshape(-1, 8)[:, :nb]
    bits = np.unpackbits(
        np.ascontiguousarray(rows), axis=1, bitorder="little"
    )[:, :bit_width]
    return np.packbits(bits.ravel(), bitorder="little").tobytes()


def _lane_dtype(bit_width: int) -> np.dtype:
    """Narrowest unsigned little-endian lane that holds ``bit_width`` bits."""
    for nbytes in (1, 2, 4, 8):
        if bit_width <= 8 * nbytes:
            return np.dtype(f"<u{nbytes}")
    raise ValueError(f"bit width {bit_width} > 64")


def unpack_const_width(buf: bytes | memoryview, bit_width: int, n: int) -> np.ndarray:
    """Inverse of :func:`pack_const_width`: ``n`` values of ``bit_width``
    bits, in the narrowest unsigned lane that holds them (``<u1`` up to
    width 8, ``<u2`` to 16, ``<u4`` to 32, ``<u8`` to 64).

    Widths 8/16/32/64 are a zero-copy view of ``buf``. Every other width
    is decoded lane by lane: 8 values at width w fill exactly w bytes, so
    the payload is a ``(groups, w)`` byte matrix, and value j of every
    group starts at the same byte column and bit offset. Lane j is one
    strided read of the little-endian word holding its bits, shifted
    and masked (widths 58-63 OR in a ninth byte). That is 8 column
    operations whatever ``n`` is, and no bit matrix.

    Raises EOFError if ``buf`` holds fewer than ``n * bit_width`` bits.
    """
    lane = _lane_dtype(max(bit_width, 1))
    if bit_width == 0 or n == 0:
        return np.zeros(n, dtype=lane)
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size * 8 < n * bit_width:
        raise EOFError("truncated bit-packed payload")
    if bit_width == 8 * lane.itemsize:
        return raw[: n * lane.itemsize].view(lane)
    groups = (n + 7) // 8
    need = groups * bit_width
    if raw.size < need + 8:
        # room for an 8-byte word read at the last group's last lane; the
        # bytes past n * bit_width are padding and masked off
        padded = np.zeros(need + 8, dtype=np.uint8)
        padded[: min(raw.size, need)] = raw[:need]
        raw = padded
    out = np.empty((groups, 8), dtype=lane)
    mask = (1 << bit_width) - 1
    for j in range(8):
        k0, shift = divmod(j * bit_width, 8)
        touched = (shift + bit_width + 7) // 8
        win = _window(raw, k0, bit_width, groups, min(touched, 8))
        acc = win >> win.dtype.type(shift)
        if touched > 8:  # widths 58-63: a ninth byte holds the top bits
            top = raw[k0 + 8 :: bit_width][:groups].astype(np.uint64)
            acc |= top << np.uint64(64 - shift)
        out[:, j] = acc & win.dtype.type(mask)
    return out.ravel()[:n]


def _window(
    raw: np.ndarray, k0: int, bit_width: int, groups: int, nbytes: int
) -> np.ndarray:
    """Strided view of the ``(groups, bit_width)`` byte matrix ``raw``:
    for each group, the ``nbytes`` bytes from column ``k0`` read as one
    little-endian unsigned word, rounded up to 1, 2, 4 or 8 bytes (the
    caller masks off the bytes that belong to the next lanes)."""
    dt = _lane_dtype(8 * nbytes)
    return np.ndarray(shape=(groups,), dtype=dt, buffer=raw, offset=k0,
                      strides=(bit_width,))


def bit_length_u32(arr: np.ndarray) -> np.ndarray:
    """Vectorized bits.Len32 over a uint32 array."""
    arr = arr.astype(np.uint32, copy=False)
    out = np.zeros(arr.shape, dtype=np.int64)
    nz = arr > 0
    # log2 on float64 is exact for 32-bit ints
    out[nz] = np.floor(np.log2(arr[nz].astype(np.float64))).astype(np.int64) + 1
    return out


def bit_length_u64(arr: np.ndarray) -> np.ndarray:
    """Vectorized bits.Len64 over a uint64 array (exact, avoids float
    rounding by checking the neighborhood)."""
    arr = arr.astype(np.uint64, copy=False)
    out = np.zeros(arr.shape, dtype=np.int64)
    nz = arr > 0
    if nz.any():
        v = arr[nz]
        # float64 log2 can be off by one for values near 2^k with k>52;
        # compute candidate then correct.
        cand = np.floor(np.log2(v.astype(np.float64))).astype(np.int64) + 1
        cand = np.clip(cand, 1, 64)
        # correct down: value < 2^(cand-1) means cand too big
        too_big = v < (np.uint64(1) << np.minimum(cand - 1, 63).astype(np.uint64))
        cand[too_big] -= 1
        # correct up: value >= 2^cand means cand too small (cand<64)
        lt64 = cand < 64
        up = np.zeros_like(too_big)
        up[lt64] = v[lt64] >= (np.uint64(1) << cand[lt64].astype(np.uint64))
        cand[up] += 1
        out[nz] = cand
    return out
