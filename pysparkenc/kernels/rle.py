"""RLE / bit-packed hybrid codec (Parquet encoding ``RLE``, enum 3).

Byte-identical re-implementation of the reference's greedy encoder
(``/root/reference/encoding/hybrid-encoder.go:17-237``) validated against its
golden vectors (``hybrid-encoder_test.go``), but vectorized: instead of the
reference's value-at-a-time state machine we

1. segment the stream into maximal runs with ``np.diff`` (one pass),
2. replay the greedy rule *only over runs of length >= 8* (the only places
   an RLE decision can occur — the 8-value buffer means a repeat count can
   only reach the ``rleThreshold=8`` when the buffer fill is 0 mod 8), and
3. bit-pack everything that stays in bit-packed runs with one vectorized
   ``pack_varwidth`` call over the concatenated survivors.

Greedy semantics reproduced exactly (hybrid-encoder.go:88-124,136-155):
- a value repeated >= 8 times becomes an RLE run ``<uvarint count<<1><value
  in ceil(bw/8) LE bytes>``; the repeat counter resets whenever a full
  8-value group is bit-packed (``:170``), so runs are only RLE-eligible from
  a group boundary;
- bit-packed runs hold whole 8-value groups, at most 63 groups (504 values)
  per header ``<uvarint (groups<<1)|1>`` (``:33-41``);
- the final partial group is zero-padded (``:141-149``).

Known divergence (deliberate): the reference never clears ``packBuffer``
after flushing a bit-packed run (``hybrid-encoder.go:177-194``), so its
output is corrupt whenever a single bit-packed run exceeds 504 values — its
own test only validates the first 504 values
(``hybrid-encoder_test.go:161``). We clear the buffer (parquet-mr
semantics), which keeps every golden vector byte-identical *and* makes
>504-value streams round-trip.

Decoder mirrors ``/root/reference/encoding/hybrid-decoder.go:13-187``
including its error set: empty runs rejected (``:120-131``), RLE value wider
than the declared bit width rejected (``:165-167``), truncation rejected.
"""

from __future__ import annotations

import struct

import numpy as np

from ._bits import (
    pack_const_width,
    unpack_const_width,
    write_uvarint,
)

RLE_THRESHOLD = 8
MAX_GROUPS_PER_RUN = 63  # (2^6 - 1) groups => 504 values per 1-byte header


def _rle_value_bytes(value: int, bit_width: int) -> bytes:
    nbytes = (bit_width + 7) // 8
    if nbytes == 0:
        return b""
    return int(value).to_bytes(nbytes, "little", signed=False)


def hybrid_encode(
    values: np.ndarray, bit_width: int, *, assume_fits: bool = False
) -> bytes:
    """Encode int array (values must fit ``bit_width`` unsigned bits).

    ``assume_fits=True`` skips the min/max range validation — for
    callers whose values fit by construction (dictionary codes are in
    ``[0, n_unique)`` with the width sized from ``n_unique``), the two
    full-array reductions are pure overhead in the encode hot path."""
    if bit_width < 0 or bit_width > 32:
        raise ValueError(f"invalid bit width {bit_width}")
    values = np.ascontiguousarray(values)
    n = values.size
    if n == 0:
        return b""
    uvals = values
    if not assume_fits:
        lo, hi = int(uvals.min()), int(uvals.max())
        if lo < 0 or (bit_width < 64 and hi >> bit_width):
            raise ValueError("value does not fit declared bit width")

    # --- run segmentation ---------------------------------------------------
    change = np.flatnonzero(np.diff(uvals) != 0)
    run_starts = np.concatenate(([0], change + 1))
    run_ends = np.concatenate((change + 1, [n]))
    run_lens = run_ends - run_starts

    # --- greedy replay over RLE-eligible runs only ---------------------------
    # events: (packed_pos, count, value) — an RLE run emitted after
    # `packed_pos` values of the surviving bit-packed stream.
    events: list[tuple[int, int, int]] = []
    removed_intervals: list[tuple[int, int]] = []
    removed = 0
    long_idx = np.flatnonzero(run_lens >= RLE_THRESHOLD)
    for j in long_idx:
        s = int(run_starts[j])
        L = int(run_lens[j])
        v = int(uvals[s])
        packed_before = s - removed
        b0 = packed_before % 8
        if b0 == 0:
            # buffer empty at run start: count reaches 8 -> whole run is RLE
            events.append((packed_before, L, v))
            removed_intervals.append((s, s + L))
            removed += L
        else:
            c = 8 - b0  # values consumed filling the current group
            rem = L - c
            if rem >= RLE_THRESHOLD:
                events.append((packed_before + c, rem, v))
                removed_intervals.append((s + c, s + L))
                removed += rem
            # else: the whole run stays bit-packed

    # --- surviving values, zero-padded to whole groups ------------------------
    if removed:
        keep = np.ones(n, dtype=bool)
        for a, b in removed_intervals:
            keep[a:b] = False
        packed_vals = uvals[keep]
    else:
        packed_vals = uvals
    npacked = packed_vals.size
    pad = (-npacked) % 8
    if pad:
        packed_vals = np.concatenate(
            (packed_vals, np.zeros(pad, dtype=packed_vals.dtype))
        )
    total_groups = packed_vals.size // 8
    payload = pack_const_width(packed_vals.astype(np.uint64), bit_width)
    gbytes = bit_width  # bytes per 8-value group

    # --- assemble: bit-packed runs (<=63 groups) interleaved with RLE events --
    out = bytearray()

    def emit_groups(g0: int, g1: int) -> None:
        g = g0
        while g < g1:
            take = min(MAX_GROUPS_PER_RUN, g1 - g)
            write_uvarint(out, (take << 1) | 1)
            out.extend(payload[g * gbytes : (g + take) * gbytes])
            g += take

    cursor = 0
    for pos, cnt, val in events:
        gs = pos // 8
        emit_groups(cursor, gs)
        cursor = gs
        write_uvarint(out, cnt << 1)
        out += _rle_value_bytes(val, bit_width)
    emit_groups(cursor, total_groups)
    return bytes(out)


def hybrid_decode(buf: bytes | memoryview, bit_width: int, n: int) -> np.ndarray:
    """Decode ``n`` values; returns uint32 array.

    bit_width 0 means "infinite zeros" (hybrid-decoder.go:73-75).

    One tight loop walks the run headers with the varint parse inlined:
    per run it does integer arithmetic and two list stores, and makes no
    call. Everything that touches values is then a fixed number of array
    operations for the whole stream: one gather of every bit-packed
    payload byte, one :func:`unpack_const_width`, one gather of the RLE
    values, and one fill of the output.
    """
    if bit_width < 0 or bit_width > 32:
        raise ValueError(f"invalid bit width {bit_width}")
    if bit_width == 0:
        return np.zeros(n, dtype=np.uint32)
    mv = memoryview(buf).cast("B")
    size = len(mv)
    rle_nbytes = (bit_width + 7) // 8
    # an RLE value fits the width iff its top byte does
    top = rle_nbytes - 1
    top_limit = ((1 << bit_width) - 1) >> (8 * top)

    # per run: payload (or RLE value) position and header
    cap = 256
    run_pos, run_hdr = [0] * cap, [0] * cap
    r = pos = got = 0
    while got < n:
        if r == cap:
            run_pos += [0] * cap
            run_hdr += [0] * cap
            cap *= 2
        if pos >= size:
            raise EOFError("truncated uvarint")
        h = mv[pos]
        pos += 1
        if h > 0x7F:  # multi-byte header, as _bits.read_uvarint
            h &= 0x7F
            shift = 7
            while True:
                if pos >= size:
                    raise EOFError("truncated uvarint")
                b = mv[pos]
                pos += 1
                h |= (b & 0x7F) << shift
                if b < 0x80:
                    break
                shift += 7
                if shift > 63:
                    raise ValueError("uvarint overflows 64 bits")
            if shift == 63 and b > 1:
                raise ValueError("uvarint overflows 64 bits")
        run_pos[r] = pos
        run_hdr[r] = h
        r += 1
        if h & 1:
            if h == 1:
                raise ValueError("rle: empty bit-packed run")
            if pos >= size:
                raise EOFError("truncated bit-packed run")
            pos += (h >> 1) * bit_width
            got += (h >> 1) << 3
        else:
            if h == 0:
                raise ValueError("rle: empty RLE run")
            if pos + rle_nbytes > size:
                raise EOFError("truncated RLE run value")
            if mv[pos + top] > top_limit:
                raise ValueError("rle: RLE run value is too large")
            pos += rle_nbytes
            got += h >> 1
    if r == 0:
        return np.zeros(0, dtype=np.uint32)

    # only the last run may reach past n (its header even past int64):
    # trim it to the groups / values that land in the output
    h = run_hdr[r - 1]
    last = n - (got - ((h >> 1) << 3 if h & 1 else h >> 1))
    run_hdr[r - 1] = min(h, (((last + 7) >> 3) << 1) | 1 if h & 1 else last << 1)
    hdr = np.array(run_hdr[:r], dtype=np.int64)
    at = np.array(run_pos[:r], dtype=np.int64)
    packed = (hdr & 1).astype(bool)
    per_run = np.where(packed, (hdr >> 1) << 3, hdr >> 1)
    per_run[-1] = last
    raw = np.frombuffer(mv, dtype=np.uint8)
    any_packed = packed.any()

    if any_packed:
        # every bit-packed payload byte in stream order, selected by a
        # mask of alternating (gap, payload) spans; the reference
        # zero-fills a short final read (Go Read partial-fill into a
        # zeroed buffer, hybrid-decoder.go:138-149 — exercised by
        # hybrid-decoder_test.go:11-35)
        p0 = at[packed]
        groups = hdr[packed] >> 1
        p1 = np.minimum(p0 + groups * bit_width, size)
        spans = np.stack((p0 - np.concatenate(([0], p1[:-1])), p1 - p0), axis=1)
        in_payload = np.repeat(
            np.tile(np.array([False, True]), p0.size), spans.ravel())
        payload = raw[: in_payload.size][in_payload]
        ngroups = int(groups.sum())
        if payload.size < ngroups * bit_width:
            payload = np.concatenate(
                (payload, np.zeros(ngroups * bit_width - payload.size, np.uint8)))
        vals = unpack_const_width(payload, bit_width, ngroups * 8)
        if packed.all():
            return vals[:n].astype(np.uint32)

    # RLE values: rle_nbytes little-endian bytes after each header; the
    # bit-packed runs' slots are then overwritten in one masked store
    q = at[~packed]
    value = np.zeros(r, dtype=np.uint32)
    rle_value = raw[q].astype(np.uint32)
    for k in range(1, rle_nbytes):
        rle_value |= raw[q + k].astype(np.uint32) << np.uint32(8 * k)
    value[~packed] = rle_value
    out = np.repeat(value, per_run)
    if any_packed:
        out[np.repeat(packed, per_run)] = vals[: int(per_run[packed].sum())]
    return out


def hybrid_encode_with_size(values: np.ndarray, bit_width: int) -> bytes:
    """4-byte LE length prefix + hybrid stream (the ``InitSize`` framing,
    hybrid-decoder.go:57-68; used by boolean RLE and level streams)."""
    body = hybrid_encode(values, bit_width)
    return struct.pack("<I", len(body)) + body


def hybrid_decode_with_size(
    buf: bytes | memoryview, bit_width: int, n: int
) -> tuple[np.ndarray, int]:
    """Decode a length-prefixed hybrid stream; returns (values, bytes_read)."""
    if bit_width == 0:
        return np.zeros(n, dtype=np.uint32), 0
    mv = memoryview(buf).cast("B")
    if len(mv) < 4:
        raise EOFError("truncated size prefix")
    (size,) = struct.unpack_from("<I", mv, 0)
    if 4 + size > len(mv):
        raise EOFError("truncated sized hybrid stream")
    return hybrid_decode(mv[4 : 4 + size], bit_width, n), 4 + size


def hybrid_encoded_size(values: np.ndarray, bit_width: int) -> int:
    """Exact encoded size in bytes without materializing the buffer.

    Used by the codec auto-selector (SURVEY.md §7.3) — replays the same
    run-level greedy rule arithmetic.
    """
    n = values.size
    if n == 0 or bit_width == 0:
        # bw=0 still writes RLE headers; approximate cheaply
        pass
    uvals = np.ascontiguousarray(values).astype(np.int64, copy=False)
    if n == 0:
        return 0
    change = np.flatnonzero(np.diff(uvals) != 0)
    run_starts = np.concatenate(([0], change + 1))
    run_ends = np.concatenate((change + 1, [n]))
    run_lens = run_ends - run_starts

    def uvarint_len(x: int) -> int:
        return max(1, (x.bit_length() + 6) // 7)

    rle_nbytes = (bit_width + 7) // 8
    size = 0
    removed = 0
    events = 0
    event_positions: list[int] = []
    for j in np.flatnonzero(run_lens >= RLE_THRESHOLD):
        s = int(run_starts[j])
        L = int(run_lens[j])
        packed_before = s - removed
        b0 = packed_before % 8
        if b0 == 0:
            size += uvarint_len(L << 1) + rle_nbytes
            removed += L
            event_positions.append(packed_before)
            events += 1
        else:
            c = 8 - b0
            rem = L - c
            if rem >= RLE_THRESHOLD:
                size += uvarint_len(rem << 1) + rle_nbytes
                removed += rem
                event_positions.append(packed_before + c)
                events += 1
    npacked = n - removed
    total_groups = (npacked + 7) // 8
    # headers: between consecutive event positions, groups split into <=63 runs
    cursor = 0
    for pos in event_positions + [total_groups * 8]:
        gs = pos // 8
        span = gs - cursor
        if span > 0:
            nruns = (span + MAX_GROUPS_PER_RUN - 1) // MAX_GROUPS_PER_RUN
            size += nruns  # 1-byte headers (<=127)
        cursor = gs
    size += total_groups * bit_width
    return size
