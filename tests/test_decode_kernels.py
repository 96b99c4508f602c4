"""The array decode kernels against scalar reference decoders.

Each reference below decodes one value at a time, straight from the wire
format (RLE/bit-packed hybrid, DELTA_BINARY_PACKED, DELTA_BYTE_ARRAY),
with the error set the kernels document: EOFError on truncation,
ValueError on malformed input. The kernels must agree with them exactly:
on streams the encoders write, on hand-built streams the encoders never
write (multi-byte run headers, short final reads, trailing bytes), and on
mutated or truncated streams, where both sides must raise the same error
type or decode the same values, quickly.
"""

from __future__ import annotations

import time

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pysparkenc.kernels import _bits, delta, rle
from pysparkenc.kernels.bytearray import (
    delta_ba_decode,
    delta_ba_encode,
    delta_length_encode,
)
from pysparkenc.kernels.delta import delta_bp_decode, delta_bp_encode
from pysparkenc.kernels.rle import hybrid_decode

# -- scalar references ----------------------------------------------------------


def ref_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    """Go ``binary.Uvarint``: EOFError when truncated, ValueError past 64
    bits."""
    x = shift = 0
    for i in range(10):
        if pos >= len(buf):
            raise EOFError("truncated uvarint")
        b = buf[pos]
        pos += 1
        if b < 0x80:
            if i == 9 and b > 1:
                raise ValueError("uvarint overflows 64 bits")
            return x | b << shift, pos
        x |= (b & 0x7F) << shift
        shift += 7
    raise ValueError("uvarint overflows 64 bits")


def ref_varint(buf: bytes, pos: int) -> tuple[int, int]:
    ux, pos = ref_uvarint(buf, pos)
    return (ux >> 1) ^ -(ux & 1), pos


def ref_hybrid(buf: bytes, bit_width: int, n: int) -> list[int]:
    if bit_width == 0:
        return [0] * n
    mask = (1 << bit_width) - 1
    nbytes = (bit_width + 7) // 8
    out: list[int] = []
    pos = 0
    while len(out) < n:
        h, pos = ref_uvarint(buf, pos)
        count = h >> 1
        if h & 1:
            if count == 0:
                raise ValueError("empty bit-packed run")
            if pos >= len(buf):
                raise EOFError("truncated bit-packed run")
            # a short final read is zero-filled
            bits = int.from_bytes(buf[pos : pos + count * bit_width], "little")
            take = min(count * 8, n - len(out))
            out += [(bits >> (k * bit_width)) & mask for k in range(take)]
            pos += count * bit_width
        else:
            if count == 0:
                raise ValueError("empty RLE run")
            if pos + nbytes > len(buf):
                raise EOFError("truncated RLE value")
            value = int.from_bytes(buf[pos : pos + nbytes], "little")
            if value > mask:
                raise ValueError("RLE value too wide")
            pos += nbytes
            out += [value] * min(count, n - len(out))
    return out


def ref_delta_bp(buf: bytes, width: int) -> tuple[list[int], int]:
    block_size, pos = ref_uvarint(buf, 0)
    miniblock_count, pos = ref_uvarint(buf, pos)
    if block_size <= 0 or block_size % 128:
        raise ValueError("block size")
    if (miniblock_count <= 0 or block_size % miniblock_count
            or (block_size // miniblock_count) % 32):
        raise ValueError("miniblock count")
    mb_values = block_size // miniblock_count
    n, pos = ref_uvarint(buf, pos)
    first, pos = ref_varint(buf, pos)
    if n == 0:
        return [], pos
    # the count must fit: each block has a min delta and its width bytes
    if -(-(n - 1) // block_size) * (1 + miniblock_count) > len(buf) - pos:
        raise EOFError("value count larger than the stream")
    m = 1 << width
    cur = first % m
    vals = [cur]
    while len(vals) < n:
        min_delta, pos = ref_varint(buf, pos)
        if pos + miniblock_count > len(buf):
            raise EOFError("truncated width list")
        widths = buf[pos : pos + miniblock_count]
        pos += miniblock_count
        if max(widths) > width:
            raise ValueError("bit width too large")
        for w in widths:
            if len(vals) == n:
                break
            nbytes = w * mb_values // 8
            if pos + nbytes > len(buf):
                raise EOFError("truncated miniblock")
            bits = int.from_bytes(buf[pos : pos + nbytes], "little")
            pos += nbytes
            for j in range(mb_values):
                if len(vals) == n:
                    break
                cur = (cur + ((bits >> (j * w)) & ((1 << w) - 1)) + min_delta) % m
                vals.append(cur)
    return [v - m if v >= m // 2 else v for v in vals], pos


def ref_delta_ba(buf: bytes, n: int) -> list[bytes]:
    prefix, consumed = ref_delta_bp(buf, 32)
    if len(prefix) != n:
        raise ValueError("prefix count")
    rest = buf[consumed:]
    lens, consumed = ref_delta_bp(rest, 32)
    if len(lens) != n:
        raise ValueError("length count")
    if any(x < 0 for x in lens):
        raise ValueError("negative length")
    if consumed + sum(lens) > len(rest):
        raise EOFError("truncated suffixes")
    out: list[bytes] = []
    prev = b""
    for pl, ln in zip(prefix, lens):
        if pl < 0 or pl > len(prev):
            raise ValueError("bad prefix length")
        prev = prev[:pl] + rest[consumed : consumed + ln]
        consumed += ln
        out.append(prev)
    return out


def _values(offsets: np.ndarray, data: bytes) -> list[bytes]:
    return [data[a:b] for a, b in zip(offsets[:-1].tolist(), offsets[1:].tolist())]


# -- stream builders ----------------------------------------------------------


def _uvarint(x: int) -> bytes:
    out = bytearray()
    _bits.write_uvarint(out, x)
    return bytes(out)


def build_hybrid(runs, bit_width: int) -> bytes:
    """``runs``: (True, [values of whole 8-value groups]) or (False,
    count, value); any header size, any number of groups."""
    out = bytearray()
    for run in runs:
        if run[0]:
            vals = run[1]
            out += _uvarint((len(vals) // 8) << 1 | 1)
            bits = sum(v << (k * bit_width) for k, v in enumerate(vals))
            out += bits.to_bytes(len(vals) // 8 * bit_width, "little")
        else:
            out += _uvarint(run[1] << 1)
            out += run[2].to_bytes((bit_width + 7) // 8, "little")
    return bytes(out)


@st.composite
def hybrid_streams(draw):
    bit_width = draw(st.integers(0, 32))
    value = st.integers(0, (1 << bit_width) - 1)
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    runs = []
    for _ in range(draw(st.integers(1, 12))):
        if draw(st.booleans()):
            groups = draw(st.sampled_from([1, 2, 7, 63, 64, 130]))
            if draw(st.booleans()):
                vals = rng.integers(0, 1 << bit_width, 8 * groups).tolist()
            else:
                vals = [draw(value)] * (8 * groups)
            runs.append((True, vals))
        else:
            runs.append((False, draw(st.sampled_from([1, 3, 8, 63, 64, 300, 20000])),
                         draw(value)))
    buf = build_hybrid(runs, bit_width)
    total = sum(len(r[1]) if r[0] else r[1] for r in runs)
    n = total - draw(st.integers(0, 7 if runs[-1][0] else 0))
    if runs[-1][0] and bit_width and draw(st.booleans()):
        # short final read: drop some (not all) of the last payload bytes
        last = len(runs[-1][1]) // 8 * bit_width
        buf = buf[: len(buf) - draw(st.integers(1, last - 1))] if last > 1 else buf
    if draw(st.booleans()):
        buf += bytes(draw(st.lists(st.integers(0, 255), max_size=5)))
    return buf, bit_width, n


DELTA_SHAPES = [(128, 1), (128, 2), (128, 4), (256, 1), (256, 2), (256, 4),
                (256, 8), (512, 1), (512, 2), (512, 4), (512, 8)]


@st.composite
def delta_streams(draw):
    width = draw(st.sampled_from([32, 64]))
    block_size, miniblock_count = draw(st.sampled_from(DELTA_SHAPES))
    lo, hi = -(1 << (width - 1)), (1 << (width - 1)) - 1
    n = draw(st.integers(0, 1300))
    kind = draw(st.sampled_from(["random", "sorted", "small", "wide_jumps"]))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    dtype = np.int32 if width == 32 else np.int64
    if kind == "random":
        vals = rng.integers(lo, hi, size=n, dtype=np.int64, endpoint=True)
    elif kind == "sorted":
        vals = np.sort(rng.integers(lo, hi, size=n, dtype=np.int64, endpoint=True))
    elif kind == "small":
        vals = np.cumsum(rng.integers(-3, 40, size=n))
    else:
        # every delta above MaxInt32: the int64 encoder's min-delta quirk
        vals = (np.arange(n, dtype=np.int64) * (1 << 33)
                + rng.integers(0, 1 << 31, size=n))
    vals = vals.astype(dtype)
    buf = delta_bp_encode(vals, width=width, block_size=block_size,
                          miniblock_count=miniblock_count)
    tail = bytes(draw(st.lists(st.integers(0, 255), max_size=4)))
    return buf + tail, width, vals


@st.composite
def byte_strings(draw):
    alphabet = draw(st.sampled_from([b"ab", b"abcxyz0123", bytes(range(256))]))
    word = st.lists(st.sampled_from(list(alphabet)), max_size=30).map(bytes)
    vals = draw(st.lists(word, min_size=1, max_size=300))
    if draw(st.booleans()):
        vals.sort()
    return vals


# -- (a) differential tests ---------------------------------------------------


@settings(max_examples=150, deadline=None)
@given(hybrid_streams())
def test_hybrid_matches_scalar_reference(stream):
    buf, bit_width, n = stream
    got = hybrid_decode(buf, bit_width, n)
    assert got.dtype == np.uint32 and got.size == n
    assert got.tolist() == ref_hybrid(buf, bit_width, n)


@settings(max_examples=120, deadline=None)
@given(delta_streams())
def test_delta_bp_matches_scalar_reference(stream):
    buf, width, vals = stream
    got, consumed = delta_bp_decode(buf, width=width)
    want, want_consumed = ref_delta_bp(buf, width)
    assert got.tolist() == want == vals.tolist()
    assert consumed == want_consumed


@settings(max_examples=120, deadline=None)
@given(byte_strings())
def test_delta_ba_matches_scalar_reference(vals):
    offsets = np.zeros(len(vals) + 1, dtype=np.int64)
    np.cumsum([len(v) for v in vals], out=offsets[1:])
    buf = delta_ba_encode(offsets, b"".join(vals))
    got_off, got_data = delta_ba_decode(buf, len(vals))
    assert _values(got_off, got_data) == ref_delta_ba(buf, len(vals)) == vals


@pytest.mark.parametrize("bit_width", range(0, 33))
def test_hybrid_every_width_mixed_runs(bit_width):
    rng = np.random.default_rng(bit_width)
    top = (1 << bit_width) - 1
    runs = [(True, rng.integers(0, top, 8 * 70, endpoint=True).tolist()),
            (False, 200, top), (True, [top] * 8), (False, 1, top // 2),
            (True, rng.integers(0, top, 16, endpoint=True).tolist())]
    buf = build_hybrid(runs, bit_width)
    n = 8 * 70 + 200 + 8 + 1 + 13
    assert hybrid_decode(buf, bit_width, n).tolist() == ref_hybrid(buf, bit_width, n)
    # short final read
    if bit_width:
        short = buf[:-1]
        got = hybrid_decode(short, bit_width, n)
        assert got.tolist() == ref_hybrid(short, bit_width, n)


# -- (b) mutation fuzz ------------------------------------------------------------


def _outcome(fn, *args):
    t0 = time.perf_counter()
    try:
        res = ("ok", fn(*args))
    except (ValueError, EOFError) as exc:
        res = ("raise", type(exc))
    return res, time.perf_counter() - t0


def _mutants(buf: bytes, rng: np.random.Generator, count: int):
    for _ in range(count):
        b = bytearray(buf)
        op = rng.integers(0, 4)
        if op == 0 and b:  # truncate
            b = b[: rng.integers(0, len(b))]
        elif op == 1 and b:  # overwrite bytes
            for _ in range(rng.integers(1, 4)):
                b[rng.integers(0, len(b))] = rng.integers(0, 256)
        elif op == 2:  # insert a byte
            b.insert(int(rng.integers(0, len(b) + 1)), int(rng.integers(0, 256)))
        elif b:  # delete a byte
            del b[rng.integers(0, len(b))]
        yield bytes(b)


TIME_BOUND_S = 2.0


def test_mutated_hybrid_streams_match_reference():
    rng = np.random.default_rng(7)
    for bit_width in (1, 3, 8, 13, 16, 32):
        vals = rng.integers(0, 1 << bit_width, 700)
        vals[100:400] = vals[100]
        buf = rle.hybrid_encode(vals, bit_width)
        for m in _mutants(buf, rng, 120):
            (kind, got), secs = _outcome(hybrid_decode, m, bit_width, vals.size)
            assert secs < TIME_BOUND_S
            want, _ = _outcome(ref_hybrid, m, bit_width, vals.size)
            if kind == "ok":
                assert got.size == vals.size
                assert want[0] == "ok" and got.tolist() == want[1]
            else:
                assert want == (kind, got)


def test_mutated_delta_streams_match_reference():
    rng = np.random.default_rng(8)
    for width in (32, 64):
        for vals in (np.cumsum(rng.integers(-5, 300, 900)),
                     rng.integers(-(1 << 30), 1 << 30, 300)):
            buf = delta_bp_encode(vals, width=width)
            for m in _mutants(buf, rng, 150):
                (kind, got), secs = _outcome(
                    lambda b: delta_bp_decode(b, width=width), m)
                assert secs < TIME_BOUND_S
                want, _ = _outcome(ref_delta_bp, m, width)
                if kind == "ok":
                    assert want[0] == "ok"
                    assert got[0].tolist() == want[1][0] and got[1] == want[1][1]
                else:
                    assert want == (kind, got)


def test_mutated_delta_ba_streams_match_reference():
    rng = np.random.default_rng(9)
    vals = sorted(f"doc-{int(x):08d}".encode() for x in rng.integers(0, 10**6, 400))
    offsets = np.zeros(len(vals) + 1, dtype=np.int64)
    np.cumsum([len(v) for v in vals], out=offsets[1:])
    buf = delta_ba_encode(offsets, b"".join(vals))
    for m in _mutants(buf, rng, 300):
        (kind, got), secs = _outcome(delta_ba_decode, m, len(vals))
        assert secs < TIME_BOUND_S
        want, _ = _outcome(ref_delta_ba, m, len(vals))
        if kind == "ok":
            assert got[0].size == len(vals) + 1
            assert want[0] == "ok" and _values(*got) == want[1]
        else:
            assert want == (kind, got)


# -- malformed inputs the kernels must refuse -------------------------------


def _front_coded(prefix_lens: list[int], suffixes: list[bytes]) -> bytes:
    offsets = np.zeros(len(suffixes) + 1, dtype=np.int64)
    np.cumsum([len(s) for s in suffixes], out=offsets[1:])
    return (delta_bp_encode(np.array(prefix_lens, dtype=np.int32), width=32)
            + delta_length_encode(offsets, b"".join(suffixes)))


@pytest.mark.parametrize("prefix_lens", [[0, 5], [0, -1]])
def test_delta_ba_rejects_impossible_prefix_lengths(prefix_lens):
    # [0, 5]: longer than the previous value (would invent zero bytes);
    # [0, -1]: negative (would overwrite the previous value)
    buf = _front_coded(prefix_lens, [b"ab", b"Z"])
    with pytest.raises(ValueError):
        delta_ba_decode(buf, 2)
    with pytest.raises(ValueError):
        ref_delta_ba(buf, 2)


def test_delta_ba_rejects_prefix_on_first_value():
    with pytest.raises(ValueError):
        delta_ba_decode(_front_coded([1, 0], [b"ab", b"Z"]), 2)


def test_delta_bp_refuses_forged_count_before_allocating():
    buf = bytearray()
    for x in (128, 4, 2**33):
        _bits.write_uvarint(buf, x)
    _bits.write_varint(buf, 0)
    buf += bytes(5)
    t0 = time.perf_counter()
    with pytest.raises(EOFError):
        delta_bp_decode(bytes(buf), width=64)
    assert time.perf_counter() - t0 < 1.0


# -- (c) structural guard: no per-run or per-block varint calls -----------------


def _count_varint_calls(monkeypatch) -> dict[str, int]:
    """Wrap every kernel module's read_uvarint / read_varint binding."""
    import sys

    calls = {"read_uvarint": 0, "read_varint": 0}
    for name in calls:
        orig = getattr(_bits, name)

        def counting(*args, _orig=orig, _name=name):
            calls[_name] += 1
            return _orig(*args)

        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("pysparkenc") and getattr(mod, name, None) is orig:
                monkeypatch.setattr(mod, name, counting)
    return calls


def test_hybrid_walk_makes_no_varint_calls(monkeypatch):
    rng = np.random.default_rng(3)
    runs = []
    for _ in range(600):
        runs.append((True, rng.integers(0, 1 << 13, 16).tolist()))
        runs.append((False, int(rng.integers(1, 200)), int(rng.integers(0, 1 << 13))))
    buf = build_hybrid(runs, 13)
    n = sum(len(r[1]) if r[0] else r[1] for r in runs)
    calls = _count_varint_calls(monkeypatch)
    unpacks = []
    orig_unpack = rle.unpack_const_width
    monkeypatch.setattr(rle, "unpack_const_width",
                        lambda *a: unpacks.append(1) or orig_unpack(*a))
    assert len(runs) >= 1000
    assert hybrid_decode(buf, 13, n).tolist() == ref_hybrid(buf, 13, n)
    assert calls == {"read_uvarint": 0, "read_varint": 0}
    assert len(unpacks) == 1  # one unpack for every bit-packed run


def test_delta_walk_reads_only_the_stream_header(monkeypatch):
    rng = np.random.default_rng(4)
    counts = []
    for n in (129, 300 * 128 + 1):
        vals = np.cumsum(rng.integers(0, 1 << 12, n)).astype(np.int64)
        buf = delta_bp_encode(vals, width=64)
        calls = _count_varint_calls(monkeypatch)
        assert delta.delta_bp_decode(buf, width=64)[0].tolist() == vals.tolist()
        counts.append(dict(calls))
        monkeypatch.undo()
    # block size, miniblock count, value count, first value: whatever the
    # number of blocks (300 here)
    assert counts[0] == counts[1]
    assert counts[1]["read_uvarint"] + counts[1]["read_varint"] <= 5
