"""DELTA-dict pages (north-star: "dictionary (DELTA-dict with fallback)").

The chunk writer sorts the dictionary and the page encoder prices
DELTA_BINARY_PACKED (ints) / DELTA_BYTE_ARRAY (bytes) against PLAIN,
keeping the smaller behind a one-byte tag. These pin: the tag dispatch,
the sorted remap's value fidelity, the fallback for incompressible
dictionaries, and that chunk-level encode/decode + dict-probe pruning
all survive the sorted order.
"""

from __future__ import annotations

import numpy as np
import pytest

from conftest import kept_groups
from pysparkenc.chunk import (
    decode_bytes,
    decode_numeric,
    encode_bytes,
    encode_numeric,
)
from pysparkenc.kernels.dictenc import (
    dict_page_decode_bytes,
    dict_page_decode_numeric,
    dict_page_encode_bytes,
    dict_page_encode_numeric,
    factorize_bytes,
    factorize_numeric,
    sort_dict_bytes,
    sort_dict_numeric,
)

_PLAIN, _DELTA = 0, 1


def _bytes_col(values: list[bytes]) -> tuple[np.ndarray, bytes]:
    off = np.zeros(len(values) + 1, dtype=np.int64)
    np.cumsum([len(v) for v in values], out=off[1:])
    return off, b"".join(values)


def test_numeric_dict_page_delta_beats_plain():
    u = np.arange(500_000, 501_000, dtype=np.int64)  # clustered ids
    page = dict_page_encode_numeric(u, "int64")
    assert page[0] == _DELTA
    assert len(page) < u.size * 8 // 20  # >20x under PLAIN
    assert (dict_page_decode_numeric(page, "int64", u.size) == u).all()


def test_numeric_dict_page_plain_fallback():
    # adversarial spread: full-width deltas — DELTA cannot beat PLAIN
    u = np.sort(
        np.array([(-1) ** i * (2 ** 61 + i) for i in range(8)],
                 dtype=np.int64)
    )
    page = dict_page_encode_numeric(u, "int64")
    assert page[0] == _PLAIN
    assert (dict_page_decode_numeric(page, "int64", u.size) == u).all()


def test_float_dict_page_stays_plain():
    u = np.linspace(0.0, 1.0, 256, dtype=np.float64)
    page = dict_page_encode_numeric(u, "float64")
    assert page[0] == _PLAIN
    assert (dict_page_decode_numeric(page, "float64", u.size) == u).all()


def test_bytes_dict_page_prefix_compression():
    vals = [f"s3://corpus/shard={i//64:03d}/doc-{i:07d}.txt".encode()
            for i in range(1024)]
    off, data = _bytes_col(vals)
    page = dict_page_encode_bytes(off, data)
    assert page[0] == _DELTA
    assert len(page) < (len(data) + 4 * len(vals)) // 5
    o2, d2 = dict_page_decode_bytes(page, len(vals))
    assert (o2 == off).all() and d2 == data


def test_sort_dict_remap_preserves_values():
    rng = np.random.default_rng(11)
    vals = rng.choice(np.array([7, 3, 99, -5, 12], dtype=np.int64), 4000)
    codes, u = factorize_numeric(vals)
    codes2, su = sort_dict_numeric(codes, u)
    assert (np.diff(su) > 0).all()
    assert (su[codes2] == vals).all()

    bvals = [b"zebra", b"apple", b"mango", b""]
    col = [bvals[i % 4] for i in range(1000)]
    off, data = _bytes_col(col)
    c, do, dd = factorize_bytes(off, data)
    c2, so, sd = sort_dict_bytes(c, do, dd)
    got = [bytes(sd[so[k]:so[k + 1]]) for k in c2]
    assert got == col
    dict_vals = [bytes(sd[so[i]:so[i + 1]]) for i in range(so.size - 1)]
    assert dict_vals == sorted(bvals)


def test_chunk_encode_decode_dict_forced():
    rng = np.random.default_rng(5)
    vals = rng.choice(np.arange(10_000, 10_200, dtype=np.int64), 50_000)
    ck = encode_numeric("c", vals, "int64", codec="dict_rle")
    got = decode_numeric(dict(ck.__dict__))
    assert (got == vals).all()

    col = [f"host-{i % 97:04d}.internal".encode() for i in range(30_000)]
    off, data = _bytes_col(col)
    ckb = encode_bytes("s", off, data, codec="dict_rle")
    o2, d2 = decode_bytes(dict(ckb.__dict__))
    assert (o2 == off).all() and d2 == data


def test_truncated_dict_page_raises():
    u = np.arange(100, dtype=np.int64) * 1000
    page = dict_page_encode_numeric(u, "int64")
    assert page[0] == _DELTA
    with pytest.raises(Exception):
        dict_page_decode_numeric(page[:0], "int64", u.size)
    with pytest.raises(Exception):
        dict_page_decode_numeric(page[: len(page) // 2], "int64", u.size)
    with pytest.raises(ValueError):
        dict_page_decode_numeric(b"\x09abc", "int64", 3)


def test_dict_probe_pruning_survives_sorted_dicts(spark):
    """The ``==`` dict-page probe reads tagged pages."""
    from pyspark.sql import functions as F

    from pysparkenc.engine import (
        encode_table,
        scan_table,
        where_pushed,
    )

    df = spark.range(20_000).select(
        (F.col("id") % 50 + 1000).cast("long").alias("k"),
        (F.col("id")).alias("v"),
    )
    chunks = encode_table(df, num_partitions=4)
    absent = where_pushed([("k", "==", 123456)])
    assert kept_groups(chunks, absent) == 0
    assert kept_groups(chunks, where_pushed([("k", "==", 1007)]))
    out = scan_table(chunks, where=[("k", "==", 1007)])
    assert out.where(F.col("k") == 1007).count() == out.count() == 400
