"""Split-block bloom filters (kernels/bloom.py): the SBBF block layout
of the parquet spec (whose thrift the reference carries at
parquet/parquet.go:4953-5024 without ever building one), used for
equality/IN chunk pruning where min/max stats and dict pages can't help.
The contract under test: NO false negatives ever; false positives only
cost decode work; a probe whose domain can't be proven to match the
hashed domain must ignore the bloom rather than risk dropping rows."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from conftest import kept_groups
from pysparkenc.engine import (
    encode_table,
    scan_table,
    where_pushed,
)
from pysparkenc.kernels.bloom import (
    bloom_build,
    bloom_check,
    hash_bytes,
    hash_numeric,
    nblocks_for,
)


def _offsets(vals: list[bytes]) -> tuple[np.ndarray, bytes]:
    lens = np.array([len(v) for v in vals], dtype=np.int64)
    off = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    return off, b"".join(vals)


# ---------------------------------------------------------------------------
# kernel
# ---------------------------------------------------------------------------

def test_no_false_negatives_ints_and_fpp():
    rng = np.random.RandomState(1)
    vals = rng.randint(-(2**62), 2**62, 5000)
    h = hash_numeric(vals, "int64")
    f = bloom_build(h, 5000, 0.01)
    assert bloom_check(f, h).all()
    absent = rng.randint(-(2**62), 2**62, 100_000)
    absent = absent[~np.isin(absent, vals)]
    fpp = bloom_check(f, hash_numeric(absent, "int64")).mean()
    assert fpp < 0.05  # target 1%; SBBF runs slightly above, never 5x


def test_no_false_negatives_strings():
    vals = [f"doc-{i:06d}".encode() for i in range(3000)]
    off, data = _offsets(vals)
    h = hash_bytes(off, data)
    f = bloom_build(h, 3000, 0.01)
    assert bloom_check(f, h).all()
    probe_off, probe_data = _offsets([b"doc-9999999", b"", b"zzz"])
    hits = bloom_check(f, hash_bytes(probe_off, probe_data))
    assert hits.sum() <= 1  # all absent; allow one false positive


def test_float_hash_canonicalization():
    # -0.0 == 0.0 and NaN = NaN (Spark semantics) must collide
    h = hash_numeric(np.array([0.0, -0.0, np.nan]), "float64")
    assert h[0] == h[1]
    h2 = hash_numeric(np.array([np.nan * -1.0]), "float64")
    assert h2[0] == h[2]
    # int32 values collide with their int64 probe
    assert (
        hash_numeric(np.array([7, -3], np.int32), "int32")
        == hash_numeric(np.array([7, -3], np.int64), "int64")
    ).all()


def test_hash_bytes_offset_invariance_and_empties():
    vals = [b"alpha", b"", b"beta"]
    off, data = _offsets(vals)
    shifted = off + 11
    assert (hash_bytes(off, data) == hash_bytes(shifted, b"x" * 11 + data)).all()
    # length must distinguish empty-vs-empty-prefix layouts
    a = hash_bytes(*_offsets([b"ab", b"c"]))
    b = hash_bytes(*_offsets([b"a", b"bc"]))
    assert a[0] != b[0] or a[1] != b[1]


def test_bloom_buffer_validation_and_sizing():
    f = bloom_build(hash_numeric(np.arange(10), "int64"), 10, 0.01)
    with pytest.raises(ValueError, match="SBBF"):
        bloom_check(b"XXXX" + f[4:], np.array([1], np.uint64))
    with pytest.raises(ValueError, match="length"):
        bloom_check(f[:-1], np.array([1], np.uint64))
    assert nblocks_for(1, 0.01) == 1
    assert nblocks_for(10**9, 0.01) == 2048  # 64 KiB cap
    assert len(f) == 8 + nblocks_for(10, 0.01) * 32


@settings(max_examples=30, deadline=None)
@given(st.lists(st.binary(min_size=0, max_size=40), min_size=1, max_size=300))
def test_membership_guarantee_fuzz(vals):
    off, data = _offsets(vals)
    h = hash_bytes(off, data)
    f = bloom_build(h, len(set(vals)), 0.01)
    assert bloom_check(f, h).all()


# ---------------------------------------------------------------------------
# engine integration
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def keyed(spark):
    df = spark.range(4000).select(
        F.concat(F.lit("user_"), F.md5(F.col("id").cast("string"))).alias("uid"),
        F.col("id").alias("v"),
    ).orderBy(F.rand(42))  # shuffled: per-chunk smin/smax span the space
    enc = encode_table(df, bloom=["uid", "v"], rows_per_chunk=512,
                       partition_by=None).persist()
    enc.count()
    yield df, enc
    enc.unpersist()


def test_bloom_prunes_midrange_absent_string(spark, keyed):
    df, enc = keyed
    total = enc.where(F.col("col") == "uid").count()
    # mid-range absent: md5 hex sorts inside [smin, smax] of every chunk,
    # so stats keep everything — only the bloom can prune
    absent = "user_aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"
    probe = where_pushed([("uid", "in", [absent])])
    kept = kept_groups(enc, probe)
    assert kept <= max(1, total // 4)  # FPP leaves at most a stray chunk
    # no-bloom chunks keep everything for the same probe
    enc2 = encode_table(df, rows_per_chunk=512, partition_by=None)
    assert kept_groups(enc2, probe) == total


def test_bloom_exact_decode_present_probe(spark, keyed):
    df, enc = keyed
    present = [r.uid for r in df.limit(3).collect()]
    out = scan_table(enc, df.schema, where=[("uid", "in", present)])
    got = {r.uid for r in out.collect()}
    assert got == set(present)


def test_bloom_int_probe_prunes_and_decodes(spark, keyed):
    df, enc = keyed
    total = enc.where(F.col("col") == "v").count()
    kept = kept_groups(enc, where_pushed([("v", "in", [123])]))
    assert 1 <= kept <= max(1, total // 4)
    out = scan_table(enc, df.schema, where=[("v", "in", [123, 456])])
    assert sorted(r.v for r in out.collect()) == [123, 456]


def test_cross_typed_probe_ignores_bloom(spark, keyed):
    df, enc = keyed
    # a string probe against the int column must not consult the int
    # bloom (wrong domain) — and must not lose rows via a false prune
    total = enc.where(F.col("col") == "v").count()
    kept = kept_groups(enc, where_pushed([("v", "in", ["123"])]))
    assert kept == total
    # a float-typed probe against the int column: stats may prune, the
    # bloom must not make 123.0 vanish
    out = scan_table(enc, df.schema, where=[("v", "in", [123.0])])
    assert [r.v for r in out.collect()] == [123]


def test_bloom_with_nulls_roundtrip(spark):
    df = spark.range(1000).select(
        F.when(F.col("id") % 3 == 0, None)
        .otherwise(F.concat(F.lit("k"), F.col("id").cast("string")))
        .alias("k"),
        F.col("id").alias("v"),
    )
    enc = encode_table(df, bloom=["k"], rows_per_chunk=256, partition_by=None)
    out = scan_table(enc, df.schema, where=[("k", "in", ["k7", "k500"])])
    assert sorted(r.v for r in out.collect()) == [7, 500]


def test_bloom_excluded_from_enc_bytes(spark):
    df = spark.range(2000).select(
        F.md5(F.col("id").cast("string")).alias("h")
    )
    plain = encode_table(df, partition_by=None)
    bloomed = encode_table(df, bloom=["h"], partition_by=None)
    a = plain.agg(F.sum("enc_bytes")).first()[0]
    b = bloomed.agg(F.sum("enc_bytes")).first()[0]
    assert a == b  # index metadata, not payload — ratio stays honest
    assert bloomed.where(F.col("bloom").isNotNull()).count() > 0


def test_datasource_bloom_option_roundtrip(spark, tmp_path, filter_pushdown):
    from pysparkenc.datasource import register

    register(spark)
    df = spark.range(2000).select(
        F.concat(F.lit("u"), F.md5(F.col("id").cast("string"))).alias("uid"),
        F.col("id").alias("v"),
    )
    store = str(tmp_path / "store")
    (df.write.format("pysparkenc").option("bloom", "uid")
       .mode("overwrite").save(store))
    uid = df.where(F.col("v") == 77).first().uid
    back = (spark.read.format("pysparkenc").load(store)
            .where(F.col("uid") == uid))
    rows = back.collect()
    assert len(rows) == 1 and rows[0].v == 77
