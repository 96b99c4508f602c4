"""Stat-based chunk pruning (the reference's row-group skip re-expressed):
pruning must actually drop groups, and the pruned decode must equal
full-decode + filter exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import kept_groups
from pysparkenc.engine import (
    decode_table,
    encode_table,
    scan_table,
    where_pushed,
)
from pysparkenc.synth import make_tokens_table


def test_pruning_drops_groups_and_matches_exact(spark):
    df = make_tokens_table(spark, 2_000, seed=13)
    df.cache().count()
    # n_tok is range-partition-ish per chunk group only by luck; use a
    # range wide enough to keep some groups and narrow enough to drop some
    chunks = encode_table(df, partition_by=("source", "doc_id"),
                          num_partitions=16)
    chunks.cache().count()

    total_groups = chunks.select("part_id", "chunk_id").distinct().count()
    where = [("n_tok", "between", (0, 40))]
    assert kept_groups(chunks, where_pushed(where)) <= total_groups

    got = scan_table(chunks, df.schema, where=where)
    want = decode_table(chunks, df.schema).where(F.col("n_tok") <= 40)
    g = {r["doc_id"]: r["tokens"] for r in got.collect()}
    w = {r["doc_id"]: r["tokens"] for r in want.collect()}
    assert g == w
    assert len(g) == df.where(F.col("n_tok") <= 40).count()

    chunks.unpersist()
    df.unpersist()


def test_pruning_keeps_chunks_with_nan_values(spark):
    """A float chunk containing NaN must not be pruned out of a range that
    overlaps its real values (ADVICE r1: min()/max() stats went NaN and the
    whole group vanished). Spark orders NaN greater than every number, so
    NaN rows legitimately pass lo-only filters too."""
    import math

    rows = [(1, 1.0), (2, float("nan")), (3, 5.0), (4, 100.0), (5, float("nan"))]
    df = spark.createDataFrame(rows, "id long, x double")
    chunks = encode_table(df, num_partitions=1)
    chunks.cache().count()

    # range [0, 10] overlaps {1.0, 5.0}: the NaN-bearing chunk must survive
    got = {r["id"]: r["x"] for r in scan_table(
        chunks, df.schema, where=[("x", "between", (0, 10))]).collect()}
    assert set(got) == {1, 3}

    # lo-only filter: NaN rows sort greatest, so they pass `x >= 50`
    got_lo = {r["id"] for r in scan_table(
        chunks, df.schema, where=[("x", ">=", 50)]).collect()}
    assert got_lo == {2, 4, 5}
    # the NaN max bounds nothing above: a lo bound past every real
    # value still keeps the group
    assert kept_groups(chunks, where_pushed([("x", ">=", 1e9)])) == 1

    # all-NaN chunk: prunable on any hi bound, kept on lo-only
    df2 = spark.createDataFrame([(1, float("nan")), (2, float("nan"))],
                                "id long, x double")
    ck2 = encode_table(df2, num_partitions=1)
    ck2.cache().count()
    assert kept_groups(
        ck2, where_pushed([("x", "between", (0, 10))])) == 0
    assert scan_table(
        ck2, df2.schema, where=[("x", "between", (0, 10))]).count() == 0
    lo_only = scan_table(ck2, df2.schema, where=[("x", ">=", 0)]).collect()
    assert {r["id"] for r in lo_only} == {1, 2}
    assert all(math.isnan(r["x"]) for r in lo_only)
    ck2.unpersist()
    chunks.unpersist()


def test_string_pruning_drops_groups_and_matches_exact(spark):
    """Lexicographic smin/smax stats prune string ranges — the stats the
    reference's ByteArrayStore declares but never sets
    (datastore/byte-array.go:8-12)."""
    rows = [(i, f"{chr(97 + i % 20)}key{i:04d}") for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, k string")
    # partition by first letter so chunks have tight string ranges
    df = df.withColumn("g", F.substring("k", 1, 1))
    chunks = encode_table(df, partition_by=("g", "id"), num_partitions=16,
                          rows_per_chunk=64)
    chunks.cache().count()

    total = chunks.select("part_id", "chunk_id").distinct().count()
    where = [("k", "between", ("c", "f"))]
    kept = kept_groups(chunks, where_pushed(where))
    assert 0 < kept < total  # pruning actually dropped groups

    got = scan_table(chunks, df.schema, where=where)
    want = df.where((F.col("k") >= "c") & (F.col("k") <= "f"))
    assert {r["id"] for r in got.collect()} == {r["id"] for r in want.collect()}
    chunks.unpersist()


def test_string_pruning_long_values_never_dropped(spark):
    """Values longer than the 64-codepoint stat cap leave smax absent
    (a truncated max would falsely bound above) — chunk must be kept."""
    long_tail = "z" * 100
    df = spark.createDataFrame(
        [(1, "a" + long_tail), (2, "ab")], "id long, k string"
    )
    chunks = encode_table(df, num_partitions=1)
    chunks.cache().count()
    # lo bound beyond the truncated 64-char prefix of value 1: the chunk
    # must survive because its max is unbounded in the stats
    where = [("k", ">=", "a" + "z" * 70)]
    assert kept_groups(chunks, where_pushed(where)) == 1
    got = scan_table(chunks, df.schema, where=where)
    assert {r["id"] for r in got.collect()} == {1}
    chunks.unpersist()


def test_pruning_empty_range_decodes_nothing(spark):
    df = make_tokens_table(spark, 500, seed=14)
    chunks = encode_table(df, partition_by=("source", "doc_id"),
                          num_partitions=8)
    chunks.cache().count()
    # n_tok is clipped to [8, 4096]; a disjoint range prunes EVERY group
    where = [("n_tok", "between", (10_000, 20_000))]
    assert kept_groups(chunks, where_pushed(where)) == 0
    assert scan_table(chunks, df.schema, where=where).count() == 0
    chunks.unpersist()


def test_sort_by_makes_pruning_decisive(spark):
    """sort_by synergy: clustering rows by the scan column tightens every
    chunk's min/max, so a narrow range scan over sorted chunks keeps
    strictly fewer page groups than over unsorted ones — and still
    decodes the identical row set."""
    df = make_tokens_table(spark, 20_000, seed=21)
    df.cache().count()

    plain = encode_table(df, num_partitions=4).cache()
    clustered = encode_table(df, num_partitions=4,
                             sort_by=("n_tok",)).cache()
    plain.count(); clustered.count()

    lo, hi = 30, 35
    pushed = where_pushed([("n_tok", "between", (lo, hi))])
    kept_plain = kept_groups(plain, pushed)
    kept_sorted = kept_groups(clustered, pushed)
    assert kept_sorted < kept_plain

    got = scan_table(clustered, df.schema,
                     where=[("n_tok", "between", (lo, hi))])
    g = {r["doc_id"]: r["tokens"] for r in got.collect()}
    want = {r["doc_id"]: r["tokens"]
            for r in df.where(F.col("n_tok").between(lo, hi)).collect()}
    assert g == want

    plain.unpersist(); clustered.unpersist(); df.unpersist()


def test_isin_probe_sets_are_built_once_per_predicate(monkeypatch):
    """The IN list's probe sets and bloom hashes are built when the
    predicate is made, not again for every page group it is tested
    against."""
    from pysparkenc import engine

    calls = []
    real = engine._bloom_probe_hashes

    def counted(svals, nvals):
        calls.append(1)
        return real(svals, nvals)

    monkeypatch.setattr(engine, "_bloom_probe_hashes", counted)
    p = engine._Pushed("k", "isin", tuple(range(0, 2000, 7)))
    starts = range(0, 10_000, 100)
    groups = [
        {"k": {"codec": "plain", "dtype": "int64", "logical": "int64",
               "n_rows": 100, "null_count": 0, "n_unique": 100,
               "num_min": float(lo), "num_max": float(lo + 99),
               "extra": None, "aux": None, "bloom": None}}
        for lo in starts
    ]
    kept = [engine._group_passes(g, p) for g in groups]
    assert calls == [1]
    assert kept == [lo < 2000 for lo in starts]
