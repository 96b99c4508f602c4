"""Dictionary-page predicate pushdown (``scan_table`` ``==`` / ``in``): an
equality probe tested against each chunk's dict page drops groups whose
dictionary provably lacks the value — strictly stronger than min/max
overlap (the reference's stats-only SkipRowGroup, file-reader.go:110-112,
cannot do this because its dict pages are decode-internal)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import kept_groups
from pysparkenc.engine import (
    encode_table,
    scan_table,
    where_pushed,
)


def _kept(chunks, where) -> int:
    return kept_groups(chunks, where_pushed(where))


def _groups(chunks) -> int:
    return chunks.select("part_id", "chunk_id").distinct().count()


def _langs_df(spark):
    # 4 single-lang partitions; lang is low-cardinality -> dict_rle
    rows = [(i, ["de", "en", "fr", "pt"][i // 250], i % 97) for i in range(1000)]
    return spark.createDataFrame(rows, "id long, lang string, v long")


def test_dict_probe_drops_non_matching_groups(spark):
    # page-scale granularity: the striped plan spreads every lang across
    # every partition (balance), auto-clustering then makes each PAGE
    # lang-homogeneous — pruning drops page groups, not partitions
    df = _langs_df(spark)
    chunks = encode_table(
        df, partition_by=("lang", "id"), rows_per_chunk=64
    ).persist()
    chunks.count()
    lang_codecs = {
        r["codec"]
        for r in chunks.where(F.col("col") == "lang").select("codec").collect()
    }
    assert "dict_rle" in lang_codecs  # the probe's target codec is in play
    # groups actually dropped
    assert _kept(chunks, [("lang", "==", "de")]) < _groups(chunks)
    chunks.unpersist()


def test_dict_probe_beats_stats_between_min_and_max(spark):
    """A probe value lexicographically inside [smin, smax] but absent
    from the dictionary: min/max overlap keeps the chunk, the dict page
    proves it away."""
    df = spark.createDataFrame(
        [(i, ["apple", "zebra"][i % 2]) for i in range(500)],
        "id long, w string",
    )
    chunks = encode_table(df, num_partitions=1).persist()
    chunks.count()
    assert {
        r["codec"]
        for r in chunks.where(F.col("col") == "w").select("codec").collect()
    } == {"dict_rle"}
    # "mango" is within [apple, zebra] -> stats alone cannot prune
    assert _kept(chunks, [("w", "==", "mango")]) == 0
    assert _kept(chunks, [("w", "==", "zebra")]) > 0
    chunks.unpersist()


def test_equals_decode_exact_rows(spark):
    df = _langs_df(spark)
    chunks = encode_table(df, partition_by=("lang", "id")).persist()
    chunks.count()
    got = scan_table(chunks, df.schema, where=[("lang", "==", "fr")])
    want = df.where(F.col("lang") == "fr")
    assert {r["id"] for r in got.collect()} == {r["id"] for r in want.collect()}
    chunks.unpersist()


def test_numeric_equals_falls_back_to_stats(spark):
    """Numeric columns: dict page probed when dict_rle, stat overlap
    otherwise — either way no matching row is ever lost."""
    df = spark.createDataFrame(
        [(i, i // 100) for i in range(1000)], "id long, bucket long"
    )
    chunks = encode_table(df, partition_by=("bucket", "id")).persist()
    chunks.count()
    got = scan_table(chunks, df.schema, where=[("bucket", "==", 7)])
    assert {r["id"] for r in got.collect()} == set(range(700, 800))
    # and a value outside every chunk's range prunes everything
    assert _kept(chunks, [("bucket", "==", 99)]) == 0
    chunks.unpersist()


def test_forced_plain_never_misprunes(spark):
    """With the probe column forced away from dict_rle the probe must
    keep chunks on stats alone — equality decode stays exact."""
    df = _langs_df(spark)
    chunks = encode_table(
        df, partition_by=("lang", "id"), codec={"lang": "ba_plain"}
    ).persist()
    chunks.count()
    got = scan_table(chunks, df.schema, where=[("lang", "==", "pt")])
    assert got.count() == 250
    chunks.unpersist()


def test_isin_probe_prunes_and_decodes_exact(spark):
    df = _langs_df(spark)
    chunks = encode_table(
        df, partition_by=("lang", "id"), rows_per_chunk=64
    ).persist()
    chunks.count()
    where = [("lang", "in", ["de", "fr"])]
    assert _kept(chunks, where) < _groups(chunks)
    got = scan_table(chunks, df.schema, where=where)
    want = df.where(F.col("lang").isin("de", "fr"))
    assert {r["id"] for r in got.collect()} == {r["id"] for r in want.collect()}
    chunks.unpersist()


def test_isin_numeric_and_validation(spark):
    df = spark.createDataFrame(
        [(i, i // 100) for i in range(1000)], "id long, bucket long"
    )
    chunks = encode_table(df, partition_by=("bucket", "id")).persist()
    chunks.count()
    got = scan_table(chunks, df.schema, where=[("bucket", "in", [2, 7])])
    assert {r["id"] for r in got.collect()} == set(range(200, 300)) | set(
        range(700, 800)
    )
    assert _kept(chunks, [("bucket", "in", [50, 99])]) == 0
    with pytest.raises(ValueError):
        scan_table(chunks, df.schema, where=[("bucket", "in", [])])
    with pytest.raises(TypeError):
        scan_table(chunks, df.schema, where=[("bucket", "in", [1, "x"])])
    chunks.unpersist()
