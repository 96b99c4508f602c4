"""Orphan-file reclaim (vacuum_store) and the crash window it closes.

A writer killed BETWEEN its chunk write and its lineage append leaves
orphan files under ``chunks/run_id=<r>``. The commit protocol keeps them
invisible to readers, but run id ``r`` must never be handed out again:
a retry that reused it would interleave its files with the orphans and
double every footer-metadata aggregate and the run's lineage metrics
(decode itself survives only because page keying is last-wins per
column). ``_next_run_id`` therefore skips ids occupied on disk, and
``vacuum_store`` (Iceberg ``remove_orphan_files``) reclaims the bytes.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from pysparkenc.engine import encode_table
from pysparkenc.lineage import (
    compact_store,
    delete_rows,
    encode_with_lineage,
    read_store,
    store_aggregate,
    store_count_rows,
    vacuum_store,
)
from pysparkenc.synth import make_tokens_table

N_DOCS = 400
N_PARTS = 4


@pytest.fixture()
def tokens_df(spark):
    df = make_tokens_table(spark, N_DOCS, seed=11)
    df.cache().count()
    yield df
    df.unpersist()


def _orphan_write(df, store: str, run_id: int, n_parts: int = N_PARTS):
    """Simulate a writer killed after its chunk write committed but
    before its lineage append: visible chunk files, no lineage row."""
    chunks = encode_table(
        df, partition_by=("source", "doc_id"), num_partitions=n_parts
    )
    (
        chunks.withColumn("run_id", F.lit(run_id))
        .write.mode("append")
        .partitionBy("run_id")
        .parquet(store + "/chunks")
    )


def test_crashed_run_id_never_reused(spark, tokens_df, tmp_path):
    store = str(tmp_path / "store")
    _orphan_write(tokens_df, store, run_id=1)

    # the retry must commit under a FRESH id, not interleave with the
    # orphans under run_id=1
    m = encode_with_lineage(
        tokens_df, store, partition_by=("source", "doc_id"),
        num_partitions=N_PARTS,
    )
    assert m["run_id"] == 2
    assert m["rows"] == N_DOCS

    # metrics and metadata-only aggregates are EXACT, not doubled
    assert store_count_rows(spark, store) == N_DOCS
    agg = {
        r["col"]: r for r in store_aggregate(spark, store, ["n_tok"]).collect()
    }
    true_sum = tokens_df.agg(F.sum("n_tok")).collect()[0][0]
    assert agg["n_tok"]["n_values"] == N_DOCS
    assert agg["n_tok"]["sum_val"] == true_sum
    assert read_store(spark, store).count() == N_DOCS


def test_vacuum_reclaims_only_orphans(spark, tokens_df, tmp_path):
    store = str(tmp_path / "store")
    encode_with_lineage(
        tokens_df, store, partition_by=("source", "doc_id"),
        num_partitions=N_PARTS,
    )
    _orphan_write(tokens_df.limit(50), store, run_id=9, n_parts=2)
    assert os.path.isdir(store + "/chunks/run_id=9")

    before = sorted(
        tuple(r) for r in read_store(spark, store)
        .select("doc_id", "n_tok", "source").collect()
    )
    out = vacuum_store(spark, store, grace_sec=0.0)
    assert out["vacuumed_runs"] == [9]
    assert out["vacuumed_delete_runs"] == []
    assert out["bytes_reclaimed"] > 0
    assert not os.path.exists(store + "/chunks/run_id=9")
    assert os.path.isdir(store + "/chunks/run_id=1")

    after = sorted(
        tuple(r) for r in read_store(spark, store)
        .select("doc_id", "n_tok", "source").collect()
    )
    assert after == before  # reclaim is invisible to queries


def test_vacuum_grace_protects_inflight_writers(spark, tokens_df, tmp_path):
    store = str(tmp_path / "store")
    encode_with_lineage(
        tokens_df, store, partition_by=("source", "doc_id"),
        num_partitions=N_PARTS,
    )
    _orphan_write(tokens_df.limit(50), store, run_id=9, n_parts=2)
    out = vacuum_store(spark, store, grace_sec=3600.0)
    assert out["vacuumed_runs"] == []
    assert os.path.isdir(store + "/chunks/run_id=9")


def test_vacuum_delete_key_files(spark, tokens_df, tmp_path):
    store = str(tmp_path / "store")
    encode_with_lineage(
        tokens_df, store, partition_by=("source", "doc_id"),
        num_partitions=N_PARTS,
    )
    victims = tokens_df.where(
        F.crc32(F.col("doc_id")) % 7 == 0
    ).select("doc_id")
    n_victims = victims.count()
    delete_rows(spark, store, victims)

    # orphan key files from a crashed delete attempt (no lineage row)
    tokens_df.limit(5).select("doc_id").write.parquet(
        store + "/deletes/run_id=77"
    )
    out = vacuum_store(spark, store, grace_sec=0.0)
    assert out["vacuumed_delete_runs"] == [77]
    assert out["vacuumed_runs"] == []
    # the COMMITTED delete's key files survive and keep applying
    assert os.path.isdir(store + "/deletes/run_id=2")
    assert read_store(spark, store).count() == N_DOCS - n_victims


def test_vacuum_removes_stale_temporary_dirs(spark, tokens_df, tmp_path):
    store = str(tmp_path / "store")
    encode_with_lineage(
        tokens_df, store, partition_by=("source", "doc_id"),
        num_partitions=N_PARTS,
    )
    tmp = store + "/chunks/_temporary/0"
    os.makedirs(tmp)
    with open(tmp + "/part-stale", "wb") as fh:
        fh.write(b"x" * 128)
    old = time.time() - 7200
    os.utime(tmp + "/part-stale", (old, old))
    os.utime(tmp, (old, old))
    os.utime(store + "/chunks/_temporary", (old, old))

    out = vacuum_store(spark, store, grace_sec=3600.0)
    assert out["removed_tmp_dirs"] == 1
    assert not os.path.exists(store + "/chunks/_temporary")
    # committed data untouched even though its mtime is also old enough
    assert read_store(spark, store).count() == N_DOCS


def test_vacuum_removes_stale_staging_files(spark, tokens_df, tmp_path):
    """Killed writer tasks leave stage files under
    _staging/ (published files are renamed out at commit); vacuum
    reclaims the stale ones under the same age rule."""
    store = str(tmp_path / "store")
    encode_with_lineage(
        tokens_df, store, partition_by=("source", "doc_id"),
        num_partitions=N_PARTS,
    )
    staging = store + "/_staging"
    os.makedirs(staging, exist_ok=True)  # every write stages there
    with open(staging + "/stage-00000-deadbeef.parquet", "wb") as fh:
        fh.write(b"x" * 256)
    old = time.time() - 7200
    os.utime(staging + "/stage-00000-deadbeef.parquet", (old, old))

    out = vacuum_store(spark, store, grace_sec=3600.0)
    assert out["removed_staging_files"] == 1
    assert out["bytes_reclaimed"] >= 256
    assert not os.listdir(staging)
    assert read_store(spark, store).count() == N_DOCS


def test_compact_idempotence_fence_ignores_orphans(spark, tokens_df,
                                                   tmp_path):
    """as_of_run names the latest COMMIT; orphan dirs occupying higher
    ids on disk must not shift the fence."""
    store = str(tmp_path / "store")
    encode_with_lineage(
        tokens_df, store, partition_by=("source", "doc_id"),
        num_partitions=N_PARTS,
    )
    _orphan_write(tokens_df.limit(50), store, run_id=6, n_parts=2)
    out = compact_store(spark, store, as_of_run=1, num_partitions=2)
    assert out["run_id"] == 7  # allocated past the orphan, never inside it
    assert read_store(spark, store).count() == N_DOCS
