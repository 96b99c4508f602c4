"""Checkpoint/lineage resume (north_rule: "resumable from checkpoint with
per-partition lineage + metrics").

Simulates the kill-and-rerun scenario the 10^12-sequence job needs: a run
that loses some partitions before commit must (a) hide the orphan chunk
rows from readers, (b) re-encode ONLY the missing partitions on resume,
(c) decode bit-identically afterwards.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pysparkenc.engine import decode_table
from pysparkenc.lineage import (
    encode_with_lineage,
    read_committed_chunks,
    read_lineage,
)
from pysparkenc.synth import make_tokens_table

N_DOCS = 600
N_PARTS = 8


def _done_part_ids(spark, path):
    return {r["part_id"] for r in read_lineage(spark, path)
            .where(F.col("status") == "done").collect()}


@pytest.fixture()
def tokens_df(spark):
    df = make_tokens_table(spark, N_DOCS, seed=5)
    df.cache().count()
    yield df
    df.unpersist()


def test_full_run_then_resume_is_noop(spark, tokens_df, tmp_path):
    path = str(tmp_path / "enc")
    m1 = encode_with_lineage(
        tokens_df, path, partition_by=("source", "doc_id"),
        num_partitions=N_PARTS,
    )
    assert m1["rows"] == N_DOCS
    assert m1["skipped_partitions"] == 0

    m2 = encode_with_lineage(
        tokens_df, path, partition_by=("source", "doc_id"),
        num_partitions=N_PARTS,
    )
    assert m2["rows"] == 0  # nothing pending
    assert m2["skipped_partitions"] == m1["partitions"]


def test_partial_run_resumes_only_missing(spark, tokens_df, tmp_path):
    path = str(tmp_path / "enc")
    # run 1 "crashes": partitions 0 and 1 never commit
    m1 = encode_with_lineage(
        tokens_df, path, partition_by=("source", "doc_id"),
        num_partitions=N_PARTS, drop_part_ids=frozenset({0, 1}),
    )
    done1 = _done_part_ids(spark, path)
    assert done1.isdisjoint({0, 1})

    # run 2 resumes: encodes exactly the missing partitions
    m2 = encode_with_lineage(
        tokens_df, path, partition_by=("source", "doc_id"),
        num_partitions=N_PARTS,
    )
    assert m2["skipped_partitions"] == m1["partitions"]
    assert m1["rows"] + m2["rows"] == N_DOCS
    done2 = _done_part_ids(spark, path)
    assert {0, 1} <= done2

    # committed view decodes bit-identically to the input
    chunks = read_committed_chunks(spark, path)
    decoded = decode_table(chunks, tokens_df.schema)
    orig = {r["doc_id"]: r["tokens"] for r in tokens_df.collect()}
    got = {r["doc_id"]: r["tokens"] for r in decoded.collect()}
    assert got == orig


@pytest.mark.parametrize("partition_by", [("source", "doc_id"), None])
def test_resume_on_hashed_route_skips_by_task(spark, tokens_df, tmp_path,
                                              monkeypatch, partition_by):
    """Past ``engine._EXACT_ROUTE_MAX`` encode partitions, rows are hashed
    to tasks, so a row's planned ``part_id`` no longer names the task
    that encodes it. The part ids chunk rows and the lineage record are
    task ids, and a crash and its resume must skip by them: every row
    lands exactly once."""
    import pysparkenc.engine as E

    monkeypatch.setattr(E, "_EXACT_ROUTE_MAX", 1)
    path = str(tmp_path / "enc")
    kw = dict(partition_by=partition_by, num_partitions=4)
    m1 = encode_with_lineage(tokens_df, path,
                             drop_part_ids=frozenset({0}), **kw)
    assert 0 not in _done_part_ids(spark, path)
    m2 = encode_with_lineage(tokens_df, path, **kw)
    assert m2["skipped_partitions"] == m1["partitions"]
    assert m1["rows"] + m2["rows"] == N_DOCS
    decoded = decode_table(read_committed_chunks(spark, path),
                           tokens_df.schema)
    ids = [r["doc_id"] for r in decoded.collect()]
    assert sorted(ids) == sorted(r["doc_id"] for r in tokens_df.collect())


def test_orphan_chunks_invisible_without_lineage(spark, tokens_df, tmp_path):
    path = str(tmp_path / "enc")
    encode_with_lineage(
        tokens_df, path, partition_by=("source", "doc_id"),
        num_partitions=N_PARTS, drop_part_ids=frozenset({2}),
    )
    # fake a crash AFTER some chunk rows of a new run landed but BEFORE its
    # lineage commit: write chunk rows with a bogus run_id and no lineage
    chunks = spark.read.parquet(f"{path}/chunks")
    (
        chunks.where(F.col("part_id") == 3)
        .withColumn("run_id", F.lit(999))
        .write.mode("append")
        .partitionBy("run_id")
        .parquet(f"{path}/chunks")
    )
    committed = read_committed_chunks(spark, path)
    # committed part_id is run-disambiguated: run_id * 2^32 + part_id
    assert committed.where(F.pmod("part_id", F.lit(1 << 32)) == 3).count() == (
        chunks.where((F.col("part_id") == 3)).count()
    )  # only the original run's rows, not the 999 orphans
    assert "run_id" not in committed.columns


def test_lineage_metrics_schema(spark, tokens_df, tmp_path):
    path = str(tmp_path / "enc")
    encode_with_lineage(
        tokens_df, path, partition_by=("source", "doc_id"),
        num_partitions=N_PARTS,
    )
    lin = read_lineage(spark, path)
    row = lin.agg(
        F.sum("n_rows").alias("rows"),
        F.sum("n_chunks").alias("chunks"),
        F.min("enc_bytes").alias("min_enc"),
    ).collect()[0]
    assert row["rows"] == N_DOCS
    assert row["chunks"] > 0
    assert row["min_enc"] > 0


def test_time_travel_as_of_run(spark, tokens_df, tmp_path):
    """Snapshot reads: `as_of_run=r` reproduces exactly the committed
    state at run r — later resumes/appends are invisible, and the
    snapshot decodes bit-identically to the rows it covered."""
    path = str(tmp_path / "enc")
    # run 1 commits all but partitions {0, 1}; run 2 fills them in
    encode_with_lineage(
        tokens_df, path, partition_by=("source", "doc_id"),
        num_partitions=N_PARTS, drop_part_ids=frozenset({0, 1}),
    )
    encode_with_lineage(
        tokens_df, path, partition_by=("source", "doc_id"),
        num_partitions=N_PARTS,
    )

    snap1 = read_committed_chunks(spark, path, as_of_run=1)
    now = read_committed_chunks(spark, path)
    part1 = {r["part_id"] % (1 << 32)
             for r in snap1.select("part_id").distinct().collect()}
    run1_committed = {
        r["part_id"]
        for r in read_lineage(spark, path)
        .where((F.col("run_id") == 1) & (F.col("status") == "done"))
        .select("part_id").collect()
    }
    assert part1 == run1_committed
    assert part1.isdisjoint({0, 1})

    rows1 = decode_table(snap1, tokens_df.schema)
    rows_now = decode_table(now, tokens_df.schema)
    assert rows_now.count() == N_DOCS
    n1 = rows1.count()
    assert 0 < n1 < N_DOCS
    # the snapshot's rows are a subset of the full table, bit-identical
    assert rows1.join(tokens_df.select("doc_id", "tokens"),
                      ["doc_id", "tokens"], "left_anti").count() == 0


def test_snapshots_history(spark, tokens_df, tmp_path):
    from pysparkenc.lineage import snapshots

    path = str(tmp_path / "enc")
    encode_with_lineage(
        tokens_df, path, partition_by=("source", "doc_id"),
        num_partitions=N_PARTS, drop_part_ids=frozenset({0}),
    )
    encode_with_lineage(
        tokens_df, path, partition_by=("source", "doc_id"),
        num_partitions=N_PARTS,
    )
    hist = snapshots(spark, path).collect()
    assert [r["run_id"] for r in hist] == [2, 1]
    # run 2 only filled the gap run 1 dropped (empty partitions aside,
    # partition 0 is the one forced hole)
    assert 1 <= hist[0]["partitions"] <= 2
    assert hist[0]["partitions"] + hist[1]["partitions"] == (
        len(_done_part_ids(spark, path))
    )
    assert sum(r["n_rows"] for r in hist) == N_DOCS
    assert all(r["enc_bytes"] > 0 for r in hist)


def _tok_multiset(df):
    rows = df.select("doc_id", "tokens").collect()
    return sorted((r["doc_id"], tuple(r["tokens"])) for r in rows)


def test_compaction_rewrites_without_changing_the_table(spark, tmp_path):
    """Three small appends -> compact: the visible table is byte-equal,
    the chunk-group count drops (big pages), the old layout stays
    readable via time travel BEFORE the compaction run, and reading
    as-of the compaction run sees only the new layout."""
    from pysparkenc.lineage import compact_store, snapshots

    path = str(tmp_path / "store")
    dfs = [make_tokens_table(spark, 200, seed=s) for s in (11, 12, 13)]
    for i, d in enumerate(dfs):
        # distinct doc_id spaces per append (streaming-shaped)
        encode_with_lineage(
            d.withColumn("doc_id", F.concat(F.lit(f"b{i}-"), "doc_id")),
            path, partition_by=("source", "doc_id"), num_partitions=4,
            resume=False, batch_id=i,
        )
    before = read_committed_chunks(spark, path)
    want = _tok_multiset(decode_table(before))
    groups_before = before.select("part_id", "chunk_id").distinct().count()
    last_append_run = int(
        snapshots(spark, path).agg(F.max("run_id")).collect()[0][0]
    )

    m = compact_store(spark, path, partition_by=("source", "doc_id"),
                      num_partitions=4)
    assert m["superseded"] > 0 and m["run_id"] > last_append_run

    after = read_committed_chunks(spark, path)
    assert _tok_multiset(decode_table(after)) == want
    groups_after = after.select("part_id", "chunk_id").distinct().count()
    assert groups_after < groups_before  # bigger pages, fewer groups
    # every visible chunk group now belongs to the compaction run
    runs = {
        int(r["part_id"]) >> 32
        for r in after.select("part_id").distinct().collect()
    }
    assert runs == {m["run_id"]}

    # time travel: as-of the last append still reads the ORIGINAL layout
    old = read_committed_chunks(spark, path, as_of_run=last_append_run)
    assert _tok_multiset(decode_table(old)) == want
    old_runs = {
        int(r["part_id"]) >> 32
        for r in old.select("part_id").distinct().collect()
    }
    assert m["run_id"] not in old_runs and len(old_runs) == 3


def test_expire_runs_drops_only_superseded_data(spark, tmp_path):
    import os

    from pysparkenc.lineage import compact_store, expire_runs

    path = str(tmp_path / "store")
    for i in range(2):
        encode_with_lineage(
            make_tokens_table(spark, 150, seed=20 + i).withColumn(
                "doc_id", F.concat(F.lit(f"b{i}-"), "doc_id")),
            path, partition_by=("source", "doc_id"), num_partitions=3,
            resume=False, batch_id=i,
        )
    want = _tok_multiset(decode_table(read_committed_chunks(spark, path)))
    m = compact_store(spark, path, partition_by=("source", "doc_id"),
                      num_partitions=3)
    out = expire_runs(spark, path)
    assert sorted(out["expired_runs"]) == [1, 2]
    assert not os.path.exists(f"{path}/chunks/run_id=1")
    assert os.path.exists(f"{path}/chunks/run_id={m['run_id']}")
    # current reads untouched
    got = _tok_multiset(decode_table(read_committed_chunks(spark, path)))
    assert got == want


def test_compacting_twice_layers_supersede_correctly(spark, tmp_path):
    """A second compaction supersedes the first compaction's run; every
    time-travel point (append-era, first compaction, head) reads the
    same table."""
    from pysparkenc.lineage import compact_store

    path = str(tmp_path / "store")
    for i in range(2):
        encode_with_lineage(
            make_tokens_table(spark, 120, seed=40 + i).withColumn(
                "doc_id", F.concat(F.lit(f"b{i}-"), "doc_id")),
            path, partition_by=("source", "doc_id"), num_partitions=3,
            resume=False, batch_id=i,
        )
    want = _tok_multiset(decode_table(read_committed_chunks(spark, path)))
    m1 = compact_store(spark, path, partition_by=("source", "doc_id"),
                       num_partitions=3)
    m2 = compact_store(spark, path, partition_by=("source", "doc_id"),
                       num_partitions=2)
    assert m2["run_id"] > m1["run_id"]
    for as_of in (2, m1["run_id"], None):
        got = _tok_multiset(decode_table(
            read_committed_chunks(spark, path, as_of_run=as_of)))
        assert got == want, as_of
    # head reads only the second compaction's run
    runs = {int(r["part_id"]) >> 32 for r in read_committed_chunks(
        spark, path).select("part_id").distinct().collect()}
    assert runs == {m2["run_id"]}


# ---------------------------------------------------------------------------
# delete-aware metadata queries (store_count_rows / store_distinct_values /
# store_aggregate)
# ---------------------------------------------------------------------------

def test_store_queries_delete_aware(spark, tmp_path):
    """A deleted key vanishes from COUNT(*), DISTINCT, and the
    aggregates by default; visible=False keeps the engine's physical
    (pre-delete) answer."""
    from pyspark.sql import functions as F

    from pysparkenc.lineage import (
        delete_rows,
        store_aggregate,
        store_count_rows,
        store_distinct_values,
    )

    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 100, seed=77)
    encode_with_lineage(df, store, partition_by=("source", "doc_id"),
                        num_partitions=4)
    # retract EVERY row of one source value: it must drop out of DISTINCT
    victim_src = df.select("source").distinct().limit(1).collect()[0][0]
    victims = df.where(F.col("source") == victim_src).select("doc_id")
    n_victims = victims.count()
    delete_rows(spark, store, victims)

    assert store_count_rows(spark, store) == 100 - n_victims
    assert store_count_rows(spark, store, visible=False) == 100

    vis = {r["source"] for r in
           store_distinct_values(spark, store, "source").collect()}
    phys = {r["source"] for r in
            store_distinct_values(spark, store, "source",
                                  visible=False).collect()}
    assert victim_src not in vis
    assert victim_src in phys

    agg = {r["col"]: r for r in
           store_aggregate(spark, store, ["n_tok"]).collect()}
    exp = df.join(victims, "doc_id", "left_anti").agg(
        F.count("n_tok").alias("n"), F.sum("n_tok").alias("s"),
        F.min("n_tok").alias("mn"), F.max("n_tok").alias("mx"),
    ).collect()[0]
    assert agg["n_tok"]["n_values"] == exp["n"]
    assert agg["n_tok"]["sum_val"] == exp["s"]
    assert agg["n_tok"]["min_val"] == float(exp["mn"])
    assert agg["n_tok"]["max_val"] == float(exp["mx"])
    # physical keeps the retracted rows in the fold
    aggp = {r["col"]: r for r in
            store_aggregate(spark, store, ["n_tok"],
                            visible=False).collect()}
    assert aggp["n_tok"]["n_values"] == 100


def test_store_queries_fast_path_is_metadata_only(spark, tmp_path):
    """No visible delete runs => the current metadata-only plans run
    unchanged: store_aggregate's plan has no Python/Arrow stage and
    never reads the payload bytes (plan-gated), and the answers equal
    the engine functions'."""
    import contextlib
    import io

    from pysparkenc.engine import aggregate_chunks, count_rows
    from pysparkenc.lineage import (
        read_committed_chunks,
        store_aggregate,
        store_count_rows,
    )

    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 60, seed=79)
    encode_with_lineage(df, store, num_partitions=2)
    agg = store_aggregate(spark, store, ["n_tok"])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        agg.explain("formatted")
    plan = buf.getvalue()
    assert "ArrowEvalPython" not in plan and "mapInArrow" not in plan
    assert "FlatMapGroupsInArrow" not in plan and "BatchEvalPython" not in plan
    # column pruning: the parquet scan never reads the payload bytes
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "data" not in line and "aux" not in line
    chunks = read_committed_chunks(spark, store)
    assert store_count_rows(spark, store) == count_rows(chunks) == 60
    exp = {r["col"]: r for r in aggregate_chunks(chunks, ["n_tok"]).collect()}
    got = {r["col"]: r for r in agg.collect()}
    assert got["n_tok"].asDict() == exp["n_tok"].asDict()


def test_store_aggregate_rejects_converted_types_with_deletes(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    from pysparkenc.lineage import delete_rows, store_aggregate

    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 40, seed=81).withColumn(
        "day", F.to_date(F.lit("2024-01-01"))
    )
    encode_with_lineage(df, store, num_partitions=2)
    delete_rows(spark, store, df.limit(3).select("doc_id"))
    with pytest.raises(TypeError, match="plain numeric"):
        store_aggregate(spark, store, ["day"])
    # numeric columns still work with deletes pending
    out = {r["col"]: r for r in
           store_aggregate(spark, store, ["n_tok"]).collect()}
    assert out["n_tok"]["n_values"] == 37


# ---------------------------------------------------------------------------
# selective compaction (runs= / max_run_bytes=)
# ---------------------------------------------------------------------------

def _dir_digest(d):
    import hashlib
    import os

    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(f.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _three_run_store(spark, tmp_path):
    """Run 1: 600 docs (big). Runs 2, 3: 40 docs each (streaming-tail
    shaped)."""
    store = str(tmp_path / "store")
    big = make_tokens_table(spark, 600, seed=91)
    s1 = make_tokens_table(spark, 40, seed=92).withColumn(
        "doc_id", F.concat(F.lit("b2-"), F.col("doc_id")))
    s2 = make_tokens_table(spark, 40, seed=93).withColumn(
        "doc_id", F.concat(F.lit("b3-"), F.col("doc_id")))
    encode_with_lineage(big, store, partition_by=("source", "doc_id"),
                        num_partitions=4)
    encode_with_lineage(s1, store, num_partitions=1, resume=False)
    encode_with_lineage(s2, store, num_partitions=1, resume=False)
    all_rows = big.unionByName(s1).unionByName(s2)
    return store, all_rows


def test_selective_compact_leaves_untouched_runs_byte_identical(
    spark, tmp_path
):
    import os

    from pysparkenc.lineage import compact_store, expire_runs, read_store

    store, all_rows = _three_run_store(spark, tmp_path)
    run1_dir = os.path.join(store, "chunks", "run_id=1")
    before = _dir_digest(run1_dir)

    m = compact_store(spark, store, runs=(2, 3))
    assert m["selected_runs"] == [2, 3]
    assert m["superseded"] == 2  # one partition per small run
    # untouched run's files: byte-identical (never read, never rewritten)
    assert _dir_digest(run1_dir) == before
    got = read_store(spark, store)
    assert got.count() == 680
    assert got.exceptAll(all_rows).count() == 0
    assert all_rows.exceptAll(got).count() == 0
    # time travel to before the compaction reads the original layout
    pre = read_store(spark, store, as_of_run=3)
    assert pre.count() == 680
    # expiry reclaims ONLY the rewritten small runs
    expired = expire_runs(spark, store)
    assert sorted(expired["expired_runs"]) == [2, 3]
    assert os.path.isdir(run1_dir)
    assert read_store(spark, store).count() == 680


def test_selective_compact_delete_retirement(spark, tmp_path):
    """A delete run retires only when no remaining data run predates
    it: rewritten rows materialize the delete, untouched older runs
    still need its keys."""
    from pysparkenc.lineage import (
        compact_store,
        delete_rows,
        read_delete_sets,
        read_store,
    )

    store, all_rows = _three_run_store(spark, tmp_path)
    # delete run 4: 10 victims from run 1, 5 from run 2
    v1 = all_rows.where(~F.col("doc_id").startswith("b")).limit(10)
    v2 = all_rows.where(F.col("doc_id").startswith("b2-")).limit(5)
    victims = v1.select("doc_id").unionByName(v2.select("doc_id"))
    delete_rows(spark, store, victims)
    expected = all_rows.join(victims, "doc_id", "left_anti")

    # compact only run 2: run 1 (older than delete 4) remains → the
    # delete must stay live
    m = compact_store(spark, store, runs=(2,))
    assert m["superseded_delete_runs"] == []
    assert len(read_delete_sets(spark, store)) == 1
    got = read_store(spark, store)
    assert got.count() == 680 - 15
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0

    # run 3 (id 3 < delete 4) still predates the delete, so compacting
    # run 1 alone must NOT retire it — retirement is metadata-level and
    # cannot know run 3 holds no matching keys
    m15 = compact_store(spark, store, runs=(1,))
    assert m15["superseded_delete_runs"] == []
    assert len(read_delete_sets(spark, store)) == 1
    # now fold run 3 as well: every remaining run (5, 6) is newer than
    # the delete → it retires, keys stop being scanned
    m2 = compact_store(spark, store, runs=(3,))
    assert m2["superseded_delete_runs"] == [4]
    assert read_delete_sets(spark, store) == []
    got2 = read_store(spark, store)
    assert got2.count() == 680 - 15
    assert got2.exceptAll(expected).count() == 0
    assert expected.exceptAll(got2).count() == 0


def test_compact_max_run_bytes_selects_small_runs(spark, tmp_path):
    from pysparkenc.lineage import compact_store, read_store, snapshots

    store, all_rows = _three_run_store(spark, tmp_path)
    sizes = {
        int(r["run_id"]): int(r["enc_bytes"])
        for r in snapshots(spark, store).collect()
        if r["operation"] in ("append", "stream-append")
    }
    # threshold between the small runs and the big one
    thresh = (sizes[2] + sizes[3]) // 2 + sizes[1] // 10
    thresh = max(sizes[2], sizes[3]) + 1
    assert thresh < sizes[1]
    m = compact_store(spark, store, max_run_bytes=thresh)
    assert m["selected_runs"] == [2, 3]
    assert m["bytes_selected"] == sizes[2] + sizes[3]
    assert read_store(spark, store).count() == 680
    # selecting nothing is a no-op, not an error
    m2 = compact_store(spark, store, max_run_bytes=1)
    assert m2["run_id"] == -1 and m2["selected_runs"] == []


def _recorded_plans(spark, path):
    return {
        (r["run_id"], r["partition_by"], r["num_partitions"])
        for r in read_lineage(spark, path).where(F.col("status") == "done")
        .collect()
    }


def _committed_doc_ids(spark, path, schema):
    return [r["doc_id"] for r in decode_table(
        read_committed_chunks(spark, path), schema).select("doc_id").collect()]


@pytest.fixture()
def docs300(spark):
    df = make_tokens_table(spark, 300, seed=5)
    df.cache().count()
    yield df
    df.unpersist()


def test_resume_with_another_num_partitions_refuses_before_writing(
        spark, docs300, tmp_path):
    """A part id is a function of the row only under one plan: resuming
    an 8-part run with 4 parts would skip rows that moved to committed
    ids and encode others twice. The resume raises before writing
    anything; one that leaves num_partitions=None reuses the recorded 8
    and completes the store with every doc exactly once."""
    import os

    path = str(tmp_path / "enc")
    by = ("source", "doc_id")
    encode_with_lineage(docs300, path, partition_by=by, num_partitions=8,
                        drop_part_ids=frozenset({1, 2, 3}))
    listing = sorted(os.listdir(f"{path}/chunks")), sorted(
        os.listdir(f"{path}/lineage"))
    with pytest.raises(ValueError, match="num_partitions=8"):
        encode_with_lineage(docs300, path, partition_by=by, num_partitions=4)
    with pytest.raises(ValueError, match="partition_by"):
        encode_with_lineage(docs300, path, partition_by=("doc_id",))
    assert (sorted(os.listdir(f"{path}/chunks")),
            sorted(os.listdir(f"{path}/lineage"))) == listing

    m = encode_with_lineage(docs300, path, partition_by=by)
    assert m["skipped_partitions"] == 5
    ids = _committed_doc_ids(spark, path, docs300.schema)
    assert len(ids) == 300 and len(set(ids)) == 300
    plan = '["source", "doc_id"]'
    assert _recorded_plans(spark, path) == {(1, plan, 8), (2, plan, 8)}


def test_resume_refuses_runs_recording_different_plans(spark, docs300,
                                                        tmp_path):
    path = str(tmp_path / "enc")
    encode_with_lineage(docs300, path, num_partitions=2)
    encode_with_lineage(docs300, path, num_partitions=3, resume=False)
    with pytest.raises(ValueError, match="different partition plans"):
        encode_with_lineage(docs300, path)
    # an append ignores the committed plans
    assert encode_with_lineage(docs300, path, num_partitions=4,
                               resume=False)["rows"] == 300


def test_resume_over_unrecorded_plan_keeps_callers_plan(spark, docs300,
                                                        tmp_path):
    """Lineage written before plans were recorded has no plan columns:
    they read as null, and a resume runs with the caller's plan,
    unchecked, as it always did."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "enc")
    by = ("source", "doc_id")
    encode_with_lineage(docs300, path, partition_by=by, num_partitions=8,
                        drop_part_ids=frozenset({1, 2, 3}))
    for f in (tmp_path / "enc" / "lineage").glob("*.parquet"):
        t = pq.read_table(f)
        pq.write_table(t.drop(["partition_by", "num_partitions"]), f)
    assert _recorded_plans(spark, path) == {(1, None, None)}
    m = encode_with_lineage(docs300, path, partition_by=by, num_partitions=8)
    assert m["skipped_partitions"] == 5
    ids = _committed_doc_ids(spark, path, docs300.schema)
    assert len(ids) == 300 and len(set(ids)) == 300


def test_resume_noop_append_carries_hint(spark, tmp_path):
    """encode_with_lineage with default resume=True on a store whose
    part ids are all committed is a no-op (correct for a true resume) —
    but the result must SAY so, because the same call shape is the
    classic accidental-append footgun."""
    from pysparkenc.lineage import encode_with_lineage

    store = str(tmp_path / "store")
    df = spark.range(20).select(F.col("id").alias("k"))
    r1 = encode_with_lineage(df, store, num_partitions=2)
    assert "hint" not in r1 and r1["rows"] == 20
    r2 = encode_with_lineage(df, store, num_partitions=2)  # oops: no-op
    assert r2["rows"] == 0 and r2["skipped_partitions"] == 2
    assert "resume=False" in r2.get("hint", "")
    # the intended append works and carries no hint
    r3 = encode_with_lineage(df, store, num_partitions=2, resume=False)
    assert r3["rows"] == 20 and "hint" not in r3


def _spark_lineage_oracle(spark, path, run_id, batch_id=-1):
    """The per-part done rows of ``run_id`` as the Spark aggregation
    over the run's chunk files computes them: rows = sum over page
    groups of the group's max n_rows, n_chunks = chunk rows."""
    per_group = (
        spark.read.parquet(f"{path}/chunks")
        .where(F.col("run_id") == run_id)
        .groupBy("part_id", "chunk_id")
        .agg(
            F.max("n_rows").alias("g_rows"),
            F.sum("n_values").alias("g_values"),
            F.sum("plain_bytes").alias("g_plain"),
            F.sum("enc_bytes").alias("g_enc"),
            F.count(F.lit(1)).alias("g_chunks"),
        )
    )
    rows = per_group.groupBy("part_id").agg(
        F.sum("g_rows").alias("n_rows"),
        F.sum("g_values").alias("n_values"),
        F.sum("g_plain").alias("plain_bytes"),
        F.sum("g_enc").alias("enc_bytes"),
        F.sum("g_chunks").alias("n_chunks"),
    ).collect()
    return sorted(
        (run_id, batch_id, r["part_id"], r["n_rows"], r["n_values"],
         r["plain_bytes"], r["enc_bytes"], r["n_chunks"], "done")
        for r in rows
    )


def _committed_rows(spark, path, run_id):
    # wall time and the recorded partition plan are not aggregated from
    # the chunk files
    cols = [f.name for f in read_lineage(spark, path).schema.fields
            if f.name not in ("wall_sec", "partition_by", "num_partitions")]
    return sorted(
        tuple(r) for r in read_lineage(spark, path)
        .where((F.col("run_id") == run_id) & (F.col("status") == "done"))
        .select(*cols).collect()
    )


def test_commit_rows_match_the_spark_aggregation(spark, tokens_df, tmp_path):
    """The driver-side commit record equals the Spark aggregation over
    the run's chunk files, column for column (wall time aside), for a
    plain encode, a resume after lost partitions, a streaming batch and
    a compaction."""
    from pysparkenc.lineage import compact_store

    path = str(tmp_path / "enc")
    kw = dict(partition_by=("source", "doc_id"), num_partitions=N_PARTS)
    runs = []
    m = encode_with_lineage(tokens_df, path, drop_part_ids=frozenset({0, 1}),
                            **kw)
    runs.append((m["run_id"], -1, N_PARTS - 2))
    m = encode_with_lineage(tokens_df, path, **kw)  # resume
    runs.append((m["run_id"], -1, 2))
    m = encode_with_lineage(tokens_df.limit(50), path, resume=False,
                            batch_id=4, rows_per_chunk=16, **kw)
    runs.append((m["run_id"], 4, m["partitions"]))
    m = compact_store(spark, path, num_partitions=3)
    runs.append((m["run_id"], -1, 3))
    for run_id, batch_id, n_parts in runs:
        want = _spark_lineage_oracle(spark, path, run_id, batch_id)
        assert len(want) == n_parts
        assert _committed_rows(spark, path, run_id) == want
    assert m["partitions"] == 3


def _spark_sql_visibility(spark, path, as_of_run):
    """The visibility rule as Spark SQL over the lineage records — the
    formulas ``read_committed_chunks`` and ``read_delete_sets`` ran
    before the commit plan was decided on the driver, kept as the
    oracle: done minus superseded pairs semi-joined to the chunk scan,
    and delete runs minus whole-run (part_id -1) markers."""
    lin = read_lineage(spark, path)
    done = (lin.where(F.col("status") == "done")
            .select("run_id", "part_id").distinct())
    sup = lin.where(F.col("status") == "superseded")
    dels = lin.where(F.col("status") == "delete").select("run_id")
    sup_dels = sup.where(F.col("part_id") == -1)
    if as_of_run is not None:
        done = done.where(F.col("run_id") <= as_of_run)
        sup = sup.where(F.col("batch_id") <= as_of_run)
        dels = dels.where(F.col("run_id") <= as_of_run)
        sup_dels = sup_dels.where(F.col("batch_id") <= as_of_run)
    live = done.join(F.broadcast(sup.select("run_id", "part_id").distinct()),
                     ["run_id", "part_id"], "left_anti")
    pairs = (spark.read.parquet(f"{path}/chunks")
             .join(F.broadcast(live), ["run_id", "part_id"], "left_semi")
             .select("run_id", "part_id").distinct().collect())
    live_dels = dels.join(sup_dels.select("run_id"), "run_id", "left_anti")
    return ({(r["run_id"], r["part_id"]) for r in pairs},
            sorted({r["run_id"] for r in live_dels.collect()}))


def test_commit_plan_matches_the_spark_sql_rule(spark, tmp_path,
                                                monkeypatch):
    """read_committed_chunks and read_delete_sets, planned by
    datasource._lineage_plan, return the same (run, part) pairs and
    delete runs as the Spark SQL rule at every as_of_run of a store
    holding an append, a stream batch, a delete, a selective and a full
    compaction (which supersedes the delete) and a quarantined run."""
    import pysparkenc.lineage as L
    from pysparkenc.lineage import compact_store, delete_rows, read_delete_sets

    path = str(tmp_path / "store")
    df = make_tokens_table(spark, 120, seed=61)
    stream = make_tokens_table(spark, 40, seed=62).withColumn(
        "doc_id", F.concat(F.lit("s-"), "doc_id"))
    encode_with_lineage(df, path, num_partitions=3)  # run 1
    encode_with_lineage(stream, path, num_partitions=2, resume=False,
                        batch_id=7)  # run 2
    delete_rows(spark, path, df.limit(5).select("doc_id"))  # run 3
    sel = compact_store(spark, path, runs=(2,), num_partitions=1)  # run 4
    assert sel["superseded_delete_runs"] == []  # run 1 still predates it
    full = compact_store(spark, path, num_partitions=2)  # run 5
    assert full["superseded_delete_runs"] == [3]
    encode_with_lineage(df.limit(30), path, num_partitions=1,
                        resume=False)  # run 6
    # a colliding writer on run 6 quarantines it (self-supersede)
    monkeypatch.setattr(L, "_next_run_id", lambda s, p: 6)
    with pytest.raises(RuntimeError, match="quarantined"):
        encode_with_lineage(df.limit(30), path, num_partitions=1,
                            resume=False)
    monkeypatch.undo()
    ops = {r["run_id"]: r["operation"]
           for r in L.snapshots(spark, path).collect()}
    assert ops == {1: "append", 2: "stream-append", 3: "delete",
                   4: "compact", 5: "compact", 6: "quarantined"}

    for as_of in (*range(1, 7), None):
        want_pairs, want_dels = _spark_sql_visibility(spark, path, as_of)
        got_pairs = {
            (r["part_id"] >> 32, r["part_id"] & 0xFFFFFFFF)
            for r in read_committed_chunks(spark, path, as_of_run=as_of)
            .select("part_id").distinct().collect()
        }
        assert got_pairs == want_pairs, as_of
        assert [r for r, _ in read_delete_sets(
            spark, path, as_of_run=as_of)] == want_dels, as_of
    # the rule did change the visible layout along the way
    assert _spark_sql_visibility(spark, path, 3)[1] == [3]
    assert {r for r, _ in _spark_sql_visibility(spark, path, None)[0]} == {5}


def test_resume_after_quarantine_reencodes_its_parts(spark, monkeypatch,
                                                     tmp_path):
    """A part whose only done rows belong to a quarantined run is not
    committed: the re-run the quarantine error asks for encodes it
    again. Before, the skip-set took every done row, the re-run encoded
    nothing, and the store kept only part 1's rows for good."""
    import pysparkenc.lineage as L
    from pysparkenc.lineage import read_store

    path = str(tmp_path / "enc")
    df = make_tokens_table(spark, 60, seed=5)
    kw = dict(partition_by=("source", "doc_id"), num_partitions=2)
    m1 = encode_with_lineage(df, path, drop_part_ids=frozenset({0}), **kw)
    # two resumes race to run 2: the first commits part 0, the second
    # (nothing left to encode) finds a run it did not write and
    # quarantines it
    monkeypatch.setattr(L, "_next_run_id", lambda s, p: 2)
    assert encode_with_lineage(df, path, **kw)["run_id"] == 2
    with pytest.raises(RuntimeError, match="quarantined"):
        encode_with_lineage(df, path, **kw)
    monkeypatch.undo()
    assert read_store(spark, path).count() == m1["rows"] < 60

    m3 = encode_with_lineage(df, path, **kw)
    assert (m3["run_id"], m3["skipped_partitions"]) == (3, 1)
    assert m1["rows"] + m3["rows"] == 60
    ids = [r["doc_id"] for r in read_store(spark, path).collect()]
    assert len(ids) == 60 and len(set(ids)) == 60
    # a part superseded by a compaction stays done: the one-part
    # compaction leaves part 1 done only in superseded run 1
    compact_run = L.compact_store(spark, path, num_partitions=1)["run_id"]
    m5 = encode_with_lineage(df, path, **kw)
    assert m5["rows"] == 0 and m5["skipped_partitions"] == 2
    assert compact_run == 4 and read_store(spark, path).count() == 60


def test_marker_only_compaction_keeps_its_run_id(spark, tmp_path):
    """A compaction whose selected rows were all deleted writes no
    rows and commits only supersede markers, which carry its id in
    ``batch_id``. The next run still gets a fresh id, so the history
    does not label that append ``compact``."""
    from pysparkenc.lineage import compact_store, delete_rows, snapshots

    path = str(tmp_path / "enc")
    df = make_tokens_table(spark, 40, seed=9)
    encode_with_lineage(df, path, num_partitions=2)  # run 1
    delete_rows(spark, path, df.select("doc_id"))  # run 2
    m = compact_store(spark, path, runs=(1,))
    assert (m["run_id"], m["partitions"]) == (3, 0)
    assert encode_with_lineage(df, path, num_partitions=2,
                               resume=False)["run_id"] == 4
    ops = {r["run_id"]: r["operation"]
           for r in snapshots(spark, path).collect()}
    assert ops == {1: "append", 2: "delete", 4: "append"}
