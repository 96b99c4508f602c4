"""Streaming ingest -> encode: availableNow drain, incremental restart,
exactly-once across the two mechanisms (stream checkpoint + lineage commit)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pysparkenc.engine import decode_table
from pysparkenc.lineage import read_committed_chunks
from pysparkenc.streaming import encode_stream
from pysparkenc.synth import make_tokens_table


def test_stream_encode_and_incremental_restart(spark, tmp_path):
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    enc = str(tmp_path / "enc")
    cp = str(tmp_path / "cp")

    # one deterministic table split into disjoint files, so doc_ids are
    # unique across the arriving batches
    full = make_tokens_table(spark, 500, seed=21)
    idx = F.substring("doc_id", -12, 12).cast("long")
    batch1 = full.where(idx < 300)
    batch2 = full.where(idx >= 300)
    batch1.write.mode("append").parquet(src)
    expected = {r["doc_id"]: r["tokens"] for r in batch1.collect()}
    schema = spark.read.parquet(src).schema

    def run_drain():
        q = encode_stream(
            spark.readStream.schema(schema).parquet(src),
            enc,
            checkpoint=cp,
            partition_by=("source", "doc_id"),
            num_partitions=4,
        )
        q.awaitTermination()

    run_drain()
    decoded = decode_table(read_committed_chunks(spark, enc), schema)
    got = {r["doc_id"]: r["tokens"] for r in decoded.collect()}
    assert got == expected

    # drop a second file; restarted stream must encode ONLY the new file
    # (stream checkpoint) and the combined view must decode bit-identically
    batch2.write.mode("append").parquet(src)
    expected.update({r["doc_id"]: r["tokens"] for r in batch2.collect()})
    run_drain()
    decoded = decode_table(read_committed_chunks(spark, enc), schema)
    got = {r["doc_id"]: r["tokens"] for r in decoded.collect()}
    assert got == expected

    # third drain with no new data: no new runs, still identical
    run_drain()
    decoded = decode_table(read_committed_chunks(spark, enc), schema)
    assert decoded.count() == len(expected)


def test_replayed_batch_id_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a replay of a fully-committed batch
    (same batch_id, checkpoint offset lost) must no-op — readers must not
    see duplicate rows."""
    from pysparkenc.lineage import encode_with_lineage

    enc = str(tmp_path / "enc")
    df = make_tokens_table(spark, 200, seed=31)
    df.cache().count()

    m1 = encode_with_lineage(df, enc, partition_by=("source", "doc_id"),
                             num_partitions=4, resume=False, batch_id=7)
    assert m1["rows"] == 200

    # simulate the replay: same batch_id, same data
    m2 = encode_with_lineage(df, enc, partition_by=("source", "doc_id"),
                             num_partitions=4, resume=False, batch_id=7)
    assert m2.get("replayed_batch") is True
    assert m2["rows"] == 0

    decoded = decode_table(read_committed_chunks(spark, enc), df.schema)
    assert decoded.count() == 200
    df.unpersist()


def test_replay_after_precommit_crash_recovers_exactly_once(spark, tmp_path):
    """Crash in the window AFTER chunk rows landed but BEFORE the lineage
    commit: the orphan chunks must stay invisible and the replayed batch
    (same batch_id) must re-encode in full — readers see each row exactly
    once, never zero or two copies."""
    from pyspark.sql import functions as F

    from pysparkenc.engine import encode_table
    from pysparkenc.lineage import encode_with_lineage, read_lineage

    enc = str(tmp_path / "enc")
    df = make_tokens_table(spark, 150, seed=41)
    df.cache().count()

    # simulate the crashed first attempt: chunks written as run_id=1,
    # process dies before the lineage append
    chunks = encode_table(df, partition_by=("source", "doc_id"),
                          num_partitions=4)
    (chunks.withColumn("run_id", F.lit(1))
     .write.mode("append").partitionBy("run_id").parquet(f"{enc}/chunks"))
    assert read_lineage(spark, enc).count() == 0

    # replayed batch: finds no done lineage rows for batch_id=3, encodes
    # everything again under a fresh run_id
    m = encode_with_lineage(df, enc, partition_by=("source", "doc_id"),
                            num_partitions=4, resume=False, batch_id=3)
    assert m.get("replayed_batch") is None and m["rows"] == 150

    decoded = decode_table(read_committed_chunks(spark, enc), df.schema)
    got = {r["doc_id"]: r["tokens"] for r in decoded.collect()}
    want = {r["doc_id"]: r["tokens"] for r in df.collect()}
    assert got == want  # exactly once: orphans invisible, replay complete

    # a second replay of the now-committed batch no-ops
    m2 = encode_with_lineage(df, enc, partition_by=("source", "doc_id"),
                             num_partitions=4, resume=False, batch_id=3)
    assert m2.get("replayed_batch") is True
    assert decode_table(read_committed_chunks(spark, enc), df.schema).count() == 150
    df.unpersist()


def test_lineage_commit_is_single_file(spark, tmp_path):
    """The lineage append is the commit record: one file per run, so its
    visibility is all-or-nothing (no partially-visible lineage after a
    mid-commit crash)."""
    import glob

    from pysparkenc.lineage import encode_with_lineage

    enc = str(tmp_path / "enc")
    df = make_tokens_table(spark, 100, seed=51)
    encode_with_lineage(df, enc, partition_by=("source", "doc_id"),
                        num_partitions=8)
    files = glob.glob(f"{enc}/lineage/part-*")
    assert len(files) == 1


def test_read_lineage_tolerates_pre_batch_id_dirs(spark, tmp_path):
    """A lineage dir written before the batch_id column existed reads with
    the explicit schema; missing batch_id surfaces as -1 (batch mode)."""
    from pysparkenc.lineage import read_lineage

    enc = str(tmp_path / "enc")
    old = spark.createDataFrame(
        [(1, 0, 10, 100, 1000, 500, 4, 1.5, "done")],
        "run_id long, part_id long, n_rows long, n_values long, "
        "plain_bytes long, enc_bytes long, n_chunks long, wall_sec double, "
        "status string",
    )
    old.write.parquet(f"{enc}/lineage")
    lin = read_lineage(spark, enc).collect()
    assert len(lin) == 1 and lin[0]["batch_id"] == -1
    assert lin[0]["n_rows"] == 10 and lin[0]["status"] == "done"


def test_replay_and_resume_on_pre_batch_id_lineage(spark, tmp_path):
    """The driver-side replay and resume reads handle a lineage dir
    whose files predate the batch_id column (and declare other
    nullability than the commit writer): the missing batch_id reads as
    -1, a batch replay is still a no-op, and a resume still skips the
    committed parts."""
    import shutil

    from pysparkenc.lineage import (
        encode_with_lineage,
        read_lineage,
        read_store,
    )

    enc = str(tmp_path / "enc")
    df = make_tokens_table(spark, 80, seed=31)
    kw = dict(partition_by=("source", "doc_id"), num_partitions=4)
    first = encode_with_lineage(df, enc, drop_part_ids=frozenset({2}), **kw)
    old = read_lineage(spark, enc).drop(
        "batch_id", "partition_by", "num_partitions").collect()
    shutil.rmtree(f"{enc}/lineage")
    spark.createDataFrame(
        old,
        "run_id long, part_id long, n_rows long, n_values long, "
        "plain_bytes long, enc_bytes long, n_chunks long, wall_sec double, "
        "status string",
    ).write.parquet(f"{enc}/lineage")

    resumed = encode_with_lineage(df, enc, **kw)
    assert resumed["skipped_partitions"] == first["partitions"] == 3
    assert first["rows"] + resumed["rows"] == 80

    more = make_tokens_table(spark, 20, seed=32).withColumn(
        "doc_id", F.concat(F.lit("b_"), F.col("doc_id")))
    b = encode_with_lineage(more, enc, resume=False, batch_id=0, **kw)
    assert b["rows"] == 20 and "replayed_batch" not in b
    again = encode_with_lineage(more, enc, resume=False, batch_id=0, **kw)
    assert again["replayed_batch"] and again["skipped_partitions"] == (
        b["partitions"])
    assert read_store(spark, enc).count() == 100
    assert {r["batch_id"] for r in read_lineage(spark, enc).collect()} == (
        {-1, 0})


def test_stream_rejects_batch_frame(spark, tmp_path):
    import pytest

    df = make_tokens_table(spark, 10, seed=1)
    with pytest.raises(ValueError, match="streaming DataFrame"):
        encode_stream(df, str(tmp_path / "x"), checkpoint=str(tmp_path / "cp"))


def test_windowed_counts_stream_matches_batch(spark, tmp_path):
    """The same windowed_counts expression runs in batch and streaming;
    with availableNow + complete mode the streaming result over the
    full file set must equal the batch aggregate exactly."""
    from pysparkenc.streaming import windowed_counts

    src = "/root/testdata/sf0.001/events.parquet"
    # watermarks require TIMESTAMP (event time); parquet infers NTZ here,
    # so cast identically on both sides of the comparison
    batch_df = spark.read.parquet(src).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    want = {
        (r["event_type"], r["window_start"]): (r["n_events"], r["sum_cents"])
        for r in windowed_counts(batch_df).collect()
    }
    assert want  # non-trivial input

    # the file stream source tails a DIRECTORY
    src_dir = str(tmp_path / "events")
    spark.read.parquet(src).write.parquet(src_dir)
    raw_schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(raw_schema).parquet(src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        windowed_counts(stream, watermark="2 hours")
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["event_type"], r["window_start"]): (r["n_events"], r["sum_cents"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got == want


def test_time_travel_over_streamed_micro_batches(spark, tmp_path):
    """Each micro-batch commit is a snapshot: as_of_run after the first
    drain shows exactly batch 1's rows even after batch 2 lands."""
    from pysparkenc.lineage import snapshots

    src = str(tmp_path / "src")
    enc = str(tmp_path / "enc")
    cp = str(tmp_path / "cp")
    full = make_tokens_table(spark, 300, seed=61)
    idx = F.substring("doc_id", -12, 12).cast("long")
    full.where(idx < 200).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    def drain():
        encode_stream(
            spark.readStream.schema(schema).parquet(src), enc,
            checkpoint=cp, partition_by=("source", "doc_id"),
            num_partitions=4,
        ).awaitTermination()

    drain()
    run1 = max(r["run_id"] for r in snapshots(spark, enc).collect())
    n1 = decode_table(read_committed_chunks(spark, enc), schema).count()

    full.where(idx >= 200).write.mode("append").parquet(src)
    drain()
    assert decode_table(read_committed_chunks(spark, enc), schema).count() == 300
    snap = decode_table(
        read_committed_chunks(spark, enc, as_of_run=run1), schema
    )
    assert snap.count() == n1
    ids = {r["doc_id"] for r in snap.select("doc_id").collect()}
    want = {r["doc_id"] for r in full.where(idx < 200).collect()}
    assert ids == want


def test_sessionize_stream_matches_batch_for_closed_sessions(spark, tmp_path):
    """applyInPandasWithState sessionization: every session the stream
    CLOSES (event-time timeout = session_end + gap passing the
    watermark) must equal the batch sessionize row exactly — same gap
    rule, same cents sums, same per-user ordinal — and every session
    the watermark provably passed must have been emitted."""
    from pysparkenc.events import sessionize
    from pysparkenc.streaming import sessionize_stream

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = "/root/testdata/sf0.001/events.parquet"
    batch_df = spark.read.parquet(src).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    batch = {
        (r["user_id"], r["session_id"]):
        (r["session_start"], r["session_end"], r["n_events"], r["sum_cents"])
        for r in sessionize(batch_df).collect()
    }

    # time-ordered files => the watermark advances monotonically batch
    # to batch and closes sessions as it passes them
    rows = batch_df.orderBy("ts").collect()
    qs = [len(rows) * i // 4 for i in range(5)]
    src_dir = str(tmp_path / "ev")
    for i in range(4):
        spark.createDataFrame(rows[qs[i]:qs[i + 1]], batch_df.schema) \
            .coalesce(1).write.mode("append").parquet(src_dir)

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1).parquet(src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        sessionize_stream(stream, gap_minutes=30, watermark="1 minute")
        .writeStream.format("memory").queryName("sess_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["session_id"]):
        (r["session_start"], r["session_end"], r["n_events"], r["sum_cents"])
        for r in spark.sql("SELECT * FROM sess_stream").collect()
    }
    assert got  # the stream actually closed sessions
    # exactness: every emitted session is byte-for-byte the batch session
    for key, val in got.items():
        assert batch[key] == val, key
    # coverage: any session whose close decision the final watermark
    # passed with a full gap+delay margin must have been emitted
    import datetime as dt

    max_ts = max(r["ts"] for r in rows)
    margin = dt.timedelta(minutes=31)  # gap 30m + 1m watermark delay
    must_emit = {k for k, v in batch.items() if v[1] + margin < max_ts - margin}
    assert must_emit <= set(got)


def test_compact_mid_stream_then_continue(spark, tmp_path):
    """Compact a streamed store between micro-batch drains: the
    compaction run supersedes the streamed runs, later micro-batches
    append on top (their batch_id idempotency check only matches
    status='done' rows, so compaction markers can never make a new
    batch falsely no-op), and the combined view stays bit-identical."""
    from pysparkenc.lineage import compact_store
    from pysparkenc.streaming import encode_stream

    src = str(tmp_path / "src")
    enc = str(tmp_path / "enc")
    cp = str(tmp_path / "cp")
    full = make_tokens_table(spark, 400, seed=33)
    idx = F.substring("doc_id", -12, 12).cast("long")
    full.where(idx < 250).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    def drain():
        encode_stream(
            spark.readStream.schema(schema).parquet(src), enc,
            checkpoint=cp, partition_by=("source", "doc_id"),
            num_partitions=3,
        ).awaitTermination()

    drain()
    m = compact_store(spark, enc, partition_by=("source", "doc_id"),
                      num_partitions=2)
    assert m["superseded"] > 0

    full.where(idx >= 250).write.mode("append").parquet(src)
    drain()
    decoded = decode_table(read_committed_chunks(spark, enc), schema)
    got = {r["doc_id"]: list(r["tokens"]) for r in decoded.collect()}
    want = {r["doc_id"]: list(r["tokens"]) for r in full.collect()}
    assert got == want
