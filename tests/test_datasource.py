"""The ``pysparkenc`` Spark data source: write/read/schema-inference/
filter-pushdown through ``spark.read.format("pysparkenc")``."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    StringStartsWith,
)

from pysparkenc.datasource import (
    ChunkStoreReader,
    register,
)


@pytest.fixture(autouse=True)
def _registered(spark):
    register(spark)


def _chunk_files(store):
    """``(run id, chunk file)`` of every chunk file of a store."""
    return sorted(
        (int(d.split("=", 1)[1]), os.path.join(store, "chunks", d, f))
        for d in os.listdir(os.path.join(store, "chunks"))
        for f in os.listdir(os.path.join(store, "chunks", d))
        if f.endswith(".parquet")
    )


def _mixed_df(spark):
    return spark.sql(
        """
        SELECT id,
               IF(id % 7 = 0, NULL, concat('doc-', id)) AS name,
               cast(id * 1.5 AS double) AS score,
               array(id, id + 1) AS xs,
               named_struct('a', id, 'b', concat('s', id)) AS st,
               map('k', id) AS m
        FROM range(3000)
        """
    ).repartition(3)


def test_write_read_roundtrip(spark, tmp_path):
    store = str(tmp_path / "store")
    df = _mixed_df(spark)
    df.write.format("pysparkenc").mode("overwrite").save(store)
    back = spark.read.format("pysparkenc").load(store)
    assert back.schema == df.schema  # the recorded run schema
    o = {r["id"]: r.asDict(True) for r in df.collect()}
    b = {r["id"]: r.asDict(True) for r in back.collect()}
    assert b == o


def test_filters_are_reapplied_correctly(
    spark, tmp_path, filter_pushdown
):
    store = str(tmp_path / "store")
    _mixed_df(spark).write.format("pysparkenc").mode("overwrite").save(store)
    back = spark.read.format("pysparkenc").load(store)
    assert back.where("id >= 100 and id < 250").count() == 150
    assert back.where(F.col("name") == "doc-123").count() == 1
    assert back.where("name is not null").count() == 3000 - len(
        range(0, 3000, 7)
    )
    assert back.where(F.col("name").startswith("doc-29")).count() == len(
        [i for i in range(3000) if i % 7 and str(i).startswith("29")]
    )
    assert back.where(F.col("id").isin(5, 6, 2999, 99999)).count() == 3


@pytest.mark.parametrize("writer", ["format", "lineage"])
def test_filtered_then_unfiltered_query_counts_every_row(
    spark, tmp_path, writer
):
    """``register`` leaves Python filter pushdown off, so one ``load()``
    DataFrame queried with a pruning filter and then without one still
    reads every row. (With pushdown on, Spark 4.1 reuses the reader it
    planned for the filter, and the second count sees only the page
    groups the filter kept.)"""
    from pysparkenc.lineage import encode_with_lineage

    store = str(tmp_path / "store")
    src = spark.sql(
        "SELECT id, concat('doc-', id) AS doc_id FROM range(3000)"
    ).coalesce(1).sortWithinPartitions("id")
    if writer == "format":
        src.write.format("pysparkenc").mode("overwrite").option(
            "rows_per_chunk", "256").save(store)
    else:
        encode_with_lineage(src, store, num_partitions=1, rows_per_chunk=256,
                            sort_by=("id",))
    assert spark.conf.get(
        "spark.sql.python.filterPushdown.enabled", "false") == "false"
    df = spark.read.format("pysparkenc").load(store)
    assert df.where(F.col("doc_id") == "doc-1234").count() == 1
    assert df.count() == 3000
    assert df.select("doc_id").distinct().count() == 3000


def test_repeated_group_roundtrip(spark, tmp_path):
    """Repeated-group nesting (array<struct>, array<array>) must survive
    the data source unchanged — the store reuses the engine's recursive
    shredder, but the writer/reader glue slices and regroups its own
    batches, so pin it end-to-end here too."""
    store = str(tmp_path / "store")
    df = spark.sql(
        """
        SELECT id,
               IF(id % 5 = 0, NULL,
                  array(named_struct('s', id, 'w', concat('w', id)),
                        named_struct('s', id + 1,
                                     'w', IF(id % 3 = 0, NULL, 'x')))
               ) AS spans,
               array(array(id, id + 1), array(), array(id * 2)) AS mat
        FROM range(2000)
        """
    ).repartition(2)
    df.write.format("pysparkenc").mode("overwrite").save(store)
    back = spark.read.format("pysparkenc").load(store)
    assert back.schema == df.schema
    o = {r["id"]: r.asDict(True) for r in df.collect()}
    b = {r["id"]: r.asDict(True) for r in back.collect()}
    assert b == o


def test_overwrite_replaces_previous_store(spark, tmp_path):
    store = str(tmp_path / "store")
    spark.range(100).write.format("pysparkenc").mode("overwrite").save(store)
    spark.range(40).write.format("pysparkenc").mode("overwrite").save(store)
    assert spark.read.format("pysparkenc").load(store).count() == 40


def test_append_accumulates_and_checks_schema(spark, tmp_path):
    """Appends to a fresh path and then to the store follow the lineage
    schema rule: a column may be added, a type change is refused."""
    store = str(tmp_path / "store")
    spark.range(100).write.format("pysparkenc").mode("append").save(store)
    spark.range(50).write.format("pysparkenc").mode("append").save(store)
    assert spark.read.format("pysparkenc").load(store).count() == 150
    spark.sql("SELECT id, 'x' AS extra FROM range(5)").write.format(
        "pysparkenc"
    ).mode("append").save(store)
    back = spark.read.format("pysparkenc").load(store)
    assert back.count() == 155
    assert back.where(F.col("extra").isNull()).count() == 150
    with pytest.raises(Exception, match="schema evolution"):
        spark.sql("SELECT 'x' AS id FROM range(5)").write.format(
            "pysparkenc"
        ).mode("append").save(store)


def test_empty_store_reads_empty(spark, tmp_path):
    store = str(tmp_path / "store")
    spark.range(10).limit(0).write.format("pysparkenc").mode("append").save(store)
    back = spark.read.format("pysparkenc").load(store)
    assert back.count() == 0
    assert "id" in back.columns


def test_reader_prunes_page_groups(spark, tmp_path):
    """Pushed predicates must skip whole page groups before decode: a
    selective range on sorted ids decodes a handful of pages, an
    impossible dictionary probe decodes zero."""
    store = str(tmp_path / "store")
    df = (
        spark.sql(
            "SELECT id, concat('cat-', id % 8) AS cat FROM range(100000)"
        )
        .coalesce(1)
        .sortWithinPartitions("id")
    )
    df.write.format("pysparkenc").mode("overwrite").option(
        "rows_per_chunk", "2048"
    ).save(store)
    schema = spark.read.format("pysparkenc").load(store).schema
    files = _chunk_files(store)

    def rows_read(filters):
        r = ChunkStoreReader(store, schema)
        if filters:
            r.pushFilters(filters)
        return sum(
            b.num_rows for f in files
            for b in r.read(InputPartition((f,)))
        )

    total = rows_read([])
    assert total == 100000
    ranged = rows_read(
        [GreaterThanOrEqual(("id",), 5000), LessThan(("id",), 7000)]
    )
    assert ranged <= 3 * 2048  # only the overlapping pages decode
    assert rows_read([EqualTo(("cat",), "cat-nope")]) == 0  # dict probe
    assert rows_read([In(("cat",), ("cat-1", "cat-nope"))]) == total
    # unknown/unsupported predicate shapes must be ignored, not crash
    assert rows_read([StringStartsWith(("cat",), "cat-")]) == total


def test_unique_file_per_task(spark, tmp_path):
    store = str(tmp_path / "store")
    spark.range(1000).repartition(5).write.format("pysparkenc").mode("append").save(store)
    files = _chunk_files(store)
    assert len(files) == 5
    assert {r for r, _ in files} == {1}  # one run, one file per task
    assert len(set(os.path.basename(f) for _, f in files)) == 5


def test_stream_write_availablenow(spark, tmp_path):
    src, store, ckpt = (str(tmp_path / x) for x in ("src", "store", "ckpt"))
    spark.sql(
        "SELECT id, concat('n-', id) AS name FROM range(2000)"
    ).repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema
    q = (
        spark.readStream.schema(schema).parquet(src)
        .writeStream.format("pysparkenc")
        .option("path", store)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    back = spark.read.format("pysparkenc").load(store)
    o = {r["id"]: r["name"] for r in spark.read.parquet(src).collect()}
    b = {r["id"]: r["name"] for r in back.collect()}
    assert b == o
    staging = tmp_path / "store" / "_staging"
    assert not staging.exists() or not any(staging.iterdir())


def test_stream_commit_is_replay_idempotent(spark, tmp_path):
    """A replayed batchId (a crash after the commit, before the
    checkpoint advanced) commits nothing and leaves ``_staging/`` empty,
    whatever its task count; the next batchId commits a fresh run."""
    import pyarrow as pa

    from pysparkenc.datasource import ChunkStoreStreamWriter
    from pysparkenc.lineage import read_lineage, read_store

    store = str(tmp_path / "store")
    w = ChunkStoreStreamWriter(store, spark.range(1).schema, {}, False)
    staging = tmp_path / "store" / "_staging"

    def stage(*sizes):
        return [w.write(iter([pa.record_batch({"id": list(range(n))})]))
                for n in sizes]

    w.commit(stage(7), batchId=7)
    assert read_store(spark, store).count() == 7
    w.commit(stage(2), batchId=7)  # replay with fewer tasks
    w.commit(stage(5, 1, 1), batchId=7)  # and with more
    assert read_store(spark, store).count() == 7
    assert not any(staging.iterdir())
    w.commit(stage(2), batchId=8)
    assert read_store(spark, store).count() == 9
    done = read_lineage(spark, store).where("status = 'done'")
    assert sorted((r["run_id"], r["batch_id"]) for r in
                  done.select("run_id", "batch_id").distinct().collect()) == [
        (1, 7), (2, 8)]


def test_stream_read_tails_appends(spark, tmp_path):
    """readStream over a chunk store: first micro-batch picks up the
    snapshot, later appends arrive in the next availableNow pass."""
    store, out, ckpt = (str(tmp_path / x) for x in ("store", "out", "ckpt"))
    spark.sql(
        "SELECT id, concat('n-', id) AS name FROM range(1000)"
    ).repartition(2).write.format("pysparkenc").mode("overwrite").save(store)

    def drain():
        q = (
            spark.readStream.format("pysparkenc").load(store)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert spark.read.parquet(out).count() == 1000
    spark.sql(
        "SELECT id, concat('n-', id) AS name FROM range(1000, 1500)"
    ).coalesce(1).write.format("pysparkenc").mode("append").save(store)
    drain()
    got = spark.read.parquet(out)
    o = {
        r["id"]: r["name"]
        for r in spark.read.format("pysparkenc").load(store).collect()
    }
    b = {r["id"]: r["name"] for r in got.collect()}
    assert b == o


def _stream_into(spark, src, store, ckpt):
    """Drain every file of ``src`` into ``store`` through the sink."""
    q = (
        spark.readStream.schema("id long, name string").parquet(src)
        .writeStream.format("pysparkenc")
        .option("path", store)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def _tail(spark, store, out, ckpt):
    """Drain the committed runs of ``store`` not yet read under
    ``ckpt`` into the parquet dir ``out``; raises what the query
    raised."""
    q = (
        spark.readStream.format("pysparkenc").load(store)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.exception() is not None:
        raise q.exception()


def _rows(lo, hi):
    return f"SELECT id, concat('n-', id) AS name FROM range({lo}, {hi})"


def test_stream_write_delete_then_tail_equals_read_store(spark, tmp_path):
    """Two sink batches (one checkpoint, so batch ids continue), then a
    delete: a tail started afterwards reads exactly what read_store
    reads — the deletes visible at its end offset apply."""
    from pysparkenc.lineage import delete_rows, read_store, snapshots

    src, store, ck, out, ck2 = (
        str(tmp_path / x) for x in ("src", "store", "ck", "out", "ck2"))
    spark.sql(_rows(0, 300)).coalesce(1).write.parquet(src)
    _stream_into(spark, src, store, ck)
    spark.sql(_rows(300, 500)).coalesce(1).write.mode("append").parquet(src)
    _stream_into(spark, src, store, ck)
    ops = {(r["batch_id"], r["operation"])
           for r in snapshots(spark, store).collect()}
    assert ops == {(0, "stream-append"), (1, "stream-append")}
    delete_rows(spark, store, spark.sql(
        "SELECT id FROM range(0, 500) WHERE id % 10 = 0"), key_cols=("id",))
    _tail(spark, store, out, ck2)
    got = spark.read.parquet(out)
    exp = read_store(spark, store)
    assert got.count() == exp.count() == 450
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_stream_tail_across_compaction(spark, tmp_path):
    """A compaction of runs the tail already read is invisible to it; a
    compaction of a run it has not read raises, naming the run, rather
    than dropping or duplicating its rows."""
    from pysparkenc.lineage import compact_store

    store, out, ck = (str(tmp_path / x) for x in ("store", "out", "ck"))
    for lo, hi in ((0, 100), (100, 150)):
        spark.sql(_rows(lo, hi)).write.format("pysparkenc").mode(
            "append").save(store)
    _tail(spark, store, out, ck)
    compact_store(spark, store, num_partitions=1)  # runs 1, 2: read
    spark.sql(_rows(150, 170)).write.format("pysparkenc").mode(
        "append").save(store)
    _tail(spark, store, out, ck)
    assert sorted(r["id"] for r in spark.read.parquet(out).collect()) == (
        list(range(170)))
    spark.sql(_rows(170, 190)).write.format("pysparkenc").mode(
        "append").save(store)  # run 5, never read
    compact_store(spark, store, runs=(5,), num_partitions=1)
    with pytest.raises(Exception, match=r"append run\(s\) \[5\] were rewritten"):
        _tail(spark, store, out, ck)


def test_overwrite_is_a_snapshot(spark, tmp_path):
    """Overwrite of a store holding data and deletes reads only the new
    rows, lists as a compaction, and time travel to the runs before it
    still reads the old table; an empty overwrite reads back empty
    under its own schema."""
    from pysparkenc.lineage import delete_rows, read_store, snapshots

    store = str(tmp_path / "store")
    spark.range(100).write.format("pysparkenc").mode("append").save(store)
    spark.range(100, 120).write.format("pysparkenc").mode("append").save(
        store)
    delete_rows(spark, store, spark.range(10), key_cols=("id",))  # run 3
    new = spark.sql("SELECT concat('s', id) AS id, id AS v FROM range(7)")
    new.write.format("pysparkenc").mode("overwrite").save(store)  # run 4
    for got in (spark.read.format("pysparkenc").load(store),
                read_store(spark, store)):
        assert got.schema == new.schema
        assert got.exceptAll(new).count() == 0
        assert new.exceptAll(got).count() == 0
    ops = {r["run_id"]: r["operation"]
           for r in snapshots(spark, store).collect()}
    assert ops == {1: "append", 2: "append", 3: "delete", 4: "compact"}
    old = spark.read.format("pysparkenc").option("as_of_run", 3).load(store)
    assert sorted(r["id"] for r in old.collect()) == list(range(10, 120))
    assert read_store(spark, store, as_of_run=2).count() == 120

    spark.range(5).selectExpr("id AS w").limit(0).write.format(
        "pysparkenc").mode("overwrite").save(store)
    empty = spark.read.format("pysparkenc").load(store)
    assert empty.columns == ["w"] and empty.count() == 0
    assert read_store(spark, store).columns == ["w"]
    assert read_store(spark, store, as_of_run=4).count() == 7


def test_flat_layout_is_refused(spark, tmp_path):
    """A directory in the retired flat layout (schema sidecar, chunk
    files, no lineage/) is refused on load, save and both stream
    directions, naming the path; nothing is written into it."""
    import json

    from pysparkenc.datasource import ChunkStoreDataSource

    flat = tmp_path / "flat"
    (flat / "chunks").mkdir(parents=True)
    (flat / "_pysparkenc_schema.json").write_text(json.dumps(
        {"version": 1, "schema": spark.range(1).schema.jsonValue()}))
    before = sorted(p.name for p in flat.rglob("*"))
    msg = "flat layout is no longer supported"
    with pytest.raises(Exception, match=msg):
        spark.read.format("pysparkenc").load(str(flat)).count()
    for mode in ("append", "overwrite"):
        with pytest.raises(Exception, match=msg):
            spark.range(3).write.format("pysparkenc").mode(mode).save(
                str(flat))
    ds = ChunkStoreDataSource({"path": str(flat)})
    with pytest.raises(ValueError, match=re.escape(str(flat))):
        ds.streamReader(spark.range(1).schema)
    with pytest.raises(ValueError, match=msg):
        ds.streamWriter(spark.range(1).schema, False)
    assert sorted(p.name for p in flat.rglob("*")) == before


def test_reader_bin_packs_small_files_into_partitions(spark, tmp_path):
    """Many tiny chunk files (a streaming-append tail) must NOT cost one
    Python worker round-trip each: partitions() bin-packs them by bytes.
    The scan result is unchanged."""
    from pysparkenc.datasource import ChunkStoreReader, register

    register(spark)
    store = str(tmp_path / "store")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # 12 appends -> many small chunk files
    for i in range(12):
        part = docs.where(F.pmod(F.col("doc_id"), F.lit(12)) == i)
        part.write.format("pysparkenc").mode("append").save(store)
    back = spark.read.format("pysparkenc").load(store)
    assert back.count() == docs.count()
    reader = ChunkStoreReader(store, back.schema)
    n_files = len(_chunk_files(store))
    n_parts = len(reader.partitions())
    assert n_files >= 12
    assert n_parts < n_files  # tiny files of many runs actually grouped


def test_one_wave_store_reads_in_one_task_wave(spark, tmp_path,
                                               monkeypatch):
    """A run written by one wave of 4 encode tasks reads in 4 tasks, one
    per file, through the planner and ``read_store`` alike (on a host of
    at least 4 CPUs, as the ``local[4]`` session); a delete run adds no
    task, and every read path returns the source minus the deleted
    keys."""
    from pysparkenc.lineage import delete_rows, read_store

    monkeypatch.setattr(os, "cpu_count", lambda: 4)

    store, df = _lineage_store(spark, tmp_path)
    gone = df.limit(9).select("doc_id")
    delete_rows(spark, store, gone)
    files = _chunk_files(store)
    assert len(files) == 4
    back = spark.read.format("pysparkenc").load(store)
    parts = ChunkStoreReader(store, back.schema).partitions()
    assert len(parts) == 4
    pairs = [pair for p in parts for pair in p.value]
    assert sorted(pairs) == files and len(set(pairs)) == len(pairs)
    exp = df.join(gone, "doc_id", "left_anti").select(*df.columns)
    assert exp.count() == 151
    got = read_store(spark, store)
    assert got.rdd.getNumPartitions() == 4
    for out in (got, back):
        assert out.exceptAll(exp).count() == 0
        assert exp.exceptAll(out).count() == 0


def test_bin_pack_splits_by_spark_file_rule(tmp_path):
    """``_bin_pack`` as a pure function over real files of known sizes:
    one partition per file of a one-wave run, a tail of tiny one-file
    runs packed under the cap, a file above the cap alone, input order
    kept and every pair placed once. No live file still plans one
    empty partition."""
    from pyspark.sql.types import StructType

    from pysparkenc.datasource import _MAX_SPLIT, _OPEN_COST, _bin_pack

    def made(name, size):
        f = tmp_path / name
        with open(f, "wb") as fh:
            fh.truncate(size)
        return str(f)

    def flat(groups):
        return [pair for g in groups for pair in g]

    wave = [(1, made(f"w{i}.parquet", 800_000 + 1000 * i)) for i in range(4)]
    assert _bin_pack(wave, 4) == [(p,) for p in wave]

    wide = [(1, made(f"s{i}.parquet", 1000)) for i in range(24)]
    groups = _bin_pack(wide, 4)
    assert [len(g) for g in groups] == [6, 6, 6, 6]
    assert flat(groups) == wide

    tail = [(r, made(f"t{r}.parquet", 1000)) for r in range(2, 32)]
    groups = _bin_pack(tail, 1)
    assert 1 < len(groups) < len(tail)
    assert all(len(g) * (1000 + _OPEN_COST) <= _MAX_SPLIT for g in groups)
    assert flat(groups) == tail

    big = (40, made("big.parquet", _MAX_SPLIT + 1))
    mixed = [*wave, big, *tail[:3]]
    groups = _bin_pack(mixed, 4)
    assert (big,) in groups
    assert flat(groups) == mixed

    empty = ChunkStoreReader(str(tmp_path / "nothing"), StructType())
    (only,) = empty.partitions()
    assert only.value is None


def test_run_of_many_tiny_files_packs_to_the_slots(
        spark, tmp_path, monkeypatch):
    """One run written by more tasks than the host has CPUs (an append
    after a wide shuffle) must NOT cost one Python worker round-trip per
    file: its width is bounded by the CPU count, so 24 tiny files plan 4
    or 5 partitions on a 4-CPU host (the greedy split may spill one),
    and the scan result is unchanged."""
    from pysparkenc.lineage import read_store

    store = str(tmp_path / "store")
    src = spark.sql(_rows(0, 2400))
    src.repartition(24).write.format("pysparkenc").mode("append").save(store)
    files = _chunk_files(store)
    assert len(files) == 24 and {r for r, _ in files} == {1}
    back = spark.read.format("pysparkenc").load(store)
    monkeypatch.setattr(os, "cpu_count", lambda: 4)
    parts = ChunkStoreReader(store, back.schema).partitions()
    assert 4 <= len(parts) <= 5
    assert sorted(pair for p in parts for pair in p.value) == files
    monkeypatch.undo()
    for out in (back, read_store(spark, store)):
        assert out.exceptAll(src).count() == 0
        assert src.exceptAll(out).count() == 0


def test_stream_source_splits_a_wide_run(spark, tmp_path, monkeypatch):
    """A micro-batch whose range holds one 4-file append run plans 4
    partitions (on a host of at least 4 CPUs), and reads what
    ``read_store`` reads at its end offset for that run, the later
    delete applied."""
    import pyarrow as pa

    from pysparkenc.datasource import ChunkStoreStreamReader
    from pysparkenc.lineage import delete_rows, read_store

    monkeypatch.setattr(os, "cpu_count", lambda: 4)

    store = str(tmp_path / "store")
    spark.sql(_rows(0, 100)).coalesce(1).write.format("pysparkenc").mode(
        "append").save(store)
    spark.sql(_rows(100, 900)).repartition(4).write.format(
        "pysparkenc").mode("append").save(store)
    delete_rows(spark, store, spark.sql(
        "SELECT id FROM range(0, 900) WHERE id % 7 = 0"), key_cols=("id",))
    assert len([r for r, _ in _chunk_files(store) if r == 2]) == 4
    schema = spark.read.format("pysparkenc").load(store).schema
    src = ChunkStoreStreamReader(store, schema)
    parts = src.partitions({"run": 1}, {"run": 3})
    assert len(parts) == 4
    got = pa.Table.from_batches(
        [b for p in parts for b in src.read(p)]).sort_by("id")
    exp = read_store(spark, store, as_of_run=3, runs=(2,)).toArrow()
    assert got.num_rows == 800 - 114
    assert got.to_pylist() == exp.sort_by("id").to_pylist()


# ---------------------------------------------------------------------------
# lineage-managed stores through the data source
# ---------------------------------------------------------------------------

def _lineage_store(spark, tmp_path, n=160, seed=21):
    from pysparkenc.lineage import encode_with_lineage
    from pysparkenc.synth import make_tokens_table

    store = str(tmp_path / "linstore")
    df = make_tokens_table(spark, n, seed=seed)
    encode_with_lineage(df, store, partition_by=("source", "doc_id"),
                        num_partitions=4)
    return store, df


def test_lineage_store_schema_recovery(spark, tmp_path):
    store, df = _lineage_store(spark, tmp_path)
    back = spark.read.format("pysparkenc").load(store)
    assert [f.name for f in back.schema.fields] == df.columns
    assert back.count() == 160


def test_lineage_store_applies_deletes_through_format(spark, tmp_path):
    """The r4 seam: a format() read must agree with read_store on a
    maintained store — committed deletes apply, even when the
    projection drops the key column."""
    from pysparkenc.lineage import delete_rows, read_store

    store, df = _lineage_store(spark, tmp_path)
    victims = df.limit(11).select("doc_id")
    delete_rows(spark, store, victims)
    back = spark.read.format("pysparkenc").load(store)
    exp = read_store(spark, store)
    assert back.count() == 149
    assert back.exceptAll(exp).count() == 0
    assert exp.exceptAll(back).count() == 0
    # projection narrower than the delete keys: doc_id is decoded for
    # the anti-membership filter, then dropped
    narrow = spark.read.format("pysparkenc").load(store).select(
        "source", "n_tok"
    )
    nexp = exp.select("source", "n_tok")
    assert narrow.exceptAll(nexp).count() == 0
    assert nexp.exceptAll(narrow).count() == 0


def test_lineage_store_compacted_unexpired_reads_once(spark, tmp_path):
    """A compacted-but-unexpired store holds BOTH layouts on disk; the
    data source must read exactly the compacted one — never the union
    (double rows), never the stale one."""
    from pysparkenc.lineage import compact_store

    store, df = _lineage_store(spark, tmp_path)
    compact_store(spark, store)
    # both layouts really are on disk
    run_dirs = sorted(
        d for d in os.listdir(os.path.join(store, "chunks"))
        if d.startswith("run_id=")
    )
    assert len(run_dirs) == 2
    back = spark.read.format("pysparkenc").load(store)
    assert back.count() == 160
    assert back.exceptAll(df).count() == 0
    assert df.exceptAll(back).count() == 0


def test_lineage_store_orphan_run_invisible(spark, tmp_path):
    """Chunk files with no committed lineage row (a crashed encode)
    must not be read through the data source."""
    import shutil

    store, df = _lineage_store(spark, tmp_path)
    # simulate a crash: a full chunk dir for run 99, no lineage rows
    src = os.path.join(store, "chunks", "run_id=1")
    shutil.copytree(src, os.path.join(store, "chunks", "run_id=99"))
    back = spark.read.format("pysparkenc").load(store)
    assert back.count() == 160


def test_lineage_store_as_of_run_option(spark, tmp_path):
    from pysparkenc.lineage import delete_rows

    store, df = _lineage_store(spark, tmp_path)
    delete_rows(spark, store, df.limit(9).select("doc_id"))
    now = spark.read.format("pysparkenc").load(store)
    assert now.count() == 151
    before = (
        spark.read.format("pysparkenc").option("as_of_run", "1").load(store)
    )
    assert before.count() == 160


def test_lineage_store_multicol_delete_keys(spark, tmp_path):
    from pysparkenc.lineage import delete_rows, read_store

    store, df = _lineage_store(spark, tmp_path)
    victims = df.limit(7).select("source", "doc_id")
    delete_rows(spark, store, victims, key_cols=("source", "doc_id"))
    back = spark.read.format("pysparkenc").load(store)
    exp = read_store(spark, store)
    assert back.count() == 153
    assert back.exceptAll(exp).count() == 0
    assert exp.exceptAll(back).count() == 0


def test_lineage_store_stream_replay_commits_nothing(spark, tmp_path):
    """writeStream into a store encode_with_lineage wrote commits one
    run per micro-batch; when Spark replays a batch whose commit landed
    (its checkpoint commit entry lost), the sink commits nothing and
    leaves ``_staging/`` empty."""
    from pysparkenc.lineage import read_store, snapshots

    store, df = _lineage_store(spark, tmp_path)  # run 1, 160 rows
    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    extra = df.withColumn("doc_id", F.concat(F.lit("s_"), F.col("doc_id")))
    extra.limit(30).coalesce(1).write.parquet(src)

    def drain():
        q = (spark.readStream.schema(extra.schema).parquet(src)
             .writeStream.format("pysparkenc").option("path", store)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        assert q.exception() is None, q.exception()

    drain()
    assert read_store(spark, store).count() == 190
    for f in ("0", ".0.crc"):  # batch 0's commit entry: it replays
        os.remove(os.path.join(ck, "commits", f))
    drain()
    assert read_store(spark, store).count() == 190
    assert [(r["run_id"], r["batch_id"], r["operation"])
            for r in snapshots(spark, store).collect()] == [
        (2, 0, "stream-append"), (1, -1, "append")]
    assert not os.listdir(os.path.join(store, "_staging"))


def test_lineage_store_append_commits_a_run(spark, tmp_path):
    """mode('append') on a lineage store IS a lineage commit: a fresh
    run id, chunks under run_id=<r>/, per-partition lineage rows — so
    read_store and the format() read agree, resume/batch machinery sees
    the run, and time travel to before the append still works."""
    from pysparkenc.lineage import read_lineage, read_store
    from pysparkenc.synth import make_tokens_table

    store, df = _lineage_store(spark, tmp_path)  # run 1, 160 rows
    extra = (
        make_tokens_table(spark, 40, seed=77)
        .withColumn("doc_id", F.concat(F.lit("x_"), F.col("doc_id")))
    )
    extra.repartition(2).write.format("pysparkenc").mode("append").save(store)

    # committed as run 2: visible to BOTH read paths, identically
    assert read_store(spark, store).count() == 200
    assert spark.read.format("pysparkenc").load(store).count() == 200
    got = spark.read.format("pysparkenc").load(store)
    exp = read_store(spark, store)
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0

    # the lineage rows carry real metrics (rows sum to what was written)
    lin = read_lineage(spark, store).where(
        (F.col("run_id") == 2) & (F.col("status") == "done")
    )
    rows = lin.agg(
        F.sum("n_rows").alias("r"), F.sum("enc_bytes").alias("b")
    ).collect()[0]
    assert rows["r"] == 40 and rows["b"] > 0
    assert lin.count() == 2  # one row per written partition

    # time travel to the pre-append snapshot excludes the new rows
    old = spark.read.format("pysparkenc").option("as_of_run", 1).load(store)
    assert old.count() == 160


def test_lineage_store_append_respects_never_reuse(spark, tmp_path):
    """A format() append allocates PAST orphan debris on disk, exactly
    like encode_with_lineage."""
    import os

    from pysparkenc.lineage import read_store
    from pysparkenc.synth import make_tokens_table

    store, df = _lineage_store(spark, tmp_path)
    os.makedirs(store + "/chunks/run_id=7")  # crashed writer's claim
    extra = make_tokens_table(spark, 10, seed=3).withColumn(
        "doc_id", F.concat(F.lit("y_"), F.col("doc_id"))
    )
    extra.coalesce(1).write.format("pysparkenc").mode("append").save(store)
    assert os.path.isdir(store + "/chunks/run_id=8")
    assert read_store(spark, store).count() == 170


def test_lineage_store_append_evolves_and_rejects_type_change(
    spark, tmp_path
):
    """An appended run may add a column (union schema, typed nulls for
    older runs) but must not change a shared column's logical type —
    the same contract encode_with_lineage enforces."""
    from pysparkenc.lineage import read_store
    from pysparkenc.synth import make_tokens_table

    store, df = _lineage_store(spark, tmp_path)
    extra = (
        make_tokens_table(spark, 20, seed=5)
        .withColumn("doc_id", F.concat(F.lit("z_"), F.col("doc_id")))
        .withColumn("quality", F.lit(0.5))
    )
    extra.coalesce(1).write.format("pysparkenc").mode("append").save(store)
    got = read_store(spark, store)
    assert got.count() == 180
    assert got.where(F.col("quality").isNull()).count() == 160
    assert got.where(F.col("quality") == 0.5).count() == 20

    bad = df.withColumn("n_tok", F.col("n_tok").cast("double"))
    with pytest.raises(Exception, match="schema evolution"):
        bad.write.format("pysparkenc").mode("append").save(store)


def test_lineage_store_append_then_delete_applies(spark, tmp_path):
    """Rows appended through format() are first-class for the
    maintenance surface: equality deletes retract them and compaction
    materializes the result."""
    from pysparkenc.lineage import compact_store, delete_rows, read_store
    from pysparkenc.synth import make_tokens_table

    store, df = _lineage_store(spark, tmp_path)
    extra = make_tokens_table(spark, 30, seed=9).withColumn(
        "doc_id", F.concat(F.lit("w_"), F.col("doc_id"))
    )
    extra.coalesce(1).write.format("pysparkenc").mode("append").save(store)
    victims = extra.limit(10).select("doc_id")
    delete_rows(spark, store, victims)
    assert read_store(spark, store).count() == 180
    compact_store(spark, store, num_partitions=2)
    got = read_store(spark, store)
    assert got.count() == 180
    vic = {r["doc_id"] for r in victims.collect()}
    assert not vic & {r["doc_id"] for r in got.select("doc_id").collect()}


def test_lineage_store_pushed_filters_still_prune(
    spark, tmp_path, filter_pushdown
):
    """Catalyst pushdown composes with the commit-aware plan: the
    pruned, delete-filtered format() read returns exactly the rows the
    predicate selects."""
    from pysparkenc.lineage import delete_rows, read_store

    store, df = _lineage_store(spark, tmp_path)
    delete_rows(spark, store, df.limit(5).select("doc_id"))
    got = (
        spark.read.format("pysparkenc").load(store)
        .where(F.col("n_tok") >= 40)
        .select("doc_id", "n_tok")
    )
    exp = read_store(spark, store).where(F.col("n_tok") >= 40).select(
        "doc_id", "n_tok"
    )
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_isnull_and_not_isnull_pushdown(
    spark, tmp_path, filter_pushdown
):
    """IS NULL prunes groups that recorded zero nulls; NOT(IS NULL)
    unwraps to the not-null prune. Both stay correct (Spark re-applies
    the filters) and the translation accepts them."""
    from pysparkenc.datasource import IsNull, Not, _to_pushed

    store = str(tmp_path / "store")
    df = _mixed_df(spark)
    df.write.format("pysparkenc").mode("overwrite").save(store)
    back = spark.read.format("pysparkenc").load(store)
    got_null = back.where(F.col("name").isNull()).select("id")
    exp_null = df.where(F.col("name").isNull()).select("id")
    assert sorted(r[0] for r in got_null.collect()) == sorted(
        r[0] for r in exp_null.collect())
    got_nn = back.where(F.col("name").isNotNull()).count()
    assert got_nn == df.where(F.col("name").isNotNull()).count()
    # translation unit: Not(IsNull) -> notnull, IsNull -> isnull
    pushed = _to_pushed(
        [IsNull(attribute=("name",)), Not(child=IsNull(attribute=("name",)))],
        back.schema,
    )
    assert [(p.col, p.kind) for p in pushed] == [
        ("name", "isnull"), ("name", "notnull")
    ]


# -------------------------------------------------------------- r5 fixes


def test_delete_drop_mask_composite_never_aliases():
    """Multi-column delete keys are matched with a length-prefixed
    composite: injective for ANY value content. A plain joined
    composite let key ('x', 'y<SEP>z') alias live row ('x<SEP>y', 'z')
    and silently drop an undeleted row through the data source while
    read_store (per-column eqNullSafe) kept it."""
    import pyarrow as pa

    from pysparkenc.datasource import _delete_drop_mask

    out = pa.table({"a": ["x\x1fy", "x", "p"], "b": ["z", "y\x1fz", "q"]})
    keys = pa.table({"a": ["x"], "b": ["y\x1fz"]})
    assert _delete_drop_mask(out, keys).to_pylist() == [False, True, False]

    # null-safe tuple match; a real value 'N' never aliases NULL
    out2 = pa.table({
        "a": ["N", None, "x"],
        "b": pa.array(["N", None, "y"], pa.string()),
    })
    keys2 = pa.table({
        "a": pa.array([None], pa.string()),
        "b": pa.array([None], pa.string()),
    })
    assert _delete_drop_mask(out2, keys2).to_pylist() == [False, True, False]

    # numeric key table narrower than the store column: cast-aligned
    out3 = pa.table({"a": pa.array([5, 6], pa.int64()), "b": ["u", "v"]})
    keys3 = pa.table({"a": pa.array([5], pa.int32()), "b": ["u"]})
    assert _delete_drop_mask(out3, keys3).to_pylist() == [True, False]

    # digits/colons INSIDE values cannot shift field boundaries
    out4 = pa.table({"a": ["1", "1:x"], "b": [":x2:ab", "2:ab"]})
    keys4 = pa.table({"a": ["1:x"], "b": ["2:ab"]})
    assert _delete_drop_mask(out4, keys4).to_pylist() == [False, True]

    # binary key columns work without a lossy string cast
    out5 = pa.table({
        "a": pa.array([b"\xff\x00", b"\x00"], pa.binary()),
        "b": ["u", "u"],
    })
    keys5 = pa.table({"a": pa.array([b"\xff\x00"], pa.binary()), "b": ["u"]})
    assert _delete_drop_mask(out5, keys5).to_pylist() == [True, False]

    assert _delete_drop_mask(
        out, pa.table({"a": ["zz"], "b": ["ww"]})
    ) is None


def test_multicol_delete_separator_values_end_to_end(spark, tmp_path):
    """Separator-looking string keys through the FULL path: commit a
    delete whose key values contain \\x1f and colons, then read through
    the data source — only the exact tuple vanishes, and the data
    source agrees with read_store row-for-row."""
    from pysparkenc.datasource import register
    from pysparkenc.lineage import delete_rows, encode_with_lineage, read_store

    path = str(tmp_path / "sep")
    rows = [
        ("x\x1fy", "z", 1),
        ("x", "y\x1fz", 2),
        ("1", ":x2:ab", 3),
        ("1:x", "2:ab", 4),
    ]
    df = spark.createDataFrame(rows, "a string, b string, v int")
    encode_with_lineage(df, path, num_partitions=2)
    delete_rows(
        spark, path,
        spark.createDataFrame([("x", "y\x1fz"), ("1:x", "2:ab")],
                              "a string, b string"),
        key_cols=("a", "b"),
    )
    register(spark)
    ds = spark.read.format("pysparkenc").load(path)
    assert sorted(r["v"] for r in ds.collect()) == [1, 3]
    rs = read_store(spark, path)
    assert sorted(r["v"] for r in rs.collect()) == [1, 3]


def test_delete_drop_mask_matches_tuple_set_model():
    """Property: for ANY key/row content (including separator bytes,
    digits, colons, empty strings, NULLs), the mask equals the naive
    per-row tuple-set membership with eqNullSafe semantics."""
    import pyarrow as pa
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pysparkenc.datasource import _delete_drop_mask

    val = st.one_of(
        st.none(),
        st.text(
            alphabet=st.sampled_from(list("ab:\x1f12N") + ["\x00"]),
            max_size=4,
        ),
    )
    row = st.tuples(val, val)

    @settings(max_examples=150, deadline=None)
    @given(rows=st.lists(row, min_size=1, max_size=12),
           keys=st.lists(row, min_size=1, max_size=6))
    def check(rows, keys):
        out = pa.table({
            "a": pa.array([r[0] for r in rows], pa.string()),
            "b": pa.array([r[1] for r in rows], pa.string()),
        })
        kt = pa.table({
            "a": pa.array([k[0] for k in keys], pa.string()),
            "b": pa.array([k[1] for k in keys], pa.string()),
        })
        m = _delete_drop_mask(out, kt)
        kset = set(keys)
        want = [r in kset for r in rows]
        got = m.to_pylist() if m is not None else [False] * len(rows)
        assert got == want, (rows, keys)

    check()


def test_stream_run_wall_counts_from_task_start(spark, tmp_path):
    """A micro-batch's run records ``wall_sec`` from the earliest task
    start its commit messages carry, not from when the driver built the
    writer, so the encode time shows in ``snapshots``."""
    import dataclasses

    import pyarrow as pa

    from pysparkenc.datasource import ChunkStoreStreamWriter
    from pysparkenc.lineage import snapshots

    store = str(tmp_path / "store")
    w = ChunkStoreStreamWriter(store, spark.range(1).schema, {}, False)
    msg = w.write(iter([pa.record_batch({"id": [1, 2, 3]})]))
    w.commit([dataclasses.replace(msg, t0=msg.t0 - 2.0)], batchId=0)
    (snap,) = snapshots(spark, store).collect()
    assert snap["wall_sec"] >= 2.0


def test_every_store_write_stages_with_pyarrow(spark, tmp_path):
    """One writer: ``encode_with_lineage``, ``compact_store``,
    ``delete_rows`` (an empty key set included) and the ``format``
    append, overwrite and ``writeStream`` each land their files as
    ``part-<pid>-<uuid>.parquet`` in the run dir. Spark's file writer
    leaves nothing behind (no ``_SUCCESS``, ``.crc`` or ``_temporary``)
    and ``_staging/`` ends empty."""
    from pysparkenc.lineage import (
        compact_store,
        delete_rows,
        encode_with_lineage,
        read_store,
    )
    from pysparkenc.synth import make_tokens_table

    store, src, ckpt = (str(tmp_path / x) for x in ("store", "src", "ckpt"))
    df = make_tokens_table(spark, 120, seed=31)
    df.write.parquet(src)
    df = spark.read.parquet(src)
    encode_with_lineage(df, store, partition_by=("source", "doc_id"),
                        num_partitions=2)
    delete_rows(spark, store, df.limit(3).select("doc_id"))
    delete_rows(spark, store, df.limit(0).select("doc_id"))
    compact_store(spark, store, num_partitions=2)
    df.write.format("pysparkenc").mode("append").save(store)
    q = (spark.readStream.schema(df.schema).parquet(src)
         .writeStream.format("pysparkenc").option("path", store)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert q.exception() is None
    df.write.format("pysparkenc").mode("overwrite").save(store)
    assert read_store(spark, store).count() == 120

    name = re.compile(r"part-\d{5}-[0-9a-f]{32}\.parquet")
    runs = 0
    for kind in ("chunks", "deletes"):
        for d in os.listdir(os.path.join(store, kind)):
            assert re.fullmatch(r"run_id=\d+", d), (kind, d)
            files = os.listdir(os.path.join(store, kind, d))
            assert files and all(name.fullmatch(f) for f in files), files
            runs += 1
    assert runs == 7  # 5 data runs, 2 delete runs
    for root, dirs, files in os.walk(store):
        for f in dirs + files:
            assert f != "_SUCCESS" and f != "_temporary", root
            assert not f.endswith(".crc"), os.path.join(root, f)
    assert not os.listdir(os.path.join(store, "_staging"))
