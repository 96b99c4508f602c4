"""Equality deletes (merge-on-read): retract rows without chunk rewrites.

Covers the Iceberg-v2-shaped contract of pysparkenc.lineage.delete_rows /
read_store: sequencing vs later appends, time travel, commit atomicity
(orphan key files invisible), compaction materialization + expiry, and
multi-column / null keys.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import Row, functions as F

from pysparkenc.engine import scan_table
from pysparkenc.lineage import (
    apply_deletes,
    compact_store,
    delete_rows,
    encode_with_lineage,
    expire_runs,
    read_committed_chunks,
    read_delete_sets,
    read_store,
    store_count_rows,
)
from pysparkenc.synth import make_tokens_table


def _ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def test_delete_then_scan_excludes_keys(spark, tmp_path):
    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 120, seed=3)
    encode_with_lineage(df, store, partition_by=("source", "doc_id"),
                        num_partitions=4)
    victims = df.limit(7).select("doc_id")
    out = delete_rows(spark, store, victims)
    assert out["keys"] == 7

    got = read_store(spark, store)
    assert got.count() == 113
    dead = {r["doc_id"] for r in victims.collect()}
    assert dead.isdisjoint(set(_ids(got)))
    # full fidelity on the survivors, not just counts
    exp = df.join(victims, "doc_id", "left_anti")
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_reappend_after_delete_survives(spark, tmp_path):
    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 50, seed=5)
    encode_with_lineage(df, store, num_partitions=2)
    victim = df.limit(1).select("doc_id")
    delete_rows(spark, store, victim)
    # re-ingest the SAME doc_id after the delete: Iceberg sequencing says
    # the delete only applies to older data, so the new row must survive
    readd = df.join(victim, "doc_id", "left_semi")
    encode_with_lineage(readd, store, num_partitions=1, resume=False)
    got = read_store(spark, store)
    assert got.count() == 50
    vid = victim.collect()[0]["doc_id"]
    assert vid in _ids(got)


def test_delete_time_travel(spark, tmp_path):
    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 60, seed=7)
    r1 = encode_with_lineage(df, store, num_partitions=2)["run_id"]
    out = delete_rows(spark, store, df.limit(5).select("doc_id"))
    assert read_store(spark, store, as_of_run=r1).count() == 60
    assert read_store(spark, store, as_of_run=out["run_id"]).count() == 55
    assert read_store(spark, store).count() == 55


def test_orphan_delete_files_invisible(spark, tmp_path):
    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 40, seed=9)
    encode_with_lineage(df, store, num_partitions=2)
    # simulate a crash between the key-file write and the lineage commit:
    # key files exist on disk, no 'delete' lineage row
    df.limit(3).select("doc_id").write.parquet(
        str(tmp_path / "store" / "deletes" / "run_id=99")
    )
    assert read_delete_sets(spark, store) == []
    assert read_store(spark, store).count() == 40


def test_compaction_materializes_and_expires_deletes(spark, tmp_path):
    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 80, seed=11)
    encode_with_lineage(df, store, partition_by=("source", "doc_id"),
                        num_partitions=4)
    victims = df.limit(6).select("doc_id")
    del_run = delete_rows(spark, store, victims)["run_id"]
    exp = df.join(victims, "doc_id", "left_anti")

    comp = compact_store(spark, store, schema=df.schema,
                         partition_by=("source", "doc_id"),
                         num_partitions=2)
    assert comp["superseded"] > 0
    # the delete run is superseded: no reader scans its key files now
    assert read_delete_sets(spark, store) == []
    got = read_store(spark, store)
    assert got.count() == 74
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0
    # time travel to the delete snapshot still applies it from key files
    assert read_store(spark, store, as_of_run=del_run).count() == 74

    gone = expire_runs(spark, store)
    assert del_run in gone["expired_delete_runs"]
    assert not glob.glob(os.path.join(store, "deletes", "run_id=*"))
    assert read_store(spark, store).count() == 74


def test_multi_column_and_null_keys(spark, tmp_path):
    store = str(tmp_path / "store")
    rows = [
        Row(k1="a", k2=1, v=10),
        Row(k1="a", k2=2, v=20),
        Row(k1=None, k2=3, v=30),
        Row(k1="b", k2=None, v=40),
        Row(k1="b", k2=5, v=50),
    ]
    df = spark.createDataFrame(rows)
    encode_with_lineage(df, store, num_partitions=1)
    keys = spark.createDataFrame(
        [Row(k1="a", k2=2), Row(k1=None, k2=3), Row(k1="b", k2=None)]
    )
    delete_rows(spark, store, keys, key_cols=("k1", "k2"))
    got = read_store(spark, store)
    assert sorted(r["v"] for r in got.collect()) == [10, 50]


def test_projection_narrower_than_delete_keys(spark, tmp_path):
    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 30, seed=13)
    encode_with_lineage(df, store, num_partitions=2)
    delete_rows(spark, store, df.limit(4).select("doc_id"))
    # project a column set that EXCLUDES doc_id: read_store must widen
    # the scan for the anti-join, then trim back to the ask
    got = read_store(spark, store, columns=["source", "n_tok"])
    assert got.columns == ["source", "n_tok"]
    assert got.count() == 26


def test_delete_with_pruning_predicates(spark, tmp_path):
    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 100, seed=17)
    encode_with_lineage(df, store, partition_by=("source", "doc_id"),
                        num_partitions=4)
    victims = df.where(F.col("n_tok") >= 64).limit(3).select("doc_id")
    delete_rows(spark, store, victims)
    got = read_store(spark, store, columns=["doc_id", "n_tok"],
                     where=[("n_tok", ">=", 64)])
    exp = (
        df.where(F.col("n_tok") >= 64)
        .join(victims, "doc_id", "left_anti")
        .select("doc_id", "n_tok")
    )
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_delete_cli(spark, tmp_path, capsys):
    import json

    from pysparkenc.cli import main

    src = str(tmp_path / "src")
    keys = str(tmp_path / "keys")
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    df = make_tokens_table(spark, 60, seed=19)
    df.write.parquet(src)
    df.limit(5).select("doc_id").write.parquet(keys)

    assert main(["encode", "--input", src, "--output", store]) == 0
    assert main(["delete", "--input", store, "--keys", keys]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["keys"] == 5
    assert main(["decode", "--input", store, "--output", out]) == 0
    assert json.loads(
        capsys.readouterr().out.strip().splitlines()[-1]
    )["rows"] == 55
    # verify now reports exactly the retracted rows as mismatches
    assert main(["verify", "--original", src, "--encoded", store]) == 1


def test_snapshots_operations(spark, tmp_path):
    from pysparkenc.lineage import snapshots

    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 40, seed=29)
    encode_with_lineage(df, store, num_partitions=2)
    delete_rows(spark, store, df.limit(2).select("doc_id"))
    compact_store(spark, store, schema=df.schema, num_partitions=1)
    hist = {int(r["run_id"]): r["operation"]
            for r in snapshots(spark, store).collect()}
    assert hist[1] == "append"
    assert hist[2] == "delete"
    assert hist[3] == "compact"


def test_compact_refuses_stale_snapshot(spark, tmp_path):
    """Compacting a pre-delete snapshot would rewrite history AND
    resurrect the deleted rows (rewritten rows outrun the delete's
    sequence number) — it must refuse, not silently undo a takedown."""
    import pytest

    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 40, seed=31)
    r1 = encode_with_lineage(df, store, num_partitions=2)["run_id"]
    delete_rows(spark, store, df.limit(3).select("doc_id"))
    with pytest.raises(ValueError, match="non-latest snapshot"):
        compact_store(spark, store, schema=df.schema, as_of_run=r1)
    # latest-run as_of is fine (idempotence fence), and keeps the delete
    comp = compact_store(spark, store, schema=df.schema, num_partitions=1,
                         as_of_run=r1 + 1)
    assert comp["partitions"] >= 1
    assert read_store(spark, store).count() == 37


def test_delete_retry_never_applies_orphan_keys(spark, tmp_path):
    """A delete retry after a crash commits under a FRESH run id (the
    crashed attempt's id is occupied on disk and never reused), and the
    abandoned key list stays invisible — it must not union into, or
    replace, the corrected delete."""
    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 40, seed=37)
    encode_with_lineage(df, store, num_partitions=2)
    ids = _ids(df)
    # crashed first attempt: key files on disk, no lineage commit
    spark.createDataFrame([(i,) for i in ids[:10]], "doc_id string") \
        .write.parquet(str(tmp_path / "store" / "deletes" / "run_id=2"))
    # corrected retry deletes only 2 docs
    out = delete_rows(
        spark, store,
        spark.createDataFrame([(i,) for i in ids[30:32]], "doc_id string"),
    )
    assert out["run_id"] == 3 and out["keys"] == 2  # allocated PAST the orphan
    got = read_store(spark, store)
    assert got.count() == 38
    assert ids[0] in _ids(got)  # the abandoned list did NOT apply


def test_many_delete_runs_one_join(spark, tmp_path):
    """N delete commits with the same key set apply as ONE anti-join
    (union side), and sequencing still holds per delete run."""
    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 60, seed=41)
    encode_with_lineage(df, store, num_partitions=2)
    ids = _ids(df)
    for i in range(3):
        delete_rows(
            spark, store,
            spark.createDataFrame(
                [(x,) for x in ids[i * 2:i * 2 + 2]], "doc_id string"
            ),
        )
    got = read_store(spark, store)
    assert got.count() == 54
    assert set(ids[:6]).isdisjoint(set(_ids(got)))

    # plan of apply_deletes, the Spark-side delete application kept as
    # the oracle (read_store and compact_store drop deleted rows inside
    # the file-local reader):
    # the three same-keyset delete runs coalesce into the SAME number of
    # anti-joins a single delete run plans (one union side) — the join
    # count must not grow with the number of delete commits
    store1 = store + "_one"
    encode_with_lineage(df, store1, num_partitions=2)
    delete_rows(
        spark, store1,
        spark.createDataFrame([(ids[0],)], "doc_id string"),
    )

    def anti_count(path):
        import contextlib, io
        rows = scan_table(read_committed_chunks(spark, path), part_col="__p")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            apply_deletes(rows, read_delete_sets(spark, path),
                          part_col="__p").explain("formatted")
        return buf.getvalue().count("LeftAnti")

    assert anti_count(store) == anti_count(store1) > 0


def test_concurrent_delete_commit_detected(spark, tmp_path, monkeypatch):
    """Two committers racing _next_run_id to the same id: the second
    commit must raise instead of silently dropping the first's keys."""
    import pytest

    import pysparkenc.lineage as L

    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 30, seed=43)
    encode_with_lineage(df, store, num_partitions=1)
    ids = _ids(df)
    monkeypatch.setattr(L, "_next_run_id", lambda s, p: 2)
    delete_rows(spark, store,
                spark.createDataFrame([(ids[0],)], "doc_id string"))
    with pytest.raises(RuntimeError, match="concurrent commit"):
        delete_rows(spark, store,
                    spark.createDataFrame([(ids[1],)], "doc_id string"))


def test_concurrent_encode_commit_detected(spark, tmp_path, monkeypatch):
    import pytest

    import pysparkenc.lineage as L

    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 30, seed=47)
    encode_with_lineage(df, store, num_partitions=1)
    monkeypatch.setattr(L, "_next_run_id", lambda s, p: 2)
    encode_with_lineage(df, store, num_partitions=1, resume=False)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        encode_with_lineage(df, store, num_partitions=1, resume=False)


def test_upsert_updates_and_inserts(spark, tmp_path):
    from pyspark.sql import functions as F2

    from pysparkenc.lineage import upsert_rows

    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 50, seed=53)
    encode_with_lineage(df, store, partition_by=("source", "doc_id"),
                        num_partitions=2)
    ids = _ids(df)
    # update 5 existing docs (double their tokens) + insert 3 new docs
    upd = (
        df.where(F2.col("doc_id").isin(ids[:5]))
        .withColumn("tokens", F2.concat("tokens", "tokens"))
        .withColumn("n_tok", (F2.col("n_tok") * 2).cast("int"))
    )
    new = make_tokens_table(spark, 3, seed=99).withColumn(
        "doc_id", F2.concat(F2.lit("new-"), "doc_id")
    )
    out = upsert_rows(spark, store, upd.unionByName(new),
                      partition_by=("source", "doc_id"), num_partitions=2)
    assert out["keys"] == 8 and out["rows"] == 8

    got = read_store(spark, store)
    assert got.count() == 53  # 50 originals - 0 lost + 3 inserts
    by_id = {r["doc_id"]: r["n_tok"] for r in got.collect()}
    orig = {r["doc_id"]: r["n_tok"] for r in df.collect()}
    for k in ids[:5]:
        assert by_id[k] == orig[k] * 2        # updated in place
    for k in ids[5:]:
        assert by_id[k] == orig[k]            # untouched rows intact
    assert sum(1 for k in by_id if k.startswith("new-")) == 3

    # exactly one row per key (replace, never duplicate)
    assert got.groupBy("doc_id").count().where("count > 1").count() == 0

    # time travel: before the upsert's delete run, the old values
    pre = read_store(spark, store, as_of_run=out["delete_run"] - 1)
    assert {r["doc_id"]: r["n_tok"] for r in pre.collect()} == orig


def test_stats_flags_pending_deletes(spark, tmp_path, capsys):
    import json

    from pysparkenc.cli import main

    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 30, seed=59)
    encode_with_lineage(df, store, num_partitions=1)
    delete_rows(spark, store, df.limit(4).select("doc_id"))
    assert main(["stats", "--input", store]) == 0
    lines = [json.loads(ln) for ln in
             capsys.readouterr().out.strip().splitlines()]
    hdr = next(l for l in lines if "pending_deletes" in l)
    assert hdr["pending_deletes"] == 1
    assert hdr["pending_delete_keys"] == 4


def test_upsert_rejects_duplicate_keys(spark, tmp_path):
    import pytest

    from pysparkenc.lineage import upsert_rows

    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 20, seed=67)
    encode_with_lineage(df, store, num_partitions=1)
    dup = df.limit(1).unionByName(df.limit(1))
    with pytest.raises(ValueError, match="multiple rows"):
        upsert_rows(spark, store, dup)


def test_stats_distinct_visible_vs_physical(spark, tmp_path, capsys):
    import json

    from pysparkenc.cli import main

    store = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(f"d{i}", f"cat{i % 3}") for i in range(30)], "doc_id string, c string"
    )
    encode_with_lineage(df, store, num_partitions=1)
    # delete every cat2 doc: physically present, visibly gone
    delete_rows(spark, store,
                df.where("c = 'cat2'").select("doc_id"))
    assert main(["stats", "--input", store, "--distinct", "c"]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert rows[-1]["ndv"] == 3  # physical: cat2 values still in chunks
    assert main(["stats", "--input", store, "--distinct", "c",
                 "--visible"]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert rows[-1]["ndv"] == 2  # visible: cat2 retracted
    assert "cat2" not in rows[-1]["sample"]


def test_stats_visible_flag_contract(spark, tmp_path, capsys):
    import json

    import pytest

    from pysparkenc.cli import main
    from pysparkenc.synth import make_tokens_table

    store = str(tmp_path / "store")
    make_tokens_table(spark, 20, seed=71).write.parquet(str(tmp_path / "s"))
    assert main(["encode", "--input", str(tmp_path / "s"),
                 "--output", store]) == 0
    capsys.readouterr()
    # --visible without --distinct: argparse error (exit 2 via SystemExit)
    with pytest.raises(SystemExit) as e:
        main(["stats", "--input", store, "--visible"])
    assert e.value.code == 2
    # visible mode rejects nested columns with the same JSON contract
    assert main(["stats", "--input", store, "--distinct", "tokens",
                 "--visible"]) == 2
    err = capsys.readouterr().err.strip().splitlines()[-1]
    assert "error" in json.loads(err)


def test_delete_rejects_unknown_key_column(spark, tmp_path):
    """A mistyped --key-cols must fail BEFORE committing: a committed
    delete on a column the store doesn't have would make every
    subsequent read_store/compact_store fail resolving the anti-join
    (and there is no supported undo)."""
    import pytest

    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 30, seed=61)
    encode_with_lineage(df, store, num_partitions=2)
    keys = spark.createDataFrame([("x",)], "docid_typo string")
    with pytest.raises(ValueError, match="docid_typo"):
        delete_rows(spark, store, keys, key_cols=("docid_typo",))
    # nothing committed: the store still reads, and no delete run exists
    assert read_store(spark, store).count() == 30
    assert read_delete_sets(spark, store) == []


def test_quarantined_collision_run_invisible(spark, tmp_path, monkeypatch):
    """After a detected run-id collision the poisoned run must stop
    being visible: both writers' chunk files interleave under one run
    dir, so 're-run the encode' can only repair the store if the mixed
    run is quarantined (superseded) — otherwise readers double-count
    forever."""
    import pytest

    import pysparkenc.lineage as L

    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 30, seed=47)
    encode_with_lineage(df, store, num_partitions=1)  # run 1: 30 rows
    monkeypatch.setattr(L, "_next_run_id", lambda s, p: 2)
    encode_with_lineage(df, store, num_partitions=1, resume=False)  # run 2
    with pytest.raises(RuntimeError, match="quarantined"):
        encode_with_lineage(df, store, num_partitions=1, resume=False)
    # run 2 is poisoned (three writers' rows interleave under its dir);
    # the quarantine markers must hide it entirely — only run 1 remains
    monkeypatch.undo()
    got = read_store(spark, store)
    assert got.count() == 30
    assert got.exceptAll(df).count() == 0 and df.exceptAll(got).count() == 0
    # the re-run the error message promises now actually repairs: it
    # commits under a fresh id and is fully visible
    encode_with_lineage(df, store, num_partitions=1, resume=False)
    assert read_store(spark, store).count() == 60
    # and expiry reclaims the quarantined run's files
    expired = expire_runs(spark, store)
    assert 2 in expired["expired_runs"]


def test_apply_deletes_exact_run_recovery_past_2_53(spark):
    """Run-id recovery from the combined (run << 32 | part) id must be
    EXACT: double division loses the low bits past 2^53 and can
    mis-sequence a delete one run off. part_id = 2^32 - 4 at run 2^25
    is the adversarial case — the double rounds UP into the next run."""
    from pysparkenc.lineage import apply_deletes

    run = 1 << 25
    combined = run * (1 << 32) + ((1 << 32) - 4)
    rows = spark.createDataFrame(
        [("victim", combined), ("keeper", combined)],
        "doc_id string, __part long",
    ).where(F.col("doc_id") == "victim").unionByName(
        spark.createDataFrame([("keeper", combined)],
                              "doc_id string, __part long")
    )
    keys = spark.createDataFrame([("victim",)], "doc_id string")
    # delete committed by run+1: applies to rows written by run (< run+1)
    got = apply_deletes(rows, [(run + 1, keys)], part_col="__part")
    assert sorted(r["doc_id"] for r in got.collect()) == ["keeper"]
    # delete committed by run itself: must NOT apply (same-run rows)
    got2 = apply_deletes(rows, [(run, keys)], part_col="__part")
    assert sorted(r["doc_id"] for r in got2.collect()) == ["keeper", "victim"]


def test_snapshots_label_quarantined_not_compact(spark, tmp_path,
                                                 monkeypatch):
    """A quarantined collision run self-supersedes (its markers carry
    batch_id == run_id); the snapshot history must label it
    ``quarantined`` — mislabeling it ``compact`` would show an operator
    a successful compaction where a failed concurrent write happened."""
    import pytest

    import pysparkenc.lineage as L
    from pysparkenc.lineage import compact_store, snapshots

    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 30, seed=48)
    encode_with_lineage(df, store, num_partitions=1)  # run 1
    monkeypatch.setattr(L, "_next_run_id", lambda s, p: 2)
    encode_with_lineage(df, store, num_partitions=1, resume=False)  # run 2
    with pytest.raises(RuntimeError, match="quarantined"):
        encode_with_lineage(df, store, num_partitions=1, resume=False)
    monkeypatch.undo()
    ops = {r["run_id"]: r["operation"]
           for r in snapshots(spark, store).collect()}
    assert ops[2] == "quarantined"
    assert ops[1] == "append"
    # a REAL compaction still labels the compacting run `compact`
    res = compact_store(spark, store)
    ops2 = {r["run_id"]: r["operation"]
            for r in snapshots(spark, store).collect()}
    assert ops2[res["run_id"]] == "compact"
    assert ops2[2] == "quarantined"


def test_delete_and_evolution_guards_propagate_read_failures(
    spark, tmp_path
):
    """The eager pre-commit guards skip only the FRESH-STORE case
    (AnalysisException: no chunks dir). A real read failure — here a
    corrupted chunk parquet footer — must PROPAGATE, not silently
    disable the validation and let a poisoning commit through."""
    import glob

    import pytest

    from pysparkenc.lineage import delete_rows

    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 30, seed=49)
    encode_with_lineage(df, store, num_partitions=1)
    # corrupt every chunk file's footer
    for f in glob.glob(f"{store}/chunks/run_id=*/*.parquet"):
        with open(f, "r+b") as fh:
            fh.seek(-8, 2)
            fh.write(b"XXXXXXXX")
    bad_keys = spark.createDataFrame([("nope",)], "no_such_col string")
    with pytest.raises(Exception) as ei:
        delete_rows(spark, store, bad_keys, key_cols=("no_such_col",))
    # the READ failure propagated — the guard did not get as far as
    # its own name validation (which would raise 'do not exist'), nor
    # did it silently treat the store as empty and commit
    assert "do not exist in the" not in str(ei.value)
    from pysparkenc.lineage import read_lineage

    assert (
        read_lineage(spark, store).where(F.col("status") == "delete").count()
        == 0
    )


def test_delete_key_type_mismatch_refused_at_commit(spark, tmp_path):
    """A committed delete whose key TYPE disagrees with the store column
    can never retract a row and makes the data source's type-aligned
    key cast fail on every later multi-column read — it must be refused
    at commit time, the only moment with a supported undo."""
    import pytest

    from pysparkenc.datasource import register
    from pysparkenc.lineage import delete_rows, read_store

    store = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(1, "u", 10), (2, "v", 20)], "a long, b string, v int"
    )
    encode_with_lineage(df, store, num_partitions=1)
    bad = spark.createDataFrame([("abc", "u")], "a string, b string")
    with pytest.raises(TypeError, match="type mismatch"):
        delete_rows(spark, store, bad, key_cols=("a", "b"))
    # nothing committed; both read paths still agree and see every row
    register(spark)
    assert read_store(spark, store).count() == 2
    assert spark.read.format("pysparkenc").load(store).count() == 2
    # a correctly-typed delete still works
    ok = spark.createDataFrame([(1, "u")], "a long, b string")
    delete_rows(spark, store, ok, key_cols=("a", "b"))
    assert sorted(
        r["v"] for r in spark.read.format("pysparkenc").load(store).collect()
    ) == [20]


@pytest.fixture(scope="module")
def keyless_delete_store(spark, tmp_path_factory):
    """A store whose committed delete run lost its key files."""
    import shutil

    store = str(tmp_path_factory.mktemp("corrupt") / "store")
    df = make_tokens_table(spark, 40, seed=67)
    encode_with_lineage(df, store, num_partitions=2)
    d = delete_rows(spark, store, df.limit(3).select("doc_id"))
    shutil.rmtree(f"{store}/deletes/run_id={d['run_id']}")
    return store


def _stats(spark, store):
    from pysparkenc.cli import main

    return main(["stats", "--input", store])


@pytest.mark.parametrize("call", [
    lambda spark, store: read_store(spark, store),
    lambda spark, store: store_count_rows(spark, store),
    lambda spark, store: read_delete_sets(spark, store),
    lambda spark, store: compact_store(spark, store),
    _stats,
], ids=["read_store", "store_count_rows", "read_delete_sets",
        "compact_store", "cli_stats"])
def test_keyless_committed_delete_raises_value_error(
        spark, keyless_delete_store, call):
    """Every call that plans the store's deletes refuses a committed
    delete run without key files with the same typed error, before it
    writes anything."""
    lineage_files = sorted(os.listdir(f"{keyless_delete_store}/lineage"))
    with pytest.raises(ValueError, match="no key files"):
        call(spark, keyless_delete_store)
    assert sorted(os.listdir(f"{keyless_delete_store}/lineage")) == (
        lineage_files)


@pytest.mark.parametrize("rewrite", ["compact", "overwrite"])
def test_quarantined_rewrite_withdraws_its_markers(spark, tmp_path,
                                                   monkeypatch, rewrite):
    """A compaction or overwrite whose commit collides with a committed
    run is quarantined together with that run, and the supersede
    markers it committed on the OTHER runs supersede nothing: the store
    still reads runs 1 and 2, where it read empty when the markers
    stayed in force."""
    import pyarrow as pa

    import pysparkenc.lineage as L
    from pysparkenc.datasource import ChunkStoreWriter

    store = str(tmp_path / "store")
    for lo in (0, 10, 20):  # runs 1, 2 and 3
        encode_with_lineage(spark.range(lo, lo + 10), store,
                            num_partitions=1, resume=False)
    monkeypatch.setattr(L, "_next_run_id", lambda s, p: 3)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        if rewrite == "compact":
            compact_store(spark, store, num_partitions=1)
        else:
            w = ChunkStoreWriter(store, spark.range(1).schema, {}, True)
            w.commit([w.write(iter([pa.record_batch({"id": [100, 101]})]))])
    monkeypatch.undo()
    got = sorted(r["id"] for r in read_store(spark, store).collect())
    assert got == list(range(20))
