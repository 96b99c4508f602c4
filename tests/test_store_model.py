"""Model-based test of the lineage store's table-maintenance surface.

Random interleavings of append (or a crashed encode and its resume) /
delete / upsert / compact (full or of a random subset of live runs) /
expire / ``format("pysparkenc")`` append and overwrite /
``writeStream.format("pysparkenc")`` micro-batches run
against both the real store and a plain Python dict model of
"key -> current row"; after every
scenario the visible table must equal the model exactly, and the
snapshot history must list exactly the runs the scenario committed.
This is the property the whole Iceberg-shaped layer promises: whatever
the operation history, readers see one current row per live key.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from pysparkenc.datasource import _lineage_plan
from pysparkenc.lineage import (
    compact_store,
    delete_rows,
    encode_with_lineage,
    expire_runs,
    read_lineage,
    read_store,
    snapshots,
    upsert_rows,
    vacuum_store,
)


def _mk_rows(spark, items):
    return spark.createDataFrame(
        [(k, v) for k, v in items], "k string, v long"
    )


def _run_scenario(spark, store, seed):
    rng = random.Random(seed)
    model: dict[str, int] = {}
    next_id = 0

    def fresh(n):
        nonlocal next_id
        out = [f"k{seed}-{next_id + i}" for i in range(n)]
        next_id += n
        return out

    # always start with an append so every op has something to act on:
    # a plain one, or a crash_resume (a run that loses part 0, then the
    # resume that encodes it). A resume skips the part ids ANY run
    # committed, so it only resumes the store's first dataset. That
    # choice draws from its own generator and consumes what an append
    # does, so `rng` deals every seed the op list it dealt before the
    # op existed. ds_append / ds_overwrite drive the data-source writer,
    # stream_append its stream sink (one checkpoint and one source dir
    # per scenario, so batch ids continue) and vacuum the orphan
    # reclaim — all must compose with everything else in any order
    ops = [random.Random(f"crash_resume-{seed}").choice(
        ["append", "crash_resume"])] + [
        rng.choice(["append", "delete", "upsert", "compact",
                    "compact_runs", "expire", "ds_append", "ds_overwrite",
                    "stream_append", "vacuum"])
        for _ in range(rng.randrange(4, 7))
    ]
    src, ckpt = store + "_src", store + "_ckpt"

    def last_run() -> int:
        return int(read_lineage(spark, store)
                   .agg(F.max("run_id").alias("m")).collect()[0]["m"])

    snaps: list[tuple[int, dict[str, int], bool]] = []
    committed: set[int] = set()
    for op in ops:
        if op == "append":
            items = [(k, rng.randrange(1000)) for k in fresh(rng.randrange(3, 9))]
            m = encode_with_lineage(_mk_rows(spark, items), store,
                                    num_partitions=2, resume=False)
            model.update(items)
            committed.add(m["run_id"])
            snaps.append((m["run_id"], dict(model), False))
        elif op == "crash_resume":
            items = [(k, rng.randrange(1000)) for k in fresh(rng.randrange(3, 9))]
            rows = _mk_rows(spark, items)
            crashed = encode_with_lineage(rows, store, num_partitions=2,
                                          drop_part_ids=frozenset({0}))
            resumed = encode_with_lineage(rows, store, num_partitions=2)
            assert crashed["rows"] + resumed["rows"] == len(items), (seed, ops)
            model.update(items)
            # a run whose parts all landed in the other one commits no row
            committed |= {m["run_id"] for m in (crashed, resumed)
                          if m["partitions"]}
            snaps.append((last_run(), dict(model), False))
        elif op == "delete" and model:
            victims = rng.sample(sorted(model), min(len(model),
                                                    rng.randrange(1, 4)))
            d = delete_rows(spark, store,
                            _mk_rows(spark, [(k, 0) for k in victims])
                            .select("k"), key_cols=("k",))
            for k in victims:
                del model[k]
            committed.add(d["run_id"])
            snaps.append((d["run_id"], dict(model), False))
        elif op == "upsert" and model:
            upd = rng.sample(sorted(model), min(len(model), 2))
            items = [(k, rng.randrange(1000)) for k in upd]
            items += [(k, rng.randrange(1000)) for k in fresh(2)]
            u = upsert_rows(spark, store, _mk_rows(spark, items),
                            key_cols=("k",), num_partitions=1)
            model.update(items)
            committed |= {u["delete_run"], u["append_run"]}
            snaps.append((u["append_run"], dict(model), False))
        elif op == "compact" and model:
            c = compact_store(spark, store, num_partitions=2)
            committed.add(c["run_id"])
            snaps.append((c["run_id"], dict(model), False))
        elif op == "compact_runs" and model:
            live = sorted(_lineage_plan(store)[0])
            runs = rng.sample(live, rng.randrange(1, len(live) + 1))
            c = compact_store(spark, store, runs=tuple(runs),
                              num_partitions=2)
            assert c["selected_runs"] == sorted(runs)
            # a compaction whose selected rows were all deleted writes
            # no rows: it commits only the supersede markers, and the
            # history lists no run of its own
            if c["partitions"]:
                committed.add(c["run_id"])
                snaps.append((c["run_id"], dict(model), False))
        elif op in ("ds_append", "ds_overwrite"):
            from pysparkenc.datasource import register

            register(spark)
            items = [(k, rng.randrange(1000))
                     for k in fresh(rng.randrange(2, 6))]
            mode = "append" if op == "ds_append" else "overwrite"
            (_mk_rows(spark, items).repartition(1)
             .write.format("pysparkenc").mode(mode).save(store))
            if op == "ds_overwrite":
                model.clear()
            model.update(items)
            run_id = last_run()
            committed.add(run_id)
            snaps.append((run_id, dict(model), False))
        elif op == "stream_append":
            from pysparkenc.datasource import register

            register(spark)
            items = [(k, rng.randrange(1000))
                     for k in fresh(rng.randrange(2, 6))]
            _mk_rows(spark, items).coalesce(1).write.mode("append").parquet(
                src)
            q = (spark.readStream.schema("k string, v long").parquet(src)
                 .writeStream.format("pysparkenc").option("path", store)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination(120)
            assert q.exception() is None, (seed, ops, q.exception())
            model.update(items)
            run_id = last_run()
            committed.add(run_id)
            snaps.append((run_id, dict(model), False))
        elif op == "vacuum":
            # grace 0: anything uncommitted is reclaimable NOW; visible
            # results must be identical before and after
            vacuum_store(spark, store, grace_sec=0.0)
        elif op == "expire":
            expire_runs(spark, store)
            # time travel to runs superseded by a compaction stops
            # working once expire removes their chunk dirs — snapshots
            # taken BEFORE this point become unverifiable
            snaps = [(r, m, True) for r, m, _ in snaps]

    got = {r["k"]: r["v"] for r in read_store(spark, store).collect()}
    assert got == model, (seed, ops)

    # the data source read path must agree with read_store on the SAME
    # maintained store, whatever the op history (the r4 seam)
    from pysparkenc.datasource import register

    register(spark)
    ds = {r["k"]: r["v"]
          for r in spark.read.format("pysparkenc").load(store).collect()}
    assert ds == model, (seed, ops)

    # time travel: every commit boundary must reproduce the model as it
    # was then (skip snapshots taken before an expire pass — their
    # chunk files may be gone by design)
    assert {r["run_id"] for r in snapshots(spark, store).collect()} == (
        committed), (seed, ops)

    live = [(r, m) for r, m, dead in snaps if not dead]
    for run_id, snap in rng.sample(live, min(2, len(live))):
        at = {
            r["k"]: r["v"]
            for r in read_store(spark, store, as_of_run=run_id).collect()
        }
        assert at == snap, (seed, ops, run_id)


@pytest.mark.parametrize("seed", range(7))
def test_random_op_interleavings_match_model(spark, tmp_path, seed):
    _run_scenario(spark, str(tmp_path / f"store{seed}"), seed)
