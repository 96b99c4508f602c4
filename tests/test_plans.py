"""Physical-plan quality gates (the 100 TB design checks, asserted).

Each test pins a property that keeps the plan scalable: column pruning
reaching the parquet scan, predicate pushdown, broadcast joins for small
sides, map-side partial aggregation, whole-stage codegen in the text hot
path, and single evaluation of the expensive md5 array in MinHash. If a
refactor silently loses one of these, the suite fails before the bench
does.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.01/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")


def test_column_pruning_reaches_scan(docs):
    from pysparkenc.textops import token_count

    plan = plan_of(token_count(docs))
    # the scan must read ONLY doc_id and text, not lang/source/n_chars
    assert "ReadSchema" in plan
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read and "text" in read
    assert "n_chars" not in read and "source" not in read


def test_predicate_pushdown_reaches_scan(emb):
    plan = plan_of(emb.where(F.col("vec_id") < 10).select("vec_id"))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "LessThan(vec_id,10)" in pushed


def test_partition_plan_join_is_broadcast(spark):
    from pysparkenc.engine import plan_partitions
    from pysparkenc.synth import make_tokens_table

    df = make_tokens_table(spark, 200, seed=2)
    plan = plan_of(plan_partitions(df, ("source", "doc_id"), 8))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_exact_dedup_has_partial_aggregation(docs):
    from pysparkenc.dedup import exact_dedup

    plan = plan_of(exact_dedup(docs), "simple")
    # two HashAggregates around the exchange = map-side partial agg:
    # only (hash, min_id, count) rows cross the wire, never the text
    assert plan.count("HashAggregate") >= 2
    assert "partial_min" in plan and "partial_count" in plan
    # the shuffle key is the md5 grouping expression, not the text column
    exch = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l][0]
    assert "text#" not in exch


def test_text_hot_path_is_whole_stage_codegen(docs):
    from pysparkenc.textops import quality_score

    plan = plan_of(quality_score(docs), "simple")
    # codegen stages print as "*(n)" in simple mode
    assert "*(1)" in plan
    # no Python evaluation anywhere in the text pipeline
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_minhash_md5_computed_once(docs):
    from pysparkenc.dedup import minhash_signature

    plan = plan_of(minhash_signature(docs, k=8), "simple")
    # the hashed-shingle array must appear as ONE md5 evaluation feeding
    # all k signature columns (the 20x regression this guards against
    # inlined it k times)
    assert plan.count("md5") == 1


def test_cosine_topk_broadcasts_queries(emb):
    from pysparkenc.similarity import cosine_topk

    plan = plan_of(cosine_topk(emb, emb.where(F.col("vec_id") < 5), k=3))
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan


def test_cosine_topk_rank_is_partition_local_first(emb):
    # VERDICT r2 wrong-#2 regression gate: the global window must rank the
    # MapInArrow partition-local top-k survivors (O(parts x queries x k)
    # rows), never the raw |corpus| x |queries| scored pairs. The physical
    # plan prints top-down, so the Window node must sit ABOVE the
    # MapInArrow reducer that feeds it.
    from pysparkenc.similarity import cosine_topk

    plan = plan_of(cosine_topk(emb, emb.where(F.col("vec_id") < 5), k=3))
    assert "MapInArrow" in plan and "Window" in plan
    assert plan.index("Window") < plan.index("MapInArrow")
    assert "BatchEvalPython" not in plan


def test_ann_lsh_join_is_bucket_equi_join(emb):
    from pysparkenc.similarity import ann_lsh_topk

    plan = plan_of(ann_lsh_topk(emb, emb.where(F.col("vec_id") < 5), k=3,
                                planes=4, tables=4))
    # (table, bucket)-key equi-join with the small query side broadcast:
    # corpus is never replicated beyond the tables× bucketing pass,
    # candidates stay bucket-local; bucket ids come from one Arrow-batch
    # matmul (MapInArrow), never a per-row Python loop
    assert "BroadcastHashJoin" in plan and "MapInArrow" in plan
    assert "NestedLoop" not in plan and "BatchEvalPython" not in plan


def test_encode_pipeline_single_python_stage(spark):
    from pysparkenc.engine import encode_table
    from pysparkenc.synth import make_tokens_table

    df = make_tokens_table(spark, 200, seed=3)
    plan = plan_of(encode_table(df, partition_by=("source", "doc_id"),
                                num_partitions=4), "simple")
    # exactly two Arrow-batched Python stages: the synthetic generator
    # and the codec kernels
    assert plan.count("MapInArrow") == 2
    assert "BatchEvalPython" not in plan
    # the partition plan was built on the driver: it arrives as a local
    # table through one broadcast join, with no window and no cache
    assert "BroadcastHashJoin" in plan and "LocalTableScan" in plan
    assert "Window" not in plan and "InMemoryRelation" not in plan


def test_decode_groups_without_sort(spark):
    from pysparkenc.engine import decode_table, encode_table
    from pysparkenc.synth import make_tokens_table

    df = make_tokens_table(spark, 200, seed=3)
    chunks = encode_table(df, partition_by=("source", "doc_id"),
                          num_partitions=4)
    plan = plan_of(decode_table(chunks, df.schema), "simple")
    # applyInArrow group decode adds exactly one shuffle, keyed on the
    # (part_id, page-group) key — pages_per_group batches ~32 pages of a
    # partition into one Python call, so the shuffle key is coarser than
    # chunk_id but still partition-local
    group_exchanges = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning(part_id" in l and "__pg" in l
    ]
    assert len(group_exchanges) == 1


def test_decode_projection_pushes_chunk_filter(spark, tmp_path):
    """decode_table with a projected schema filters the chunk scan to the
    needed chunks BEFORE the group shuffle; on a parquet-backed chunk
    table the In(col, ...) predicate reaches the scan."""
    from pyspark.sql.types import StructType

    from pysparkenc.engine import decode_table, encode_table
    from pysparkenc.synth import make_tokens_table

    df = make_tokens_table(spark, 300, seed=5)
    path = str(tmp_path / "chunks")
    encode_table(df, num_partitions=2).write.parquet(path)
    chunks = spark.read.parquet(path)

    proj = StructType([df.schema["doc_id"], df.schema["n_tok"]])
    out = decode_table(chunks, proj)
    plan = plan_of(out, "formatted")
    assert "PushedFilters" in plan and "col" in plan
    # and the result is the correct 2-column projection
    got = {r["doc_id"]: r["n_tok"] for r in out.collect()}
    want = {r["doc_id"]: r["n_tok"] for r in df.collect()}
    assert got == want


def test_ann_ivf_join_is_cell_equi_join(emb):
    from pysparkenc.similarity import ann_ivf_topk

    plan = plan_of(ann_ivf_topk(emb, emb.where(F.col("vec_id") < 5), k=3,
                                n_centroids=8, n_probe=2))
    # cell-key equi-join with the small probe side broadcast; cell ids
    # come from one BLAS matmul per Arrow batch (MapInArrow), and the
    # rank runs over partition-local top-k survivors
    assert "BroadcastHashJoin" in plan and "MapInArrow" in plan
    assert "NestedLoop" not in plan and "BatchEvalPython" not in plan


def test_pack_sequences_plan_is_jvm_only_two_shuffles(spark):
    from pysparkenc.pipeline import pack_sequences
    from pysparkenc.synth import make_tokens_table

    df = make_tokens_table(spark, 500, seed=7)
    # strict single-stream mode: ONE shuffle total — the window's
    # hashpartitioning(source) already clusters the (source, seq_id)
    # assembly groupBy, so Catalyst elides the second exchange
    plan = plan_of(pack_sequences(df, 128, shards=None))
    # zero Python in the data path (MapInArrow is the synth generator)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    tree = [ln for ln in plan.splitlines()
            if ln.lstrip().startswith(("+-", ":-", "Adaptive", "*("))]
    assert sum("Exchange" in ln for ln in tree) == 1, plan
    # partial + final aggregation pair for the fragment assembly
    assert sum("ObjectHashAggregate" in ln for ln in tree) == 2, plan


def test_pack_sequences_auto_shard_plan_costs_one_tiny_shuffle(spark):
    """Default auto-sharding adds exactly (a) a partial-agg shuffle of
    per-(partition, group) token COUNTS — bytes per group, never token
    bytes — and (b) a broadcast of the per-group totals back onto the
    stream. The token bytes still cross exactly ONE hash exchange (the
    window's), now keyed (group, pack_shard) so a hot group fans out."""
    from pysparkenc.pipeline import pack_sequences
    from pysparkenc.synth import make_tokens_table

    df = make_tokens_table(spark, 500, seed=7)
    plan = plan_of(pack_sequences(df, 128))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # totals join is broadcast, never a sort-merge of the token stream
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    tree = [ln for ln in plan.splitlines()
            if ln.lstrip().startswith(("+-", ":-", "Adaptive", "*("))]
    # window exchange + totals-agg exchange + broadcast exchange
    assert sum("Exchange" in ln for ln in tree) == 3, plan
    # the window sort runs per (source, pack_shard), not per source
    assert "pack_shard" in plan


def test_stratified_sample_is_narrow_codegen_filter(docs):
    from pysparkenc.pipeline import stratified_sample

    plan = plan_of(stratified_sample(docs, {"src0": 500_000},
                                     default_ppm=100_000), "simple")
    assert "Exchange" not in plan  # pure filter, no shuffle
    assert "BatchEvalPython" not in plan
    assert "*(1)" in plan  # whole-stage codegen


def test_aggregate_pushdown_never_touches_payload(spark, tmp_path):
    """aggregate_chunks answers from footer stats: on a parquet-backed
    chunk store the scan must prune the binary payload columns entirely
    and the plan must contain no Arrow/Python stage."""
    from pysparkenc.engine import aggregate_chunks, encode_table
    from pysparkenc.synth import make_tokens_table

    df = make_tokens_table(spark, 400, seed=3).select("doc_id", "n_tok")
    encode_table(df, num_partitions=4).write.parquet(str(tmp_path / "c"))
    chunks = spark.read.parquet(str(tmp_path / "c"))
    agg = aggregate_chunks(chunks, ["n_tok"])
    plan = plan_of(agg)
    assert "MapInArrow" not in plan and "ApplyInArrow" not in plan
    assert "BatchEvalPython" not in plan
    # column pruning reached the scan: no payload bytes are read
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "data" not in read_schema[0]
    assert "aux" not in read_schema[0]


def test_token_freq_topk_rank_is_shard_local_first(docs):
    """The final per-group rank must run AFTER a (group, shard)-local
    top-k (two windows in the plan) so no reducer ever materializes a
    group's whole distinct vocabulary — with an open hashed vocab the
    single-window plan is a one-reducer-per-group job at scale."""
    from pysparkenc.textops import token_freq_topk

    plan = plan_of(token_freq_topk(docs, 10, shards=8))
    n_windows = plan.count("Window")
    assert n_windows >= 2, plan
    # the shard column participates in the first window's partitioning
    assert "__shard" in plan
    # and the global rank filter still caps the output
    assert "rank" in plan


def test_token_freq_topk_matches_single_window(docs):
    """Losslessness of the shard-local pre-reduction: identical output
    to the naive single-window global rank (the SQL oracle's shape)."""
    from pyspark.sql import Window

    from pysparkenc.textops import token_freq_topk, words

    got = {
        (r["source"], r["rank"]): (r["token"], r["cnt"])
        for r in token_freq_topk(docs, 7, shards=5).collect()
    }
    counts = (
        docs.select("source", F.explode(words(F.col("text"))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("cnt").desc(), F.col("token").asc()
    )
    want = {
        (r["source"], r["rank"]): (r["token"], r["cnt"])
        for r in counts.withColumn(
            "rank", F.row_number().over(w).cast("long")
        ).where(F.col("rank") <= 7).collect()
    }
    assert got == want


def test_read_store_with_deletes_plans_no_exchange(spark, tmp_path):
    """Equality deletes must never plan an O(rows x keys) shape. The
    store read is file-local: the ``pysparkenc`` reader decodes each
    chunk file in one ``mapInArrow`` task and drops deleted rows there,
    sequenced by run, so the plan with a committed delete carries no
    exchange, no join and no cartesian/nested-loop over the data side."""
    from pysparkenc.lineage import (
        delete_rows,
        encode_with_lineage,
        read_store,
    )
    from pysparkenc.synth import make_tokens_table

    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 150, seed=23)
    encode_with_lineage(df, store, num_partitions=2)
    delete_rows(spark, store, df.limit(4).select("doc_id"))
    plan = plan_of(read_store(spark, store))
    assert "MapInArrow" in plan
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_scan_table_prunes_before_decode(spark, tmp_path, filter_pushdown):
    """Every read path drops the page groups ``where`` proves empty
    before decoding them: with one such group's payload corrupted, the
    filtered reads return the right rows, while a plain decode of the
    same chunks fails its CRC check. ``scan_table`` prunes inside its
    one Python decode stage, with no join."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pysparkenc.engine import decode_table, scan_table
    from pysparkenc.lineage import (
        encode_with_lineage,
        read_committed_chunks,
        read_store,
    )

    path = str(tmp_path / "store")
    df = spark.range(2000).select(F.col("id").alias("k"),
                                  (F.col("id") % 7).alias("v"))
    encode_with_lineage(df, path, num_partitions=1, rows_per_chunk=250,
                        sort_by=("k",))
    # flip a payload byte of the k chunk of the page group holding the
    # smallest keys; its stats prove no k >= 1000 lives there
    (f,) = glob.glob(f"{path}/chunks/run_id=*/*.parquet")
    t = pq.read_table(f)
    rows = t.to_pylist()
    low = min((r for r in rows if r["col"] == "k"),
              key=lambda r: r["num_max"])
    assert low["num_max"] < 1000
    low["data"] = bytes([low["data"][0] ^ 0xFF]) + low["data"][1:]
    pq.write_table(pa.Table.from_pylist(rows, schema=t.schema), f)

    where = [("k", ">=", 1000)]
    want = sorted(map(tuple, df.where(F.col("k") >= 1000).collect()))
    scanned = scan_table(read_committed_chunks(spark, path), where=where)
    plan = plan_of(scanned, "simple")
    assert "Join" not in plan
    assert plan.count("FlatMapGroupsInArrow") == 1
    assert sorted(map(tuple, scanned.collect())) == want
    stored = read_store(spark, path, where=where)
    assert sorted(map(tuple, stored.collect())) == want
    loaded = spark.read.format("pysparkenc").load(path).where("k >= 1000")
    assert sorted(map(tuple, loaded.collect())) == want
    with pytest.raises(Exception, match="crc32 mismatch"):
        decode_table(read_committed_chunks(spark, path)).collect()


def _jobs_in(spark, group: str, action) -> int:
    """Spark jobs ``action`` starts, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_encode_with_lineage_jobs_match_a_plain_write(spark, tmp_path):
    """The lineage commit (replay and resume reads, run-id allocation,
    schema guard, commit record, collision check) runs on the driver
    with pyarrow: committing a run into a fresh store starts no more
    Spark jobs than writing the same encoded chunks as plain
    partitioned parquet."""
    from pysparkenc.engine import encode_table
    from pysparkenc.lineage import encode_with_lineage
    from pysparkenc.synth import make_tokens_table

    src = str(tmp_path / "src")
    make_tokens_table(spark, 300, seed=9).write.parquet(src)
    df = spark.read.parquet(src)
    kw = dict(partition_by=("source", "doc_id"), num_partitions=4)

    def plain(out):
        (encode_table(df, **kw).withColumn("run_id", F.lit(1))
         .write.partitionBy("run_id").parquet(str(tmp_path / out)))

    def lineage():
        assert encode_with_lineage(df, str(tmp_path / "store"),
                                   **kw)["rows"] == 300

    plain("warm-up")  # the session's first encode starts one-off jobs
    want = _jobs_in(spark, "plain-write", lambda: plain("plain"))
    got = _jobs_in(spark, "lineage-write", lineage)
    assert 0 < got <= want, (got, want)


def test_encode_with_lineage_fresh_store_job_count(spark, tmp_path):
    """Planning on the driver costs one collected aggregate: a fresh-store
    ``encode_with_lineage`` runs at most 5 Spark jobs (8 with the old
    persisted count, window and tether)."""
    from pysparkenc.lineage import encode_with_lineage
    from pysparkenc.synth import make_tokens_table

    src = str(tmp_path / "src")
    make_tokens_table(spark, 300, seed=9).write.parquet(src)
    df = spark.read.parquet(src)

    def run(name):
        assert encode_with_lineage(df, str(tmp_path / name),
                                   partition_by=("source", "doc_id"),
                                   )["rows"] == 300

    run("warm-up")  # the session's first encode starts one-off jobs
    assert _jobs_in(spark, "fresh-store", lambda: run("store")) <= 5


def test_encode_table_default_is_one_task_wave(spark):
    from pysparkenc.engine import encode_table
    from pysparkenc.synth import make_tokens_table

    df = make_tokens_table(spark, 200, seed=3)
    slots = spark.sparkContext.defaultParallelism
    for kw in ({}, {"partition_by": ("source", "doc_id")}):
        assert encode_table(df, **kw).rdd.getNumPartitions() == slots


@pytest.fixture()
def maintained_store(spark, tmp_path):
    """Two data runs and one delete run."""
    from pysparkenc.lineage import delete_rows, encode_with_lineage
    from pysparkenc.synth import make_tokens_table

    store = str(tmp_path / "store")
    df = make_tokens_table(spark, 300, seed=13)
    for i in range(2):
        encode_with_lineage(
            df.withColumn("doc_id", F.concat(F.lit(f"r{i}-"), "doc_id")),
            store, partition_by=("source", "doc_id"), num_partitions=2,
            resume=False)
    delete_rows(spark, store, spark.createDataFrame(
        [("r0-" + r["doc_id"],) for r in df.limit(5).collect()],
        "doc_id string"))
    return store


def test_lineage_metadata_calls_run_no_spark_job(spark, maintained_store):
    """The history, expiry and orphan reclaim plan from the lineage
    records on the driver: collecting ``snapshots`` and running
    ``expire_runs`` / ``vacuum_store`` start no Spark job."""
    from pysparkenc.lineage import (
        compact_store,
        expire_runs,
        snapshots,
        vacuum_store,
    )

    compact_store(spark, maintained_store, runs=(2,))
    assert _jobs_in(spark, "snapshots", lambda: snapshots(
        spark, maintained_store).collect()) == 0
    assert _jobs_in(spark, "expire", lambda: expire_runs(
        spark, maintained_store)) == 0
    assert _jobs_in(spark, "vacuum", lambda: vacuum_store(
        spark, maintained_store, grace_sec=0.0)) == 0


@pytest.mark.parametrize("runs", [(2,), None], ids=["runs", "full"])
def test_compaction_decodes_file_locally(spark, maintained_store,
                                         monkeypatch, runs):
    """Compaction decodes through the file-local reader: its plan has a
    ``MapInArrow`` decode, no grouped ``FlatMapGroupsInArrow`` decode
    and no delete anti-join, and it runs at most 8 Spark jobs."""
    import pysparkenc.lineage as L

    plans = []
    plan_encode = L._plan_encode

    def spy(df, **kw):
        out = plan_encode(df, **kw)
        plans.append(plan_of(out[0]))
        return out

    monkeypatch.setattr(L, "_plan_encode", spy)
    jobs = _jobs_in(spark, f"compact-{runs}", lambda: L.compact_store(
        spark, maintained_store, runs=runs))
    assert jobs <= 8
    (plan,) = plans
    assert "MapInArrow" in plan
    assert "FlatMapGroupsInArrow" not in plan
    assert "LeftAnti" not in plan
