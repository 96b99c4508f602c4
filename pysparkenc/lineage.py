"""Per-partition lineage + checkpoint resume for encode jobs.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics". The unit of work is the engine's ``part_id`` (deterministic:
hash/range of the partition keys — same input and partition plan ⇒ same
part_ids at any cluster size). An encode run writes, per part_id, the
encoded chunk rows *and* one lineage row ``(run_id, part_id, n_rows,
n_values, plain_bytes, enc_bytes, n_chunks, wall_sec, status,
partition_by, num_partitions)``; the last two record the plan a resume
must reuse.

Commit protocol (Iceberg-snapshot-shaped, on plain parquet dirs), run by
every store write (:mod:`pysparkenc.datasource`'s one writer):

- each task writes its rows with pyarrow as ONE file under ``_staging/``
  — the only Spark job of a commit;
- the driver renames them into ``chunks/run_id=<r>/``, builds the commit
  record with pyarrow from their chunk METADATA (one lineage row per
  partition, from what actually landed) and publishes it as ONE parquet
  file, atomically renamed into ``lineage/`` — the lineage row IS the
  commit record, and a commit is visible whole or not at all;
- which chunks and delete runs are visible is decided in ONE place,
  :func:`pysparkenc.datasource._lineage_plan`, on the driver with
  pyarrow: a (run_id, part_id) is live when it has a ``done`` row and no
  ``superseded`` marker, so orphan chunks from a crashed run are
  invisible and append-after-crash never double-counts. Every reader
  and maintenance call here plans from it;
- resume encodes only the part ids the lineage records no done row for;
- replay checks, run-id allocation, the schema-evolution guard and the
  single-writer collision check all read the lineage and chunk metadata
  with pyarrow on the driver (:mod:`pysparkenc.datasource`), which, like
  :func:`read_store`, assumes the local-filesystem layout.

A killed 10^12-sequence job therefore restarts where it stopped, and
swapping this directory layout for real Iceberg commits is a config
change, not a redesign.
"""

from __future__ import annotations

import json
import time

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import datasource
from .engine import (
    _logical_of,
    aggregate_chunks,
    arrow_safe_schema,
    count_rows,
    distinct_values,
    _plan_encode,
    plan_scan,
    require_flat_scalar,
    restore_intervals,
    row_filters,
    where_pushed,
)

LINEAGE_SCHEMA = StructType(
    [
        StructField("run_id", LongType(), False),
        StructField("batch_id", LongType(), False),  # -1 for batch-mode runs
        StructField("part_id", LongType(), False),
        StructField("n_rows", LongType(), False),
        StructField("n_values", LongType(), False),
        StructField("plain_bytes", LongType(), False),
        StructField("enc_bytes", LongType(), False),
        StructField("n_chunks", LongType(), False),
        StructField("wall_sec", DoubleType(), False),
        StructField("status", StringType(), False),
        # the run's partition plan (encode_with_lineage, which resumes
        # by part id); null on runs written before it was recorded and
        # on runs nothing resumes (compaction, the data-source writer,
        # deletes, markers)
        StructField("partition_by", StringType(), True),
        StructField("num_partitions", LongType(), True),
    ]
)


def _schemas_dir(path: str) -> str:
    return f"{path}/schemas"


def _record_run_schema(path: str, run_id: int, schema) -> None:
    """Write the run's logical schema as ``schemas/run-<id>.json`` —
    the per-run schema record schema evolution audits need ("which run
    introduced column X?"). Reads use it when every live run recorded
    the same one and fall back to chunk metadata otherwise
    (:func:`_store_schema`), so a missing record never blocks a read."""
    import os

    os.makedirs(_schemas_dir(path), exist_ok=True)
    with open(f"{_schemas_dir(path)}/run-{int(run_id)}.json", "w") as fh:
        json.dump(schema.jsonValue(), fh)


def run_schemas(path: str) -> dict[int, "StructType"]:
    """Per-run schemas every data run records at commit
    (:func:`pysparkenc.datasource._commit_run`), keyed by run id."""
    import os

    d = _schemas_dir(path)
    if not os.path.isdir(d):
        return {}
    out: dict[int, StructType] = {}
    for f in os.listdir(d):
        if f.startswith("run-") and f.endswith(".json"):
            with open(os.path.join(d, f)) as fh:
                out[int(f[4:-5])] = StructType.fromJson(json.load(fh))
    return out


def read_lineage(spark: SparkSession, path: str) -> DataFrame:
    """Lineage rows under ``path`` as a DataFrame over a local table
    (collecting it starts no Spark job): the pyarrow
    :func:`pysparkenc.datasource._lineage_table`, so a directory written
    before a schema extension (e.g. the ``batch_id`` column) still reads
    cleanly — missing columns surface as nulls and ``batch_id`` defaults
    to -1 (batch mode)."""
    return spark.createDataFrame(
        datasource._lineage_table(path, LINEAGE_SCHEMA.names))


def read_committed_chunks(
    spark: SparkSession, path: str, *, as_of_run: int | None = None
) -> DataFrame:
    """Chunk rows of the live partitions of
    :func:`pysparkenc.datasource._lineage_plan`.

    ``part_id`` is remapped to ``run_id * 2^32 + part_id`` so chunk groups
    stay unique across runs: batch-resume assigns each part_id to exactly
    one run, but streaming appends re-use the same part space every
    micro-batch and must not collide in decode's groupBy.

    ``as_of_run`` is snapshot time travel (the Iceberg
    ``VERSION AS OF`` contract on this layout): each run's single-file
    lineage append IS a snapshot boundary, so planning from the commit
    records of runs ``<= as_of_run`` reproduces exactly the table a
    reader saw the moment that run committed — later appends (batch
    resumes or streaming micro-batches) become invisible. The plan is
    driver-side metadata; the chunk scan only filters on it, by
    ``run_id`` (a hive partition column, so other runs' files are never
    listed) and by the combined part id."""
    live, _ = datasource._lineage_plan(path, as_of_run)
    key = (F.col("run_id") * F.lit(1 << 32) + F.col("part_id")).cast("long")
    return (
        spark.read.parquet(datasource._chunk_dir(path))
        .where(F.col("run_id").isin(sorted(live)))
        .withColumn("part_id", key)
        .where(F.col("part_id").isin(
            [(r << 32) + p for r, ps in live.items() for p in ps]))
        .drop("run_id")
    )


_SNAPSHOT_SUMS = ("n_rows", "n_values", "plain_bytes", "enc_bytes")


def snapshots(spark: SparkSession, path: str) -> DataFrame:
    """Snapshot history: one row per committed run (Iceberg's
    ``snapshots`` metadata table analogue), newest first, with an
    ``operation`` column from :func:`pysparkenc.datasource._run_operations`
    (the classification the stream source tails by): ``append`` (batch
    encode or data-source append), ``stream-append`` (micro-batch with a
    ``batch_id``), ``compact`` (a run whose id appears as the compacting
    ``batch_id`` of OTHER runs' superseded markers), ``quarantined`` (a
    run self-superseded by the concurrent-commit detector — its markers
    carry ``batch_id == run_id``), or ``delete`` (equality-delete
    commit; ``n_rows`` is its key count). A ``format("pysparkenc")``
    overwrite of a store with live data lists as ``compact``: it commits
    the same shape, its rows plus supersede markers for everything live.
    Aggregated from the lineage commit records with pyarrow on the
    driver — no chunk payload is touched and collecting the result
    starts no Spark job."""
    lin = datasource._lineage_table(
        path, ("run_id", "batch_id", "part_id", *_SNAPSHOT_SUMS,
               "wall_sec", "status"))
    done = datasource._run_operations(
        lin, [*((c, "sum") for c in _SNAPSHOT_SUMS), ("wall_sec", "max")])
    dels = lin.filter(pc.equal(lin.column("status"), "delete"))
    zeros = pa.array([0] * dels.num_rows, pa.int64())
    out = pa.concat_tables([
        pa.table({
            "run_id": done.column("run_id"),
            "batch_id": done.column("batch_id"),
            "partitions": done.column("part_id_count"),
            **{c: done.column(f"{c}_sum") for c in _SNAPSHOT_SUMS},
            "wall_sec": done.column("wall_sec_max"),
            "operation": done.column("operation"),
        }),
        pa.table({
            "run_id": dels.column("run_id"),
            "batch_id": dels.column("batch_id"), "partitions": zeros,
            "n_rows": dels.column("n_rows"), "n_values": zeros,
            "plain_bytes": zeros, "enc_bytes": zeros,
            "wall_sec": dels.column("wall_sec"),
            "operation": pa.array(["delete"] * dels.num_rows, pa.string()),
        }),
    ])
    return spark.createDataFrame(out.sort_by([("run_id", "descending")]))


def _on_disk_run_ids(path: str) -> set[int]:
    """Run ids with ANY files on disk — chunk dirs or delete-key dirs,
    committed or not. Local-filesystem layout (object stores would route
    the listing through their client, same as :func:`expire_runs`)."""
    return {r for kind in (datasource._CHUNK_DIR, datasource._DELETES_DIR)
            for r in datasource._run_dirs(path, kind)}


def _next_run_id(spark: SparkSession | None, path: str) -> int:
    """Allocate the next run id at commit: one past the max run id in the
    lineage OR on disk (chunk or delete-key dirs, committed or not). The
    on-disk scan closes the crash window between a run's rename into
    ``run_id=<r>`` and its lineage append: a retry that REUSED ``r``
    would interleave its files with the orphans — decode survives but
    the run's lineage metrics and every footer-metadata aggregate would
    double. Skipping disk-occupied ids makes orphans permanently
    invisible instead; :func:`vacuum_store` reclaims them. Pure pyarrow
    and file listing: ``spark`` is unused (the commit passes None)."""
    return max(datasource._lineage_max_run(path),
               *_on_disk_run_ids(path), 0) + 1


def _resume_plan(
    done, partition_by: str, num_partitions: int | None
) -> int | None:
    """The ``num_partitions`` a resume over the committed ``done``
    lineage rows must use: the recorded one when the caller passes
    None. Raises ValueError when the caller's plan differs from the
    recorded plan, or the runs record different plans — resuming under
    another plan moves rows to other part ids, so the skip set would
    drop some rows and encode others twice. No recorded plan (rows
    committed before plans were recorded) leaves the caller's value."""
    recorded = {
        (by, n) for by, n in zip(done.column("partition_by").to_pylist(),
                                 done.column("num_partitions").to_pylist())
        if n is not None
    }
    if not recorded:
        return num_partitions
    if len(recorded) > 1:
        raise ValueError(
            "cannot resume: the committed runs record different partition "
            f"plans {sorted(recorded)} (partition_by, num_partitions); "
            "pass resume=False to append a new dataset"
        )
    ((rec_by, rec_n),) = recorded
    if num_partitions is None:
        num_partitions = int(rec_n)
    if (partition_by, num_partitions) != (rec_by, rec_n):
        raise ValueError(
            f"cannot resume with partition_by={json.loads(partition_by)}, "
            f"num_partitions={num_partitions}: the committed parts were "
            f"planned with partition_by={json.loads(rec_by)}, "
            f"num_partitions={rec_n}, and part ids differ between plans. "
            "Resume with the recorded plan (num_partitions=None reuses "
            "it), or pass resume=False to append a new dataset"
        )
    return num_partitions


def encode_with_lineage(
    df: DataFrame,
    path: str,
    *,
    partition_by: tuple[str, ...] | None = None,
    num_partitions: int | None = None,
    codec: str | dict[str, str] | None = None,
    compression: str | None = None,
    rows_per_chunk: int | None = 4096,
    target_chunk_bytes: int | None = None,
    sort_by: tuple[str, ...] | None = None,
    bloom: tuple[str, ...] | None = None,
    resume: bool = True,
    drop_part_ids: frozenset[int] | None = None,
    batch_id: int | None = None,
) -> dict:
    """Encode ``df`` into ``path`` with per-partition lineage; resumable.

    ``resume=True`` (the default) means THIS CALL CONTINUES the same
    logical encode: partitions whose part_id already committed are
    skipped, so re-running after a crash encodes only what is missing.
    To APPEND a second dataset to an existing store pass
    ``resume=False`` (fresh run, all partitions written) — with the
    default, an append whose part ids collide with committed ones
    silently reduces to a no-op (the result then carries a ``hint``
    saying so).

    A part id is a pure function of the row only for a fixed partition
    plan, so every run records its ``partition_by`` and resolved
    ``num_partitions`` in its done lineage rows. A resume that finds
    committed parts reuses the recorded ``num_partitions`` when the
    caller passes None, and raises ``ValueError`` before writing when
    the caller's plan differs from the recorded one (or the committed
    runs record different plans). Rows committed before plans were
    recorded carry none, so a store holding only such rows resumes as
    it always did: with the caller's plan, unchecked.

    ``num_partitions`` defaults to ``defaultParallelism``: the encode
    stage then runs as one wave of tasks (see
    :func:`pysparkenc.engine.encode_table`).

    Returns run metrics. ``drop_part_ids`` is a test-only fault injector:
    those partitions' tasks encode nothing, simulating a job
    killed after a partial run — the next call with ``resume=True``
    encodes only the missing partitions.

    ``batch_id`` makes the whole call idempotent per source micro-batch:
    Spark's ``foreachBatch`` is at-least-once, so a batch whose encode
    fully committed but whose *streaming checkpoint offset* was lost gets
    replayed with the same batch_id — and must become a no-op, or readers
    see every row twice. A committed batch is detected by its done lineage
    rows; that detection is sound because the lineage append itself is a
    single-file atomic commit — any visible done row for a batch implies
    ALL of its rows are visible. The pre-commit crash window is covered
    by the chunks-then-lineage protocol (orphan chunks stay invisible
    and the replay re-encodes everything).
    """
    spark = df.sparkSession
    t0 = time.time()
    # replay and resume both read the done rows, with pyarrow: the
    # partition plan's aggregate and the encode-and-stage job are this
    # call's only Spark jobs
    done = datasource._done_rows(
        path, ("part_id", "partition_by", "num_partitions"))

    def replayed() -> dict:
        return {
            "run_id": -1,
            "batch_id": int(batch_id),
            "wall_sec": time.time() - t0,
            "partitions": 0,
            "rows": 0,
            "values": 0,
            "plain_bytes": 0,
            "enc_bytes": 0,
            "skipped_partitions": datasource._batch_committed(
                datasource._done_rows(path), batch_id),
            "compression_ratio": 1.0,
            "replayed_batch": True,
        }

    # checked before the encode too, so a replay encodes nothing
    if batch_id is not None and datasource._batch_committed(done, batch_id):
        return replayed()
    datasource._check_schema_evolution(path, df.schema)
    done_parts = (set(done.column("part_id").to_pylist()) if resume
                  else set())
    plan_by = json.dumps(list(partition_by or ()))
    if done_parts:
        num_partitions = _resume_plan(done, plan_by, num_partitions)
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    planned, pages = _plan_encode(
        df, partition_by=partition_by, num_partitions=num_partitions,
        codec=codec, compression=compression, rows_per_chunk=rows_per_chunk,
        target_chunk_bytes=target_chunk_bytes, sort_by=sort_by, bloom=bloom,
    )
    # the tasks of committed (resume) and dropped (fault injection)
    # parts encode nothing
    skip = frozenset(done_parts | {int(p) for p in drop_part_ids or ()})
    committed = datasource._commit_run(
        path, datasource._stage_df(planned, path, pages, skip), t0=t0,
        retry="re-run the encode, which will commit under a fresh run id.",
        schema=df.schema, batch_id=-1 if batch_id is None else int(batch_id),
        plan=(plan_by, num_partitions),
    )
    if committed is None:
        return replayed()
    run_id, rows = committed
    wall = time.time() - t0
    # rows are LINEAGE_SCHEMA tuples: n_rows, n_values, plain_bytes,
    # enc_bytes sit at 3..6
    plain = sum(r[5] for r in rows)
    enc = sum(r[6] for r in rows)
    out = {
        "run_id": run_id,
        "wall_sec": wall,
        "partitions": len(rows),
        "rows": sum(r[3] for r in rows),
        "values": sum(r[4] for r in rows),
        "plain_bytes": plain,
        "enc_bytes": enc,
        "skipped_partitions": len(done_parts),
        "compression_ratio": plain / max(1, enc),
    }
    if done_parts and not out["rows"]:
        # resume dropped EVERYTHING: this call was a no-op. Correct for
        # a true resume of a completed encode, but the classic footgun
        # when the caller meant to APPEND a second dataset (part ids
        # collide with the committed run's). Say so in the result
        # instead of leaving a silent empty run.
        out["hint"] = (
            "all partitions were already committed (resume semantics); "
            "to APPEND a new dataset to this store pass resume=False "
            "(or batch_id=... for streaming micro-batches)"
        )
    return out


def delete_rows(
    spark: SparkSession,
    path: str,
    keys_df: DataFrame,
    *,
    key_cols: tuple[str, ...] = ("doc_id",),
) -> dict:
    """Equality delete (Iceberg v2 equality-delete semantics): retract
    every row whose ``key_cols`` tuple appears in ``keys_df`` — WITHOUT
    touching a single chunk. The training-data takedown path: removing
    opted-out or contaminated documents from a 100 TB encoded store must
    not rewrite the store.

    A delete is itself a lineage-committed run: the distinct key tuples
    land under ``deletes/run_id=<r>/`` first (an empty key set as one
    empty file), then ONE lineage file with ``status='delete'`` publishes
    them — the commit of every store write, so a crash before it leaves
    orphan key files that readers never see.

    Sequencing matches Iceberg: the delete applies only to rows written
    by runs with ``run_id < r``. A row with the same key appended AFTER
    the delete is new data and survives — so "remove doc X, later
    re-ingest a cleaned doc X" does the right thing with no coordination.
    Time travel composes the same way: ``as_of_run < r`` reads the
    pre-delete table. :func:`compact_store` materializes visible deletes
    and supersedes the delete run (its keys stop being scanned);
    :func:`expire_runs` then removes the key files.
    """
    t0 = time.time()
    # Eager driver-side key validation (mirrors encode_table's interval
    # check): a key column present in keys_df but absent from the store
    # would commit cleanly and then poison EVERY subsequent read — the
    # reader cannot find the key column to match and there is no
    # supported undo. Resolve the store schema from chunk metadata with
    # pyarrow and refuse up front. An empty store (no committed data
    # runs yet) has no schema to check against — the delete is legal
    # (it applies to nothing) and later appends define the schema, so
    # validation is skipped there. A read failure (a corrupt footer)
    # propagates: skipping the guard would let a poisoning delete commit.
    live, _ = datasource._lineage_plan(path)
    if live:
        store_fields = {
            f.name: _logical_of(f)
            for f in datasource._recover_store_schema(path, live)
        }
        missing = [c for c in key_cols if c not in store_fields]
        if missing:
            raise ValueError(
                f"delete key column(s) {missing} do not exist in the "
                f"store at {path} (columns: {sorted(store_fields)}); a "
                "committed delete on an unknown column would break every "
                "subsequent read of the store"
            )
        # types must match too: a committed key of the wrong type can
        # never retract a row (string 'abc' vs int64 column) and makes
        # the data source's type-aligned key cast fail on every
        # subsequent multi-column read — refuse at commit time, the
        # only moment with a supported undo (don't commit)
        key_fields = {f.name: _logical_of(f)
                      for f in keys_df.select(*key_cols).schema.fields}
        mistyped = [
            (c, key_fields[c], store_fields[c])
            for c in key_cols
            if key_fields[c] != store_fields[c]
        ]
        if mistyped:
            detail = ", ".join(
                f"{c}: keys carry {kt} but the store column is {st}"
                for c, kt, st in mistyped
            )
            raise TypeError(
                f"delete key column type mismatch ({detail}); cast the "
                "keys DataFrame to the store's column types before "
                "committing the delete"
            )
    keys = keys_df.select(*key_cols).distinct()
    # Stores are SINGLE-WRITER (same contract as encode/compact): two
    # concurrent committers can race _next_run_id to the same id, and
    # then both key lists land in the one delete run — the commit check
    # fails LOUDLY, since a takedown list must never commit silently
    # mixed with another.
    run_id, rows = datasource._commit_run(
        path, datasource._stage_df(keys, path), t0=t0,
        retry="both writers' key files landed in one delete run; re-apply "
        "this delete list.",
        keys=to_arrow_schema(keys.schema),
    )
    n = rows[0][3]
    return {"run_id": run_id, "keys": int(n), "wall_sec": time.time() - t0}


def upsert_rows(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    *,
    key_cols: tuple[str, ...] = ("doc_id",),
    partition_by: tuple[str, ...] | None = None,
    num_partitions: int | None = None,
    **encode_kw,
) -> dict:
    """MERGE-lite: replace-by-key. Retracts every current row whose
    ``key_cols`` tuple appears in ``df`` (:func:`delete_rows`, run r),
    then appends ``df`` as a fresh run (r+1). Delete sequencing makes
    the composition correct: the delete applies only to rows older than
    r, the new rows are newer, so readers at latest see exactly one row
    per key — the new one. Existing keys update, new keys insert.

    NOT single-snapshot atomic (Iceberg's MERGE is; this is two
    commits): a reader between the two commits sees the keys absent —
    never duplicated — and a crash between them converges on retry
    (the re-run's delete is a no-op for already-retracted keys, the
    append completes the upsert). Time travel exposes both boundaries.

    The append runs with ``resume=False`` by construction: resume's
    anti-join on completed part_ids is for re-running ONE interrupted
    job, and would silently skip an upsert's partitions whenever earlier
    runs already committed those part ids.

    ``df`` must hold ONE row per key tuple — the same rule Iceberg's
    MERGE enforces for multiple source matches. Duplicates would all
    survive the append (the delete dedups its key list but the append
    does not), so they are rejected up front rather than silently
    breaking the one-row-per-key contract."""
    dup = (
        df.groupBy(*key_cols).count().where(F.col("count") > 1).limit(1)
        .collect()
    )
    if dup:
        key = tuple(dup[0][c] for c in key_cols)
        raise ValueError(
            f"upsert_rows input has multiple rows for key {key!r}; "
            "deduplicate (or aggregate) the source to one row per "
            f"{key_cols} first"
        )
    d = delete_rows(spark, path, df.select(*key_cols), key_cols=key_cols)
    m = encode_with_lineage(
        df, path, partition_by=partition_by, num_partitions=num_partitions,
        resume=False, **encode_kw,
    )
    return {
        "delete_run": d["run_id"],
        "append_run": m["run_id"],
        "keys": d["keys"],
        "rows": m["rows"],
        "wall_sec": d["wall_sec"] + m["wall_sec"],
    }


def read_delete_sets(
    spark: SparkSession, path: str, *, as_of_run: int | None = None
) -> list[tuple[int, DataFrame]]:
    """The live delete runs of :func:`pysparkenc.datasource._lineage_plan`
    at ``as_of_run``, as ``(delete_run_id, keys_df)`` pairs. Only
    lineage-committed runs are read (orphan key files from a crashed
    :func:`delete_rows` stay invisible); a compaction marks materialized
    delete runs ``superseded`` (``part_id = -1``) and they drop out here.
    The list is planned on the driver — its length is the number of
    delete COMMITS, not keys. A committed delete run whose key files are
    gone raises ValueError."""
    _, dels = datasource._lineage_plan(path, as_of_run)
    return [(r, spark.read.parquet(key_dir))
            for r, key_dir, _ in datasource._delete_sets(path, dels)]


def apply_deletes(
    rows: DataFrame,
    deletes: list[tuple[int, DataFrame]],
    *,
    part_col: str,
) -> DataFrame:
    """Anti-join ``rows`` against each delete set, sequenced by run: a
    row dies only to a delete committed AFTER its writing run
    (``delete_run > row_run``, with ``row_run = part_col >> 32`` — the
    combined id :func:`read_committed_chunks` emits). Null-safe on the
    keys, so a delete key tuple containing NULL retracts NULL-keyed rows.

    Scale shape: all delete runs sharing a key-column set UNION into one
    keys-with-``__del_run`` side and apply as ONE equi-join on the key
    columns (the run comparison rides along as a post-condition) — the
    join count stays constant no matter how many delete commits pile up
    between compactions. Catalyst broadcasts small delete sets (the
    common case — takedown lists are thousands of keys against billions
    of rows) and AQE falls back to a shuffle join for huge ones. No
    collect of key data, ever."""
    if not deletes:
        return rows
    # shiftright, not division: long/long division in Spark yields
    # DOUBLE, whose 53-bit mantissa loses exactness for run ids past
    # 2^21 and could mis-sequence a delete against a row's writing run.
    # The combined id is non-negative by construction, so an arithmetic
    # right shift is the exact inverse of `run_id * 2^32 + part_id`.
    row_run = F.shiftright(F.col(f"__dr.{part_col}"), 32)
    by_keyset: dict[tuple[str, ...], DataFrame] = {}
    for del_run, keys in deletes:
        tagged = keys.withColumn("__del_run", F.lit(int(del_run)))
        kc = tuple(keys.columns)
        prev = by_keyset.get(kc)
        by_keyset[kc] = tagged if prev is None else prev.unionByName(tagged)
    for key_cols, union in by_keyset.items():
        cond = None
        for c in key_cols:
            eq = F.col(f"__dr.{c}").eqNullSafe(F.col(f"__dk.{c}"))
            cond = eq if cond is None else (cond & eq)
        cond = cond & (F.col("__dk.__del_run") > row_run)
        rows = rows.alias("__dr").join(union.alias("__dk"), cond, "left_anti")
    return rows


def read_store(
    spark: SparkSession,
    path: str,
    schema=None,
    *,
    as_of_run: int | None = None,
    columns: list[str] | None = None,
    where=(),
    runs: tuple[int, ...] | None = None,
) -> DataFrame:
    """THE store read path: committed chunks -> pruned projected scan ->
    equality deletes applied, all snapshot-consistent at ``as_of_run``;
    the rows and ``columns`` / ``where`` contract of :func:`apply_deletes`
    over :func:`pysparkenc.engine.scan_table`. FILE-LOCAL: the
    ``pysparkenc`` reader plans committed runs with pyarrow, and each
    ``mapInArrow`` task decodes its chunk files, prunes page groups by
    ``where`` and drops deleted rows sequenced by run — no exchange, no
    join, no Spark metadata job. Page groups are pruned by the same
    evaluator as ``scan_table`` (:func:`pysparkenc.engine.where_pushed`),
    ``("or", …)`` entries included.

    ``runs``: read only those runs' live rows (every visible delete
    still applies to them); the schema then comes from their chunks
    alone. Unselected runs' files are never opened — the scan shape
    selective compaction needs."""
    if schema is None:
        schema = _store_schema(path, as_of_run, runs)
    where, sub = plan_scan(schema, columns, where)
    dec, restore = arrow_safe_schema(sub)
    # the reader runs without Spark's data source planner: its planning
    # workers outlive the read (a few hundred MB of resident memory)
    # and Spark reuses a planned reader across queries on one DataFrame
    reader = datasource.ChunkStoreReader(
        path, dec, {} if as_of_run is None else {"as_of_run": as_of_run}
    )
    reader.pushed = where_pushed(where)
    if runs is not None:
        reader.live = {r: ps for r, ps in reader.live.items() if r in runs}
    parts = reader.partitions()

    def read(batches):
        for b in batches:
            for i in b.column(0).to_pylist():
                yield from reader.read(parts[i])

    out = spark.range(0, len(parts), 1, len(parts)).mapInArrow(read, dec)
    for cond in row_filters(dec, where):
        out = out.where(cond)
    out = restore_intervals(out, restore)
    return out.select(*columns) if columns is not None else out


def _store_schema(
    path: str, as_of_run: int | None = None,
    runs: tuple[int, ...] | None = None,
) -> StructType:
    """THE schema rule of every read, ``read_store`` and the
    ``pysparkenc`` data source alike, for the store's live runs at
    ``as_of_run`` (only ``runs`` when given):

    - the run schema they all recorded (``schemas/run-<id>.json``), when
      every one recorded the same: it also carries the element and value
      nullability of arrays and maps, which chunk metadata does not;
    - otherwise their union, recovered from chunk metadata on the
      driver (:func:`pysparkenc.datasource._recover_store_schema`);
    - with no live data run, the newest recorded run schema at or before
      ``as_of_run`` — an empty write or overwrite records one, so it
      reads back empty under its schema — or an empty schema."""
    live, _ = datasource._lineage_plan(path, as_of_run)
    if runs is not None:
        live = {r: ps for r, ps in live.items() if r in runs}
    recorded = run_schemas(path)
    if live:
        mine = [recorded.get(r) for r in live]
        if None not in mine and all(s == mine[0] for s in mine):
            return mine[0]
        return datasource._recover_store_schema(path, live)
    older = [r for r in recorded if as_of_run is None or r <= as_of_run]
    return recorded[max(older)] if older else StructType([])


# ---------------------------------------------------------------------------
# delete-aware metadata queries (the store-level siblings of
# engine.count_rows / distinct_values / aggregate_chunks)
# ---------------------------------------------------------------------------

def _delete_key_cols(path: str, as_of_run: int | None) -> list[str]:
    """Key columns of the delete runs visible at ``as_of_run`` (empty
    when none is) — read from the lineage records and key-file footers
    with pyarrow, no Spark job."""
    _, dels = datasource._lineage_plan(path, as_of_run)
    return sorted({c for _, _, kcols in datasource._delete_sets(path, dels)
                   for c in kcols})


def store_count_rows(
    spark: SparkSession,
    path: str,
    *,
    visible: bool = True,
    as_of_run: int | None = None,
) -> int:
    """``COUNT(*)`` over a lineage store. ``visible=True`` (the default)
    counts the VISIBLE table — committed rows minus equality-deleted
    ones — so a takedown is reflected immediately. Fast path: when no
    delete run is visible (detectable from lineage for free), this is
    the engine's metadata-only count — one footer aggregation, zero
    payload decode. With visible deletes, ONLY the delete key columns
    decode (a narrow projected :func:`read_store`), never the full
    table. ``visible=False`` is the engine's physical-store semantics
    (pre-delete), stated explicitly instead of being the silent
    default."""
    key_cols = _delete_key_cols(path, as_of_run) if visible else []
    if not key_cols:
        return count_rows(read_committed_chunks(spark, path,
                                                as_of_run=as_of_run))
    return read_store(
        spark, path, columns=key_cols, as_of_run=as_of_run
    ).count()


def store_distinct_values(
    spark: SparkSession,
    path: str,
    col: str,
    *,
    visible: bool = True,
    as_of_run: int | None = None,
) -> DataFrame:
    """Exact ``SELECT DISTINCT col`` over a lineage store, delete-aware
    by default: a value whose every row was retracted by a committed
    equality delete no longer appears. Fast path (no visible delete
    runs): the engine's dictionary-page answer — footer metadata + tiny
    dict payloads, code streams untouched. With visible deletes the
    dict pages can't know which rows a delete drops, so
    :func:`read_store` decodes ``col`` alone (the reader decodes the
    delete keys it needs itself) and the result distincts."""
    schema = _store_schema(path, as_of_run)
    require_flat_scalar(schema, col)
    if not (visible and _delete_key_cols(path, as_of_run)):
        return distinct_values(
            read_committed_chunks(spark, path, as_of_run=as_of_run), col,
            schema)
    return read_store(
        spark, path, schema, as_of_run=as_of_run, columns=[col]
    ).distinct()


def store_aggregate(
    spark: SparkSession,
    path: str,
    cols: list[str],
    *,
    visible: bool = True,
    as_of_run: int | None = None,
) -> DataFrame:
    """COUNT / SUM / MIN / MAX per column over a lineage store (the
    store-level :func:`engine.aggregate_chunks`), delete-aware by
    default. Fast path (no visible delete runs): metadata-only — footer
    stats fold, no payload decode. With visible deletes the aggregate
    must see which rows survive, so the named columns decode in a
    projected :func:`read_store` and fold with the same output
    contract: ``n_values`` counts non-null survivors, ``sum_val`` is
    exact for integer columns (decimal(38,0) fold, null past int64) and
    null otherwise, ``min_val``/``max_val`` are float64.

    The delete-aware fallback supports plain numeric columns
    (int/float); converted-domain types (dates, timestamps, decimals,
    intervals) raise there — their footer stats live in a physical
    domain a decoded-value fold can't reproduce exactly. Use
    ``read_store(...)`` + SQL for those, or compact to materialize the
    deletes and return to the fast path."""
    if not (visible and _delete_key_cols(path, as_of_run)):
        return aggregate_chunks(
            read_committed_chunks(spark, path, as_of_run=as_of_run), cols
        )
    rows = read_store(spark, path, columns=cols, as_of_run=as_of_run)
    int_logicals = {"int32", "int64"}
    plain_numeric = int_logicals | {"float32", "float64"}
    for c in cols:
        lg = _logical_of(rows.schema[c])
        if lg not in plain_numeric:
            raise TypeError(
                f"store_aggregate(visible=True) with pending deletes "
                f"supports plain numeric columns only; {c} is {lg}. "
                "Compact the store (materializes deletes) or aggregate "
                "through read_store()."
            )
    lo = F.lit(-(2 ** 63)).cast("decimal(38,0)")
    hi = F.lit(2 ** 63 - 1).cast("decimal(38,0)")
    parts = []
    for c in cols:
        is_int = _logical_of(rows.schema[c]) in int_logicals
        s = F.sum(F.col(c).cast("decimal(38,0)"))
        parts.append(
            rows.agg(
                F.count(F.col(c)).cast("long").alias("n_values"),
                (
                    F.when((s >= lo) & (s <= hi), s).cast("long")
                    if is_int else F.lit(None).cast("long")
                ).alias("sum_val"),
                F.min(F.col(c)).cast("double").alias("min_val"),
                F.max(F.col(c)).cast("double").alias("max_val"),
            ).select(F.lit(c).alias("col"), "*")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def compact_store(
    spark: SparkSession,
    path: str,
    *,
    schema=None,
    partition_by: tuple[str, ...] | None = None,
    num_partitions: int | None = None,
    codec: str | dict[str, str] | None = None,
    compression: str | None = None,
    target_chunk_bytes: int | None = 1 << 20,
    sort_by: tuple[str, ...] | None = None,
    as_of_run: int | None = None,
    runs: tuple[int, ...] | None = None,
    max_run_bytes: int | None = None,
) -> dict:
    """Rewrite the store's visible data as ONE fresh run with big,
    well-clustered pages — the Iceberg ``rewrite_data_files`` analogue
    for this layout. Streaming appends leave a long tail of small runs
    (tiny pages, one chunk-file dir per micro-batch; the codec selector
    adapts per page but can't merge across them); compaction decodes the
    visible table through :func:`read_store` (file-local: one
    ``mapInArrow`` task per chunk-file group, deletes dropped in the
    task, no decode shuffle and no join) and re-encodes it with
    ``target_chunk_bytes`` page sizing.

    SELECTIVE compaction (the 100 TB contract — routine maintenance
    must not rewrite the table): ``runs=(...)`` rewrites only those
    committed runs; ``max_run_bytes=N`` selects every live run whose
    committed encoded bytes are below N (the small-streaming-runs
    folder). Bytes rewritten are proportional to the selected subset —
    untouched runs' chunk files aren't read, decoded, or rewritten.
    Visible equality deletes are materialized INTO the rewritten rows
    (sequenced per row, as any read is); a delete run is superseded
    only when no remaining (unselected) data run still predates it —
    otherwise its keys stay live for the runs that still need them.
    Default (no selection): full compaction, as before.

    Commit is ATOMIC against every failure point: the new run's chunk
    rows land first (invisible without lineage), then one single-file
    lineage append publishes BOTH the new run's done rows AND a
    'superseded' marker per old (run_id, part_id) — so readers switch
    from the old layout to the new one in a single rename; a crash
    before it leaves only invisible orphan chunks, and a quarantined
    (collided) commit's markers supersede nothing. Markers carry the
    compaction run id in ``batch_id``, which scopes them for time
    travel: ``as_of_run`` BEFORE the compaction still reads the original
    layout byte-for-byte; AFTER it, only the compacted run.

    Old chunk files stay on disk for time travel until
    :func:`expire_runs` removes them. Don't compact while a resumable
    batch encode of the same store is mid-flight: its remaining
    partitions would commit into a layout the compaction didn't see.
    """
    t0 = time.time()
    if runs is not None and max_run_bytes is not None:
        raise ValueError("pass runs= or max_run_bytes=, not both")
    if as_of_run is not None:
        # Compaction REWRITES the current table — it must see every
        # commit. Rewriting an older snapshot would resurrect rows a
        # later delete retracted (the rewritten rows get a run_id newer
        # than the delete, so its sequencing no longer applies) and fork
        # history. as_of_run is accepted only as an idempotence fence:
        # it may name the latest commit, nothing older. Max COMMITTED
        # run, not _next_run_id - 1: uncommitted orphan dirs (crashed
        # writers) occupy higher ids on disk without being commits.
        latest = datasource._lineage_max_run(path)
        if int(as_of_run) < latest:
            raise ValueError(
                f"compact_store(as_of_run={as_of_run}) is older than the "
                f"latest commit (run {latest}): compacting a non-latest "
                "snapshot would rewrite history (and resurrect rows "
                "deleted after it). Time travel is for reads."
            )
    live, dels = datasource._lineage_plan(path, as_of_run)
    if not live:
        return {"run_id": -1, "partitions": 0, "superseded": 0,
                "selected_runs": [], "bytes_selected": 0,
                "wall_sec": time.time() - t0}
    # a run's live bytes: the enc_bytes of its live parts' done rows
    # (each the sum over the part's chunk rows, _chunk_lineage_rows)
    pairs = {(r, p) for r, ps in live.items() for p in ps}
    lin = datasource._lineage_table(
        path, ("run_id", "part_id", "enc_bytes", "status"))
    run_bytes = dict.fromkeys(live, 0)
    for r, p, b, st in zip(*(c.to_pylist() for c in lin.columns)):
        if st == "done" and (r, p) in pairs:
            run_bytes[r] += b
    if runs is not None:
        selected = {int(r) for r in runs}
        unknown = selected - set(live)
        if unknown:
            raise ValueError(
                f"runs {sorted(unknown)} have no live committed "
                f"partitions (live runs: {sorted(live)})"
            )
    elif max_run_bytes is not None:
        selected = {r for r, b in run_bytes.items() if b < int(max_run_bytes)}
        if not selected:
            return {"run_id": -1, "partitions": 0, "superseded": 0,
                    "selected_runs": [], "bytes_selected": 0,
                    "wall_sec": time.time() - t0}
    else:
        selected = set(live)
    remaining = set(live) - selected
    # a delete run d applies to rows written by runs < d: it can retire
    # only when every remaining (unselected) data run is >= d
    dead_deletes = [d for d, _ in dels
                    if not remaining or min(remaining) >= d]
    # the file-local reader drops visible deletes, sequenced by run, so
    # the compacted run holds the post-delete rows; unselected runs'
    # files are never opened
    df = read_store(spark, path, schema, as_of_run=as_of_run,
                    runs=tuple(sorted(selected)))
    planned, pages = _plan_encode(
        df, partition_by=partition_by, num_partitions=num_partitions,
        codec=codec, compression=compression,
        rows_per_chunk=None if target_chunk_bytes else 4096,
        target_chunk_bytes=target_chunk_bytes, sort_by=sort_by,
    )
    # ONE lineage file = the atomic publish-and-supersede commit; a
    # delete some REMAINING run still predates stays live: its keys keep
    # applying to the runs this compaction didn't rewrite
    run_id, rows = datasource._commit_run(
        path, datasource._stage_df(planned, path, pages), t0=t0,
        retry="re-run the compaction, which will commit under a fresh run "
        "id.",
        schema=df.schema,
        supersede=({r: live[r] for r in selected}, dead_deletes),
    )
    rows = [r for r in rows if r[9] == "done"]
    return {
        "run_id": run_id,
        "partitions": len(rows),
        "superseded": sum(len(live[r]) for r in selected),
        "selected_runs": sorted(selected),
        "bytes_selected": sum(run_bytes[r] for r in selected),
        "superseded_delete_runs": sorted(dead_deletes),
        "wall_sec": time.time() - t0,
    }


def expire_runs(spark: SparkSession, path: str) -> dict:
    """Physically delete chunk directories of runs whose EVERY committed
    partition is superseded (Iceberg ``expire_snapshots``), and the key
    files of materialized delete runs: time travel to those runs stops
    working; current reads are untouched because the commit plan never
    selects them. Planned on the driver (no Spark job). Local-filesystem
    stores only; object stores would route the deletes through their
    own client."""
    import shutil

    live, dels = datasource._lineage_plan(path)
    lin = datasource._lineage_table(path, ("run_id", "status"))

    def committed(status: str) -> set[int]:
        return set(lin.filter(pc.equal(lin.column("status"), status))
                   .column("run_id").to_pylist())

    out = {}
    for key, kind, dead in (
        ("expired_runs", datasource._CHUNK_DIR,
         committed("done") - set(live)),
        ("expired_delete_runs", datasource._DELETES_DIR,
         committed("delete") - {r for r, _ in dels}),
    ):
        out[key] = sorted(dead)
        for r in out[key]:
            shutil.rmtree(datasource._run_dir(path, kind, r),
                          ignore_errors=True)
    return out


def vacuum_store(
    spark: SparkSession, path: str, *, grace_sec: float = 86400.0
) -> dict:
    """Reclaim ORPHANED files (Iceberg ``remove_orphan_files``): run
    directories — chunk files or delete-key files — with no lineage row
    at all, the debris of a writer killed between its rename into the
    run dir and its lineage append. The commit protocol already makes
    them invisible to every reader (and :func:`_next_run_id` never
    reuses their ids), so this is purely a storage reclaim; query
    results are identical before and after, which the test pins.

    ``grace_sec`` protects an IN-FLIGHT writer that simply hasn't
    committed yet: a directory whose newest file is younger than the
    grace window is kept (Iceberg's ``older_than`` contract; default one
    day). Stale ``_staging/`` files of killed write tasks, and the Spark
    ``_temporary`` job dirs stores written before pyarrow staging may
    hold, go under the same age rule. Complements :func:`expire_runs`,
    which reclaims SUPERSEDED *committed* runs — together they bound a
    maintained store's disk footprint to its live data plus the
    time-travel window.

    Local-filesystem stores only; object stores would route listing +
    deletes through their own client."""
    import os
    import shutil

    now = time.time()
    committed = set(
        datasource._lineage_table(path, ("run_id",)).column(0).to_pylist())

    def newest_mtime(d: str) -> float:
        newest = os.path.getmtime(d)
        for root, _dirs, files in os.walk(d):
            for f in files:
                try:
                    newest = max(newest, os.path.getmtime(
                        os.path.join(root, f)))
                except OSError:  # pragma: no cover - racing writer
                    pass
        return newest

    def dir_bytes(d: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(d):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:  # pragma: no cover - racing writer
                    pass
        return total

    def stale(d: str) -> bool:
        return now - newest_mtime(d) >= grace_sec

    def reclaim(d: str) -> None:
        nonlocal reclaimed
        reclaimed += dir_bytes(d)
        shutil.rmtree(d, ignore_errors=True)

    vacuumed: dict[str, list[int]] = {}
    removed_tmp = 0
    reclaimed = 0
    for kind in (datasource._CHUNK_DIR, datasource._DELETES_DIR):
        vacuumed[kind] = []
        for rid, d in sorted(datasource._run_dirs(path, kind).items()):
            if rid not in committed and stale(d):
                reclaim(d)
                vacuumed[kind].append(rid)
        # stale job-attempt debris of killed Spark file-writer jobs
        # (stores written before every write staged with pyarrow)
        tmp = os.path.join(path, kind, "_temporary")
        if os.path.isdir(tmp) and stale(tmp):
            reclaim(tmp)
            removed_tmp += 1
    # stale _staging files: every store write stages task output there
    # and publishes by rename at commit — a killed task/job leaves its
    # stage files behind. Same age rule; never referenced by any commit
    # record.
    staged = 0
    staging = os.path.join(path, "_staging")
    if os.path.isdir(staging):
        for f in os.listdir(staging):
            p = os.path.join(staging, f)
            try:
                if (os.path.isfile(p)
                        and now - os.path.getmtime(p) >= grace_sec):
                    reclaimed += os.path.getsize(p)
                    os.remove(p)
                    staged += 1
            except OSError:  # pragma: no cover - racing writer
                pass
    return {
        "vacuumed_runs": vacuumed[datasource._CHUNK_DIR],
        "vacuumed_delete_runs": vacuumed[datasource._DELETES_DIR],
        "removed_tmp_dirs": removed_tmp,
        "removed_staging_files": staged,
        "bytes_reclaimed": reclaimed,
    }
