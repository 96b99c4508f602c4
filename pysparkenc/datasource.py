"""``pysparkenc`` as a first-class Spark data source (Python Data Source
API, Spark 4):

    spark.dataSource.register(ChunkStoreDataSource)
    df.write.format("pysparkenc").mode("overwrite").save(path)
    spark.read.format("pysparkenc").load(path).where("id > 100")

Every store is a lineage store, the layout
:func:`pysparkenc.lineage.encode_with_lineage` writes, and every
direction speaks its commit protocol:

- reads plan from committed runs and apply delete sets
  (:func:`_lineage_plan`); the ``as_of_run`` option time travels;
- ``mode("append")`` commits one fresh run through the one store writer
  (:func:`_stage_task`, :func:`_commit_run`) every store write runs;
- ``mode("overwrite")`` commits the new run together with supersede
  markers for every live part and delete run, the full-compaction
  commit shape: a snapshot, so time travel still reads the old table;
- ``writeStream`` commits one run per micro-batch, tagged with its
  ``batchId``; a replayed batch commits nothing;
- ``readStream`` tails committed runs (:class:`ChunkStoreStreamReader`).

Store layout (plain files, any fs path the driver and executors share)::

    <path>/chunks/run_id=<r>/*.parquet    chunk rows (engine.CHUNK_SCHEMA)
    <path>/deletes/run_id=<r>/*.parquet   equality-delete key tuples
    <path>/lineage/*.parquet              commit records
    <path>/schemas/run-<r>.json           each run's logical schema

A directory in the retired flat layout is refused (:func:`_refuse_flat`).

Scale design:

- Read tasks split committed ``(run, file)`` pairs by Spark's
  file-split rule (:func:`_bin_pack`): one task per file of a one-wave
  run, so a read fills as many slots as the write did (at most the
  host's CPUs), while many tiny files pack into few tasks. The driver holds
  O(files) metadata, never chunk rows, and each task streams its own
  files. Write tasks stage one uniquely named file each
  (one parquet row group) under ``_staging/``; only the driver's commit
  renames them into the run dir, so a failed job never touches the
  committed store.
- **Catalyst filter pushdown** (``pushFilters``), an explicit opt-in:
  with ``spark.sql.python.filterPushdown.enabled`` set to ``true`` before
  :func:`register` (it is off by default, and ``register`` never sets
  it), equality / IN / range / IsNotNull / StringStartsWith predicates
  on top-level scalar columns prune whole page groups per file —
  dictionary-page membership probes for ``dict_rle`` chunks, NaN-safe
  min/max and truncation-safe smin/smax otherwise, decided by
  :func:`engine._group_passes` inside :func:`engine._walk_groups` (the
  one page-group walk, which ``scan_table`` and ``read_store`` run
  too). Every filter is also returned to Spark for re-evaluation, so
  pruning is a pure
  optimization and can never drop a row it shouldn't: a group survives
  unless the stats *prove* it empty.
  Caveat, and the reason pushdown is opt-in: Spark 4.1 reuses the
  reader planned with a DataFrame's last pushed filters for later
  queries on it that push none, so with pushdown on, a ``load()``
  DataFrame queried with a filter and then without one reads too few
  rows. Re-``load()`` before each differently filtered query when it is
  on. :func:`pysparkenc.lineage.read_store` runs this reader without
  Spark's data source planner, prunes its ``where`` itself, and is not
  affected either way.
- Decode is :func:`engine._walk_groups` once per file — the walk
  ``decode_table`` runs under ``applyInArrow`` — and yields each page
  group's Arrow record batches (zero row-at-a-time Python).

The reference is a library around parquet files, not a query engine
(file-reader.go:99-107); this module is the Spark-native equivalent of
"being a file format": schema inference, source, sink, and predicate
pushdown through the encoded representation.
"""

from __future__ import annotations

import datetime
import decimal
import os
import re
import time
import uuid
from collections.abc import Iterable, Iterator, Sequence
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from . import engine

_CHUNK_DIR = "chunks"
_LINEAGE_DIR = "lineage"
_DELETES_DIR = "deletes"
_STAGING_DIR = "_staging"


def _chunk_dir(path: str) -> str:
    return os.path.join(path, _CHUNK_DIR)


def _lineage_dir(path: str) -> str:
    return os.path.join(path, _LINEAGE_DIR)


def _refuse_flat(path: str) -> None:
    """Raise on a directory in the retired flat layout (a schema sidecar
    and no lineage records): its file listing is not a commit history,
    so no lineage reader or writer may touch it."""
    if (os.path.exists(os.path.join(path, "_pysparkenc_schema.json"))
            and not os.path.isdir(_lineage_dir(path))):
        raise ValueError(
            f"{path} is a flat-layout pysparkenc store "
            "(_pysparkenc_schema.json, no lineage/): the flat layout is no "
            "longer supported; re-encode its data into a new store"
        )


def _list_parquet(d: str) -> list[str]:
    if not os.path.isdir(d):
        return []
    return sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )


def _parquet_rows(d: str) -> int:
    """Rows in the parquet files of ``d``, summed from their footers."""
    return sum(pq.read_metadata(f).num_rows for f in _list_parquet(d))


def _run_dir(path: str, kind: str, run_id: int) -> str:
    """``<path>/<kind>/run_id=<r>``: the chunk files (``kind``
    :data:`_CHUNK_DIR`) or delete keys (:data:`_DELETES_DIR`) of run
    ``r`` of a lineage store."""
    return os.path.join(path, kind, f"run_id={int(run_id)}")


def _run_dirs(path: str, kind: str) -> dict[int, str]:
    """Every ``run_id=<r>`` directory under ``<path>/<kind>``, committed
    or not, keyed by run id."""
    base = os.path.join(path, kind)
    if not os.path.isdir(base):
        return {}
    out = {}
    for name in os.listdir(base):
        m = re.fullmatch(r"run_id=(\d+)", name)
        if m and os.path.isdir(os.path.join(base, name)):
            out[int(m.group(1))] = os.path.join(base, name)
    return out


_LINEAGE_PA_SCHEMA = pa.schema(
    [
        ("run_id", pa.int64()),
        ("batch_id", pa.int64()),
        ("part_id", pa.int64()),
        ("n_rows", pa.int64()),
        ("n_values", pa.int64()),
        ("plain_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("n_chunks", pa.int64()),
        ("wall_sec", pa.float64()),
        ("status", pa.string()),
        ("partition_by", pa.string()),
        ("num_partitions", pa.int64()),
    ]
)


def _lineage_table(path: str, cols: Sequence[str]) -> pa.Table:
    """Every lineage record of ``path`` projected to ``cols``, as ONE
    pyarrow table under the nullable :data:`_LINEAGE_PA_SCHEMA` types
    whatever nullability each file's writer declared. A file written
    before a column existed reads it as nulls, and a missing or null
    ``batch_id`` reads as -1 (batch mode). The only reader of the
    lineage files: :func:`pysparkenc.lineage.read_lineage` is this table
    as a DataFrame."""
    target = pa.schema([_LINEAGE_PA_SCHEMA.field(c) for c in cols])
    tabs = []
    for f in _list_parquet(_lineage_dir(path)):
        with pq.ParquetFile(f) as pf:
            have = set(pf.schema_arrow.names)
            t = pf.read(columns=[c for c in cols if c in have])
        tabs.append(pa.table(
            [t.column(c) if c in have else pa.nulls(t.num_rows)
             for c in cols],
            names=list(cols),
        ).cast(target))
    tab = pa.concat_tables(tabs) if tabs else target.empty_table()
    if "batch_id" in cols:
        i = tab.schema.get_field_index("batch_id")
        tab = tab.set_column(
            i, target.field(i), pc.fill_null(tab.column(i), -1)
        )
    return tab


def _quarantined(lin: pa.Table) -> pa.Array:
    """Run ids the concurrent-commit detector quarantined in the lineage
    table ``lin`` (at least ``run_id``, ``batch_id`` and ``status``):
    runs with a self-supersede marker, ``batch_id == run_id``
    (:func:`_commit_run`). A quarantined run committed nothing
    readers see — neither its rows nor its markers on other runs."""
    sup = lin.filter(pc.equal(lin.column("status"), "superseded"))
    return sup.filter(pc.equal(sup.column("batch_id"), sup.column("run_id"))
                      ).column("run_id").combine_chunks().unique()


def _lineage_plan(
    path: str, as_of_run: int | None = None
) -> tuple[dict[int, tuple[int, ...]], list[tuple[int, str]]]:
    """THE commit-visibility rule of a lineage store, decided on the
    driver with pyarrow (no SparkSession). Every reader and maintenance
    call plans from it: ``read_store``, the data source,
    ``read_committed_chunks``, ``read_delete_sets``, ``compact_store``
    and ``expire_runs``.

    - A ``(run, part)`` is live when it has a ``done`` row and no
      ``superseded`` marker. Orphan chunks of a crashed encode are
      invisible, and a compacted-but-unexpired store contributes ONLY
      the compacted layout, never both.
    - The markers a :func:`_quarantined` run committed on OTHER runs
      (a compaction or overwrite whose commit collided) supersede
      nothing: the runs they name stay live.
    - A delete run is live when it has a ``delete`` row and no
      whole-run marker (``superseded`` with ``part_id`` -1).
    - ``as_of_run`` keeps done and delete rows of runs ``<= as_of_run``
      and markers whose compacting run (their ``batch_id``) is
      ``<= as_of_run``, so time travel to before a compaction reads the
      original layout.

    Returns ``(live, deletes)``: ``live`` maps each run id to its live
    part ids, and ``deletes`` lists the live delete runs as
    ``(del_run_id, key_dir)``. The scan is one metadata read of the
    (tiny, one-row-per-partition) lineage records."""
    tab = _lineage_table(path, ("run_id", "batch_id", "part_id", "status"))
    if not tab.num_rows:
        return {}, []
    run = tab.column("run_id").to_numpy()
    part = tab.column("part_id").to_numpy()
    batch = tab.column("batch_id").to_numpy()
    status = np.asarray(tab.column("status").to_pylist())
    done = status == "done"
    sup = status == "superseded"
    dels = status == "delete"
    if as_of_run is not None:
        done &= run <= int(as_of_run)
        sup &= batch <= int(as_of_run)
        dels &= run <= int(as_of_run)
    quarantined = np.isin(batch, _quarantined(tab.filter(pa.array(sup)))
                          .to_numpy())
    sup &= ~quarantined | (batch == run)
    done_pairs = set(zip(run[done].tolist(), part[done].tolist()))
    sup_pairs = set(zip(run[sup].tolist(), part[sup].tolist()))
    live_pairs = done_pairs - sup_pairs
    live: dict[int, list[int]] = {}
    for r, p in live_pairs:
        live.setdefault(int(r), []).append(int(p))
    # whole-run supersede markers (part_id = -1) retire materialized
    # delete runs
    sup_del_runs = {int(r) for r, p in sup_pairs if p == -1}
    del_runs = sorted({int(r) for r in run[dels].tolist()} - sup_del_runs)
    deletes = [(r, _run_dir(path, _DELETES_DIR, r)) for r in del_runs]
    return {r: tuple(sorted(ps)) for r, ps in live.items()}, deletes


def _done_rows(path: str, cols: Sequence[str] = ()) -> pa.Table:
    """The ``done`` lineage rows of ``path`` (``run_id``, ``batch_id``
    and ``cols``), minus those of runs the concurrent-commit detector
    quarantined (self-superseded, ``batch_id == run_id``): a quarantined
    run committed nothing readers see, so its rows neither replay a
    batch nor resume a part. Parts a compaction superseded stay done."""
    lin = _lineage_table(path, ("run_id", "batch_id", "status", *cols))
    return lin.filter(pc.and_(
        pc.equal(lin.column("status"), "done"),
        pc.invert(pc.is_in(lin.column("run_id"), _quarantined(lin)))))


def _batch_committed(done: pa.Table, batch_id: int) -> int:
    """How many of the :func:`_done_rows` ``done`` carry ``batch_id``.
    Non-zero means that micro-batch committed, and its replay must
    commit nothing: the replay rule of both
    ``encode_with_lineage(batch_id=)`` and the stream sink. Sound because
    a commit record is one atomic file — any visible done row of a batch
    implies all of them are."""
    n = pc.sum(pc.equal(done.column("batch_id"), int(batch_id)))
    return int(n.as_py() or 0)


def _run_operations(lin: pa.Table, aggs: Sequence[tuple] = ()) -> pa.Table:
    """One row per run with ``done`` rows in the lineage table ``lin``
    (at least ``run_id``, ``batch_id``, ``part_id`` and ``status``):
    ``run_id``, ``batch_id``, ``part_id_count``, the ``aggs``
    aggregations (pyarrow ``group_by`` specs) and its ``operation``:

    - ``quarantined``: self-superseded by the concurrent-commit detector
      (its markers carry ``batch_id == run_id``);
    - ``compact``: its id is the ``batch_id`` of OTHER runs' supersede
      markers — a compaction, or an overwrite write, which commits the
      same shape;
    - ``stream-append``: a micro-batch, with a ``batch_id``;
    - ``append``: any other batch write.

    The one classification ``snapshots`` and the stream source share."""
    status = lin.column("status")
    sup = lin.filter(pc.equal(status, "superseded"))
    # without the split a quarantined append would masquerade as a
    # successful compaction
    quarantined = _quarantined(lin)
    compacting = sup.filter(pc.not_equal(
        sup.column("batch_id"), sup.column("run_id"))).column(
        "batch_id").combine_chunks()
    done = lin.filter(pc.equal(status, "done")).group_by(
        ["run_id", "batch_id"]).aggregate(
        [("part_id", "count", pc.CountOptions(mode="all")), *aggs])
    run = done.column("run_id")
    return done.append_column("operation", pc.if_else(
        pc.is_in(run, quarantined), "quarantined", pc.if_else(
            pc.is_in(run, compacting), "compact", pc.if_else(
                pc.greater_equal(done.column("batch_id"), 0),
                "stream-append", "append"))))


def _supersede_markers(
    run_id: int, parts: dict[int, tuple[int, ...]], del_runs: Sequence[int],
    wall_sec: float,
) -> list[tuple]:
    """The supersede markers run ``run_id`` commits with its done rows:
    one per ``(run, part)`` of ``parts`` and one whole-run marker
    (``part_id`` -1) per delete run of ``del_runs``. Each carries
    ``run_id`` in ``batch_id``, which scopes it for time travel
    (:func:`_lineage_plan`): ``as_of_run`` before the commit still reads
    what it superseded. ``compact_store`` and an overwrite write commit
    this shape; the concurrent-commit quarantine in
    :func:`_commit_run` is the same markers for the run's own
    parts."""
    return [
        (r, run_id, p, 0, 0, 0, 0, 0, float(wall_sec), "superseded")
        for r in sorted(parts) for p in parts[r]
    ] + [
        (d, run_id, -1, 0, 0, 0, 0, 0, float(wall_sec), "superseded")
        for d in del_runs
    ]


def _delete_sets(
    path: str, dels: list[tuple[int, str]]
) -> list[tuple[int, str, tuple[str, ...]]]:
    """``(del_run_id, key_dir, key_columns)`` for each visible delete run
    of :func:`_lineage_plan`; the key columns come from a key file's
    footer. A committed delete run without key files is a corrupt store
    and raises."""
    out = []
    for run_id, key_dir in dels:
        kf = _list_parquet(key_dir)
        if not kf:  # unreadable committed delete: fail loudly
            raise ValueError(
                f"delete run {run_id} of lineage store {path} has "
                "no key files — store is corrupt (expire_runs "
                "removes key dirs only after supersede)"
            )
        out.append((run_id, key_dir, tuple(pq.read_schema(kf[0]).names)))
    return out


def _recover_store_schema(
    path: str, live: dict[int, tuple[int, ...]]
) -> StructType:
    """Rebuild the logical Spark schema of a lineage store from chunk
    METADATA (the ``col``/``col_idx``/``logical``/``null_count`` columns
    of committed chunk files — payload bytes are never read): the
    driver-side pyarrow twin of :func:`engine.output_schema_of_chunks`,
    sharing its assembly via :func:`engine.assemble_schema_from_meta`.
    Reads every committed file's metadata columns so schema evolution
    (a later run adding a column) is honored."""
    if not live:
        raise ValueError(
            f"lineage store at {path} has no committed data runs — "
            "nothing to infer a schema from"
        )
    agg: dict[str, dict] = {}
    groups: set[tuple[int, int, int]] = set()
    for r, parts in sorted(live.items()):
        pset = set(parts)
        for f in _list_parquet(_run_dir(path, _CHUNK_DIR, r)):
            t = pq.read_table(
                f, columns=["col", "col_idx", "logical", "null_count",
                            "part_id", "chunk_id"]
            )
            pid = t.column("part_id").to_numpy()
            keep = np.isin(pid, np.asarray(sorted(pset), np.int64))
            if not keep.any():
                continue
            t = t.filter(pa.array(keep))
            col = t.column("col").to_pylist()
            idx = t.column("col_idx").to_numpy()
            logical = t.column("logical").to_pylist()
            nc = t.column("null_count").to_numpy(zero_copy_only=False)
            pid = t.column("part_id").to_numpy()
            cid = t.column("chunk_id").to_numpy()
            groups.update(
                (r, int(p), int(g)) for p, g in zip(pid, cid)
            )
            for c, i, lg, n in zip(col, idx, logical, nc):
                base = c[:-4] if c.endswith("#def") else None
                if "#" in c and not (base is not None and "#" not in base):
                    continue  # nested reassembly side chunks
                n = 0 if n is None or (isinstance(n, float) and np.isnan(n)) \
                    else int(n)
                cur = agg.get(c)
                if cur is None:
                    agg[c] = {"col": c, "col_idx": int(i), "logical": lg,
                              "nc": n, "ng": 1}
                else:
                    cur["nc"] = max(cur["nc"], n)
                    # one chunk row per (part, chunk) group per column:
                    # the occurrence count = groups carrying the column
                    # (schema evolution's nullability signal)
                    cur["ng"] += 1
    meta = sorted(agg.values(), key=lambda m: m["col_idx"])
    return engine.assemble_schema_from_meta(meta,
                                            total_groups=len(groups))


def _check_schema_evolution(path: str, schema: StructType) -> None:
    """Appending a run to a lineage store may ADD or OMIT columns (a
    page group without a column decodes it as typed nulls), but a
    shared column must keep its logical type — a silent type change
    would make the union schema ambiguous and decode one run's chunks
    under the wrong kernel. Driver-side and metadata-only; a store with
    no committed data has nothing to check against. A read failure (a
    corrupt footer) propagates: skipping the guard then would let a
    type-changing append commit."""
    live, _ = _lineage_plan(path)
    if not live:
        return
    store = {f.name: engine._logical_of(f)
             for f in _recover_store_schema(path, live)}
    for f in schema.fields:
        old = store.get(f.name)
        new = engine._logical_of(f)
        if old is not None and old != new:
            raise TypeError(
                f"schema evolution cannot change a column's type: "
                f"{f.name} is {old} in the store but {new} in this "
                "append. Add a NEW column (old groups decode it as "
                "nulls) or compact under an explicit cast first."
            )


def _delete_drop_mask(
    out: pa.Table, keys: pa.Table
) -> pa.BooleanArray | None:
    """Boolean mask over ``out``'s rows: True where the row's key tuple
    appears in ``keys`` (null-safe: a NULL key retracts NULL-keyed
    rows — the same eqNullSafe semantics as
    :func:`pysparkenc.lineage.apply_deletes`). Returns None when no row
    matches. Single-column keys match exactly via ``is_in``;
    multi-column keys compare a LENGTH-PREFIXED byte composite
    (``<len>:<bytes>`` per field, ``N`` for NULL, concatenated) — each
    field is self-delimiting, so the encoding is injective for ANY
    value content: a key value containing a would-be separator byte
    cannot alias across column boundaries the way a plain joined
    composite could. Key columns are cast to the row columns' types
    first so numeric string forms agree."""
    kcols = keys.schema.names
    if len(kcols) == 1:
        c = kcols[0]
        col = out.column(c)
        kv = keys.column(c).combine_chunks()
        has_null_key = kv.null_count > 0
        vs = kv.drop_null().unique()
        if col.type != vs.type:
            vs = vs.cast(col.type)
        m = pc.fill_null(pc.is_in(col, value_set=vs), False)
        if has_null_key:
            m = pc.or_(m, pc.is_null(col))
    else:
        out_types = {c: out.column(c).type for c in kcols}

        def _enc_field(v: pa.ChunkedArray, target: pa.DataType) -> pa.ChunkedArray:
            if v.type != target:
                v = pc.cast(v, target)
            if not (pa.types.is_large_binary(v.type)
                    or pa.types.is_binary(v.type)
                    or pa.types.is_large_string(v.type)
                    or pa.types.is_string(v.type)):
                v = pc.cast(v, pa.string())
            v = pc.cast(v, pa.large_binary())
            ln = pc.cast(
                pc.cast(pc.binary_length(v), pa.string()), pa.large_binary()
            )
            colon = pa.scalar(b":", pa.large_binary())
            enc = pc.binary_join_element_wise(ln, v, colon)  # "<len>:<bytes>"
            return pc.fill_null(enc, b"N")  # 'N' never parses as <digit>

        def composite(t: pa.Table) -> pa.Array:
            parts = [_enc_field(t.column(c).combine_chunks(), out_types[c])
                     for c in kcols]
            if len(parts) == 1:
                return parts[0]
            return pc.binary_join_element_wise(
                *parts, pa.scalar(b"", pa.large_binary())
            )

        vs = pc.unique(composite(keys))
        m = pc.fill_null(pc.is_in(composite(out), value_set=vs), False)
    m = m.combine_chunks() if isinstance(m, pa.ChunkedArray) else m
    return m if pc.any(m).as_py() else None


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------

_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH_NTZ = datetime.datetime(1970, 1, 1)
_EPOCH_UTC = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
_MICRO = datetime.timedelta(microseconds=1)


def _physical_value(logical: str, v):
    """A pushed Catalyst literal in the physical domain the column's
    footer stats, dict pages and blooms live in: epoch days for DATE,
    micros for timestamps (NTZ as wall-clock micros) and day-time
    intervals, months for year-month intervals, the unscaled int for
    DECIMAL. None when no exact conversion exists (a value of another
    type, a decimal finer than the column's scale, a wide decimal whose
    chunks are fixed-width bytes): the caller then leaves the filter to
    Spark."""
    if logical == "date_day":
        if isinstance(v, datetime.date) and not isinstance(
            v, datetime.datetime
        ):
            return (v - _EPOCH_DATE).days
        return None
    if logical.startswith("timestamp"):
        if not isinstance(v, datetime.datetime):
            return None
        ntz = logical.startswith("timestamp_ntz")
        if ntz != (v.tzinfo is None):
            return None
        return (v - (_EPOCH_NTZ if ntz else _EPOCH_UTC)) // _MICRO
    if logical.startswith("interval_dt_us"):
        if isinstance(v, datetime.timedelta):
            return v // _MICRO
        return None
    if logical.startswith("interval_ym_mo"):
        if isinstance(v, int) and not isinstance(v, bool):
            return v
        return None
    if logical.startswith("decimal("):
        p, s = engine._decimal_params(logical)
        if p > 18 or isinstance(v, bool) or not isinstance(
            v, (int, decimal.Decimal)
        ):
            return None
        unscaled = decimal.Decimal(v).scaleb(s)
        if unscaled != unscaled.to_integral_value():
            return None
        return int(unscaled)
    return v


def _to_pushed(
    filters: Sequence[Filter], schema: StructType
) -> list[engine._Pushed]:
    """Translate the prunable subset of Catalyst filters. Only top-level
    scalar columns participate (nested predicates stay Spark-side).
    ``Not`` unwraps for ``IsNull`` (-> not-null prune); other negations
    and disjunctions never arrive — the Python Data Source filter API
    (pyspark.sql.datasource) defines no ``Or`` class, so Spark keeps OR
    trees on its side and re-applies them after our scan. Values on
    converted-domain columns (dates, timestamps, decimals, intervals)
    are moved into the physical domain first (:func:`_physical_value`);
    a value that cannot be moved is not pushed."""
    logical = {
        f.name: engine._logical_of(f)
        for f in schema.fields
        if f.dataType.typeName()
        not in ("struct", "array", "map")
    }
    out: list[engine._Pushed] = []
    for f in filters:
        if isinstance(f, Not):
            inner = f.child
            if isinstance(inner, IsNull):
                f = IsNotNull(attribute=inner.attribute)
            else:
                continue  # NOT(eq/in/...) can't prove a group empty
        attr = getattr(f, "attribute", None)
        if not attr or len(attr) != 1 or attr[0] not in logical:
            continue
        c = attr[0]
        if isinstance(f, (EqualTo, EqualNullSafe, In, GreaterThan,
                          GreaterThanOrEqual, LessThan, LessThanOrEqual)):
            raw = f.value if isinstance(f, In) else (f.value,)
            vals = tuple(_physical_value(logical[c], v)
                         for v in raw if v is not None)
            if not vals or None in vals:
                continue
        if isinstance(f, IsNull):
            out.append(engine._Pushed(c, "isnull"))
        elif isinstance(f, (EqualTo, EqualNullSafe, In)):
            out.append(engine._Pushed(c, "isin", vals))
        elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
            out.append(engine._Pushed(c, "range", lo=vals[0]))
        elif isinstance(f, (LessThan, LessThanOrEqual)):
            out.append(engine._Pushed(c, "range", hi=vals[0]))
        elif isinstance(f, IsNotNull):
            out.append(engine._Pushed(c, "notnull"))
        elif isinstance(f, StringStartsWith):
            out.append(engine._Pushed(c, "prefix", (f.value,)))
    return out


_MAX_SPLIT = 32 << 20
_OPEN_COST = 4 << 20


def _bin_pack(
    files: list[tuple[int, str]], width: int
) -> list[tuple[tuple[int, str], ...]]:
    """Pack ``(run, file)`` pairs, in order, into read partitions by
    Spark's file-split rule (``FilePartition.maxSplitBytes``): a file
    costs its size plus an open cost of :data:`_OPEN_COST`, and a
    partition closes before the file whose cost would take it past

        split = min(_MAX_SPLIT, max(_OPEN_COST, total cost / width))

    ``width`` stands in for Spark's slot count, which the data-source
    planner has no SparkContext to ask: :meth:`ChunkStoreReader.partitions`
    passes the widest live run's file count (the task count of its
    one-wave write), at most ``os.cpu_count()``. A one-wave run of
    ``width`` small files reads in ``width`` tasks, one per file; many
    tiny files (a tail of small appends or streaming micro-batches, or
    one run written by 200 shuffle partitions) pack into tasks of fewer
    than ``_MAX_SPLIT // _OPEN_COST`` files, so they do not pay a Python
    worker round-trip per file; a file above the cap reads alone."""
    costs = []
    for _, f in files:
        try:
            costs.append(os.path.getsize(f) + _OPEN_COST)
        except OSError:
            costs.append(_MAX_SPLIT)
    split = min(_MAX_SPLIT, max(_OPEN_COST, sum(costs) // max(1, width)))
    groups: list[tuple[tuple[int, str], ...]] = []
    cur: list[tuple[int, str]] = []
    acc = 0
    for run_file, cost in zip(files, costs):
        if cur and acc + cost > split:
            groups.append(tuple(cur))
            cur, acc = [], 0
        cur.append(run_file)
        acc += cost
    if cur:
        groups.append(tuple(cur))
    return groups


class ChunkStoreReader(DataSourceReader):
    def __init__(self, path: str, schema: StructType,
                 options: dict | None = None):
        if not path:
            raise ValueError("pysparkenc reader needs a path")
        self.path = path
        self.user_schema = schema
        self.pushed: list[engine._Pushed] = []
        options = options or {}
        aor = options.get("as_of_run")
        self.as_of_run = int(aor) if aor is not None else None
        # the file listing is NOT the table — visibility is governed by
        # the commit records. Plan from committed runs, skip superseded
        # layouts (a compacted-but-unexpired store is read exactly once)
        # and apply equality-delete sets. lineage.read_store runs this
        # same reader under mapInArrow.
        self.live, dels = _lineage_plan(path, self.as_of_run)
        self.deletes = _delete_sets(path, dels)
        self._key_tabs: dict[int, pa.Table] = {}  # executor-side cache
        # widen ONCE, driver-side: when a delete key column falls
        # outside the read schema this consults every committed file's
        # metadata (_recover_store_schema) — doing it per chunk file
        # turned a pruned scan into O(files^2) I/O. Only when live data
        # runs exist: a store holding deletes but no data has no schema
        # to recover AND nothing to read (partitions() yields one empty
        # partition), so the read stays an empty DataFrame.
        self._widened = self._widened_schema() if self.live else None

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        self.pushed = _to_pushed(filters, self.user_schema)
        # return every filter: Spark re-applies them all, so our pruning
        # is an optimization with unconditional correctness
        return iter(filters)

    def partitions(self) -> list[InputPartition]:
        """The live runs' ``(run id, file)`` pairs, packed across runs
        into read tasks by :func:`_bin_pack` over the widest live
        run's file count, bounded by the host's CPUs: one task per file
        of a one-wave run, many tiny files packed together. Each file
        keeps its run id for delete sequencing. No live file: one empty
        partition, so the scan yields an empty DataFrame instead of
        failing."""
        by_run = {r: _list_parquet(_run_dir(self.path, _CHUNK_DIR, r))
                  for r in sorted(self.live)}
        pairs = [(r, f) for r, fs in by_run.items() for f in fs]
        width = min(max(map(len, by_run.values()), default=1),
                    os.cpu_count() or 1)
        return ([InputPartition(g) for g in _bin_pack(pairs, width)]
                or [InputPartition(None)])

    def read(self, partition: InputPartition):
        for run_id, f in partition.value or ():
            yield from self._read_file(f, run_id)

    # -- file decode: delete sets and page-group pruning ----------------

    def _widened_schema(self) -> tuple[StructType, list[str]]:
        """User projection widened with every delete key column (the
        anti-membership filter needs them decoded even when the
        projection drops them), plus the key columns' field types
        recovered from the store. Returns (decode_schema, user_cols)."""
        have = {f.name for f in self.user_schema.fields}
        need = [
            c
            for _, _, kcols in self.deletes
            for c in kcols
            if c not in have
        ]
        if not need:
            return self.user_schema, [f.name for f in self.user_schema.fields]
        store = _recover_store_schema(self.path, self.live)
        extra = [f for f in store.fields if f.name in set(need)]
        missing = set(need) - {f.name for f in extra}
        if missing:
            raise ValueError(
                f"delete key column(s) {sorted(missing)} not present in "
                f"store schema — store at {self.path} is corrupt"
            )
        return (
            StructType(list(self.user_schema.fields) + extra),
            [f.name for f in self.user_schema.fields],
        )

    def _keys_for(self, run_id: int) -> list[tuple[int, pa.Table]]:
        """Key tables of delete runs that apply to rows written by
        ``run_id`` (Iceberg sequencing: ``del_run > row_run``), loaded
        once per task and cached."""
        out = []
        for del_run, key_dir, _ in self.deletes:
            if del_run <= run_id:
                continue
            t = self._key_tabs.get(del_run)
            if t is None:
                t = pq.read_table(key_dir)
                self._key_tabs[del_run] = t
            out.append((del_run, t))
        return out

    def _read_file(self, path: str, run_id: int):
        """Decode the page groups of one chunk file of run ``run_id``
        that pass ``self.pushed`` (:func:`engine._walk_groups`), minus
        the rows deleted by runs sequenced after ``run_id``."""
        # set in __init__ for every store with live runs — the only
        # callers are partitions planned FROM self.live; falling back
        # to a per-file recompute here would silently reintroduce the
        # O(files^2) recovery, so fail loudly instead (a raise, not an
        # assert: ``python -O`` strips asserts)
        if self._widened is None:
            raise RuntimeError(
                f"pysparkenc reader for {self.path}: widened schema unset "
                "(a file read was planned without live runs)"
            )
        decode_schema, user_cols = self._widened
        # committed partitions only (orphan part ids from a crashed
        # encode never decode), then the requested chunks. Any chunk row
        # carries its group's n_rows, so a group with no requested chunk
        # (written before EVERY requested column existed) keeps one
        # other row, without payloads, and decodes as all-null rows
        full = pq.read_table(path, filters=pc.field("part_id").isin(
            list(self.live.get(run_id, ()))))
        req = pc.is_in(full.column("col"), pa.array(
            engine._requested_chunks(decode_schema), pa.string()))
        key = ((full.column("part_id").to_numpy().astype(np.int64) << 32)
               + full.column("chunk_id").to_numpy())
        lone = np.flatnonzero(~np.isin(
            key, key[req.to_numpy(zero_copy_only=False)]))
        table = full.filter(req)
        if lone.size:  # the dropped payloads concatenate as nulls
            lone = lone[np.unique(key[lone], return_index=True)[1]]
            table = pa.concat_tables([table, full.drop_columns(
                list({"data", "aux", "bloom"} & set(full.column_names))
            ).take(lone)], promote_options="default")
        dels = self._keys_for(run_id)
        for out in engine._walk_groups(decode_schema, table, self.pushed):
            for _, keys_tab in dels:
                mask = _delete_drop_mask(out, keys_tab)
                if mask is not None:
                    out = out.filter(pc.invert(mask))
            if out.num_rows:
                yield from out.select(user_cols).to_batches()


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------

@dataclass
class _FileCommit(WriterCommitMessage):
    files: tuple  # the task's staged file, none when it had no rows
    t0: float  # task start: the run's wall_sec counts from the earliest


def _remove_staged(files) -> None:
    for f in files:
        if os.path.exists(f):
            os.remove(f)


def _stage_task(
    batches: Iterable[pa.RecordBatch], path: str,
    pages=None, skip: frozenset = frozenset(),
) -> str | None:
    """THE task side of every store write: ``batches``, encoded into page
    groups by ``pages`` (delete keys as they are), written with pyarrow
    as ONE parquet file of one row group under ``_staging/``. Returns
    its name, or None when the task had no rows or its partition id is
    in ``skip``: the part ids a resume finds committed, which are the
    TASK ids chunk rows record (a planned ``part_id`` equals its task id
    only on the exact route of :func:`engine._plan_encode`)."""
    from pyspark import TaskContext

    tc = TaskContext.get()
    pid = tc.partitionId() if tc is not None else 0
    if pid in skip:
        for _ in batches:  # drained, never encoded
            pass
        return None
    out = [b for b in (pages(batches) if pages else batches)
           if b.num_rows]
    if not out:
        return None
    staging = os.path.join(path, _STAGING_DIR)
    os.makedirs(staging, exist_ok=True)
    f = os.path.join(staging, f"stage-{pid:05d}-{uuid.uuid4().hex}.parquet")
    table = pa.Table.from_batches(out)
    # statistics of the payload columns prune nothing and cost ~3% of a
    # chunk file's bytes
    pq.write_table(table, f, write_statistics=[
        c for c in table.column_names if c not in ("data", "aux", "bloom")])
    return f


def _stage_df(df, path: str, pages=None, skip=frozenset()) -> list[str]:
    """Run :func:`_stage_task` as the ``mapInArrow`` body of every task
    of ``df`` (one Spark job) and collect the staged file names."""

    def task(batches):
        f = _stage_task(batches, path, pages, skip)
        if f is not None:
            yield pa.RecordBatch.from_pydict({"file": [f]})

    return [r[0] for r in df.mapInArrow(task, "file string").collect()]


def _lineage_max_run(path: str) -> int:
    """Highest run id in the lineage records (0 when empty), read on
    the driver with pyarrow. A compaction that wrote no rows commits
    only supersede markers, which carry its id in ``batch_id``, so that
    column counts too, on ``superseded`` rows only (stream batches keep
    their batch id there on done rows)."""
    tab = _lineage_table(path, ("run_id", "batch_id", "status"))
    sup = tab.filter(pc.equal(tab.column("status"), "superseded"))
    return max(int(pc.max(tab.column("run_id")).as_py() or 0),
               int(pc.max(sup.column("batch_id")).as_py() or 0))


def _chunk_lineage_rows(
    path: str, run_id: int, batch_id: int, wall_sec: float,
    plan: tuple[str | None, int | None] = (None, None),
) -> list[tuple]:
    """The ``done`` lineage rows of a run whose chunks have landed under
    ``chunks/run_id=<r>/``, one per part id, built from the chunk files'
    metadata columns with pyarrow (payloads are never read). Every
    column-chunk row of one page group carries the group's ``n_rows``,
    so a part's rows are the sum over its page groups of the group's
    max; ``n_chunks`` counts its chunk rows. Computed from what actually
    landed, so a retried or lost task cannot skew the commit record.
    ``plan`` is the run's ``(partition_by, num_partitions)`` record (see
    :func:`pysparkenc.lineage.encode_with_lineage`); None where the run
    has no resumable partition plan."""
    cols = ["part_id", "chunk_id", "n_rows", "n_values", "plain_bytes",
            "enc_bytes"]
    files = _list_parquet(_run_dir(path, _CHUNK_DIR, run_id))
    if not files:
        return []
    target = pa.schema([(c, pa.int64()) for c in cols])
    t = pa.concat_tables(
        pq.read_table(f, columns=cols).cast(target) for f in files
    )
    groups = t.group_by(["part_id", "chunk_id"]).aggregate(
        [("n_rows", "max"), ("n_values", "sum"), ("plain_bytes", "sum"),
         ("enc_bytes", "sum"),
         ("n_rows", "count", pc.CountOptions(mode="all"))]
    )
    parts = groups.group_by("part_id").aggregate(
        [("n_rows_max", "sum"), ("n_values_sum", "sum"),
         ("plain_bytes_sum", "sum"), ("enc_bytes_sum", "sum"),
         ("n_rows_count", "sum")]
    ).sort_by("part_id")
    return [
        (int(run_id), int(batch_id), p, nr, nv, pb, eb, nc,
         float(wall_sec), "done", *plan)
        for p, nr, nv, pb, eb, nc in zip(
            *(parts.column(c).to_pylist() for c in (
                "part_id", "n_rows_max_sum", "n_values_sum_sum",
                "plain_bytes_sum_sum", "enc_bytes_sum_sum",
                "n_rows_count_sum",
            ))
        )
    ]


def _append_lineage_rows(path: str, rows: list[tuple]) -> None:
    """Publish ``rows`` as ONE lineage file: written under a
    dot-prefixed temp name (invisible to lineage readers) and
    ``os.replace``d into ``lineage/``, so all of a commit record becomes
    visible at once or none of it — a killed commit can never leave a
    batch half-visible to the ``batch_id`` replay check. A row shorter
    than the schema leaves its trailing columns null."""
    t = pa.Table.from_pylist(
        [dict(zip(_LINEAGE_PA_SCHEMA.names, r)) for r in rows],
        schema=_LINEAGE_PA_SCHEMA,
    )
    d = _lineage_dir(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
    pq.write_table(t, tmp)
    os.replace(tmp, os.path.join(d, f"part-{uuid.uuid4().hex}.parquet"))


def _commit_run(
    path: str, staged: Sequence[str], *, t0: float, retry: str,
    schema: StructType | None = None, batch_id: int = -1,
    plan: tuple[str | None, int | None] = (None, None),
    supersede: tuple[dict, Sequence[int]] | None = None,
    keys: pa.Schema | None = None,
) -> tuple[int, list[tuple]] | None:
    """THE driver side of every store write: publish the files
    :func:`_stage_task` staged as ONE lineage run. In order: (1) a
    replayed micro-batch (``batch_id`` >= 0, :func:`_batch_committed`)
    removes its files and returns None; (2) a fresh run id; (3) the
    files renamed into ``chunks/run_id=<r>/``, or ``deletes/`` for a
    delete run (``keys``, its key schema: with no key staged an empty
    key file lands, since readers take key columns from a footer); (4)
    the lineage rows built from what landed, plus the
    :func:`_supersede_markers` of ``supersede``; (5) those rows appended
    as one atomic file, then the single-writer check: if the run's
    committed rows differ (two committers raced to one run id), every
    done part of the run is quarantined (``batch_id == run_id``) and
    the commit raises, telling the caller to ``retry``; (6) ``schema``
    recorded. A crash before (5) leaves only orphans no reader sees.
    Returns ``(run_id, rows)``."""
    from .lineage import _next_run_id, _record_run_schema

    if batch_id >= 0 and _batch_committed(_done_rows(path), batch_id):
        _remove_staged(staged)
        return None
    run_id = _next_run_id(None, path)
    run_dir = _run_dir(path, _CHUNK_DIR if keys is None else _DELETES_DIR,
                       run_id)
    if staged or keys is not None:
        os.makedirs(run_dir, exist_ok=True)
    for f in staged:
        os.replace(f, os.path.join(run_dir, os.path.basename(f)
                                   .replace("stage-", "part-", 1)))
    wall = time.time() - t0
    if keys is None:
        rows = _chunk_lineage_rows(path, run_id, batch_id, wall, plan)
    else:
        if not staged:
            pq.write_table(keys.empty_table(), os.path.join(
                run_dir, f"part-00000-{uuid.uuid4().hex}.parquet"))
        rows = [(run_id, -1, -1, _parquet_rows(run_dir), 0, 0, 0, 0, wall,
                 "delete")]
    if supersede is not None:
        rows += _supersede_markers(run_id, *supersede, wall)
    if rows:
        _append_lineage_rows(path, rows)
    lin = _lineage_table(path, ("run_id", "part_id", "status"))
    lin = lin.filter(pc.equal(lin.column("run_id"), int(run_id)))
    mine = sum(1 for r in rows if r[0] == run_id)
    if lin.num_rows != mine:
        done = lin.filter(pc.equal(lin.column("status"), "done"))
        parts = sorted(set(done.column("part_id").to_pylist()))
        quarantined = ""
        if parts:
            _append_lineage_rows(
                path, _supersede_markers(run_id, {run_id: parts}, (), 0.0))
            quarantined = (
                f"Run {run_id} has been quarantined (all its partitions "
                "superseded — readers no longer see it; expire_runs "
                "reclaims its files). "
            )
        raise RuntimeError(
            f"concurrent commit detected on run {run_id}: {lin.num_rows} "
            f"lineage rows landed where this writer appended {mine}. "
            f"{quarantined}Stores are single-writer — {retry}"
        )
    if schema is not None:
        _record_run_schema(path, run_id, schema)
    return run_id, rows


class ChunkStoreWriter(DataSourceArrowWriter):
    """``df.write.format("pysparkenc")``: each task stages its encoded
    chunk rows as one file (:func:`_stage_task`), and the driver's
    ``commit`` publishes them as ONE lineage run (:func:`_commit_run`).
    With ``overwrite`` that run also supersedes every live part and
    delete run."""

    def __init__(self, path: str, schema: StructType, options: dict,
                 overwrite: bool):
        self.path = path
        self.schema = schema
        self.overwrite = overwrite
        tcb = options.get("target_chunk_bytes")
        # .option("bloom", "doc_id,source") — per-chunk SBBF on those
        # columns; .option("bloom_fpp", "0.005") tunes the target rate
        bloom_opt = options.get("bloom") or ""
        fpp = float(options.get("bloom_fpp", "0.01"))
        self.pages = engine._page_encoder(
            schema.fields, {},
            default_codec=options.get("codec") or None,
            compression=options.get("compression") or None,
            bloom_for={c.strip(): fpp
                       for c in bloom_opt.split(",") if c.strip()},
            rows_per_chunk=int(options.get("rows_per_chunk", "4096")),
            target_chunk_bytes=int(tcb) if tcb else None,
        )
        self.t0 = time.time()
        for f in schema.fields:
            engine._logical_of(f)  # fail on unsupported types driver-side

    def write(self, iterator: Iterator[pa.RecordBatch]) -> _FileCommit:
        t0 = time.time()
        f = _stage_task(iterator, self.path, self.pages)
        return _FileCommit(() if f is None else (f,), t0)

    def commit(self, messages, batchId: int = -1) -> None:  # noqa: N803
        """Publish the staged files as one run; ``batchId`` is the stream
        sink's micro-batch (-1 for a batch write). The schema is recorded
        even when no row landed, so an empty write reads back empty under
        its schema."""
        messages = [m for m in messages if m]
        supersede = None
        if self.overwrite:
            live, dels = _lineage_plan(self.path)
            supersede = (live, [r for r, _ in dels])
        _commit_run(
            self.path, [f for m in messages for f in m.files],
            # the tasks may have started before this writer was built
            t0=min([self.t0, *(m.t0 for m in messages)]),
            retry="re-run the write, which will commit under a fresh run id.",
            schema=self.schema, batch_id=int(batchId), supersede=supersede,
        )

    def abort(self, messages, batchId: int = -1) -> None:  # noqa: N803
        _remove_staged(f for m in messages if m for f in m.files)


class ChunkStoreStreamReader(DataSourceStreamReader):
    """Structured-Streaming source: ``spark.readStream.format("pysparkenc")``.

    Tails committed runs. The offset is the highest committed run id
    (:func:`_lineage_max_run`). A micro-batch ``(lo, hi]`` emits the
    ``append`` and ``stream-append`` runs in that range (classified by
    :func:`_run_operations`, as ``snapshots`` lists them) exactly as
    ``read_store(path, as_of_run=hi, runs=...)`` reads them: deletes
    visible at ``hi`` apply, sequenced by run. Compaction, overwrite and
    quarantined runs are never emitted. An append run that a compaction
    or overwrite rewrote before the tail read it raises a ValueError
    naming it: its rows now live in a run the tail does not emit, so
    they could be neither emitted once nor skipped without loss.
    """

    def __init__(self, path: str, schema: StructType):
        self.path = path
        self.schema = schema

    def initialOffset(self) -> dict:  # noqa: N802 (Spark API name)
        return {"run": 0}

    def latestOffset(self) -> dict:  # noqa: N802
        return {"run": _lineage_max_run(self.path)}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        lo, hi = int(start["run"]), int(end["run"])
        ops = _run_operations(
            _lineage_table(self.path, ("run_id", "batch_id", "part_id",
                                       "status")))
        appends = sorted(
            r for r, op in zip(ops.column("run_id").to_pylist(),
                               ops.column("operation").to_pylist())
            if lo < r <= hi and op in ("append", "stream-append"))
        if not appends:
            return []
        reader = ChunkStoreReader(self.path, self.schema, {"as_of_run": hi})
        gone = [r for r in appends if r not in reader.live]
        if gone:
            raise ValueError(
                f"stream source on {self.path}: append run(s) {gone} were "
                f"rewritten by a compaction or overwrite before this query "
                f"read them (offsets {lo}..{hi}); restart the query from a "
                "new checkpoint"
            )
        reader.live = {r: reader.live[r] for r in appends}
        # the planned reader travels with each partition: read() runs
        # in an executor, where nothing of this call's state survives
        return [InputPartition((reader, p.value))
                for p in reader.partitions() if p.value]

    def read(self, partition: InputPartition):
        reader, pairs = partition.value
        yield from reader.read(InputPartition(pairs))


class ChunkStoreStreamWriter(ChunkStoreWriter, DataSourceStreamArrowWriter):
    """Structured-Streaming sink: ``df.writeStream.format("pysparkenc")``.

    Each micro-batch commits one lineage run on the driver, its done
    rows tagged with ``batchId`` (:func:`_commit_run`).
    A replayed batch (a crash after the commit, before the checkpoint
    advanced) finds those rows, deletes its staged files and commits
    nothing — the replay rule of ``encode_with_lineage(batch_id=)``. A
    store takes one streaming query: two queries reuse batch ids.
    """


# ---------------------------------------------------------------------------
# the data source
# ---------------------------------------------------------------------------

class ChunkStoreDataSource(DataSource):
    """``format("pysparkenc")`` — see the module docstring."""

    @classmethod
    def name(cls) -> str:
        return "pysparkenc"

    def _path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError(
                "pysparkenc needs a path: .load(path) / .save(path)"
            )
        _refuse_flat(p)
        return p

    def schema(self) -> StructType:
        from .lineage import _store_schema

        aor = self.options.get("as_of_run")
        return _store_schema(self._path(),
                             int(aor) if aor is not None else None)

    def reader(self, schema: StructType) -> ChunkStoreReader:
        return _UnpushedReader(self._path(), schema, dict(self.options))

    def streamReader(  # noqa: N802 (Spark API name)
        self, schema: StructType
    ) -> ChunkStoreStreamReader:
        return ChunkStoreStreamReader(self._path(), schema)

    def writer(self, schema: StructType, overwrite: bool) -> ChunkStoreWriter:
        return self._writer(ChunkStoreWriter, schema, overwrite)

    def streamWriter(  # noqa: N802 (Spark API name)
        self, schema: StructType, overwrite: bool
    ) -> ChunkStoreStreamWriter:
        return self._writer(ChunkStoreStreamWriter, schema, overwrite)

    def _writer(self, cls, schema: StructType, overwrite: bool):
        """An append follows the lineage schema-evolution rule
        (:func:`_check_schema_evolution`: columns may be added, a type
        change is refused); an overwrite starts a new table and skips
        it."""
        path = self._path()
        if not overwrite:
            _check_schema_evolution(path, schema)
        return cls(path, schema, dict(self.options), overwrite)


class _UnpushedReader(ChunkStoreReader):
    """The reader without Catalyst filter pushdown: Spark refuses a
    reader that implements ``pushFilters`` while
    ``spark.sql.python.filterPushdown.enabled`` is off."""

    pushFilters = DataSourceReader.pushFilters  # noqa: N815 (Spark API name)


class PushdownChunkStoreDataSource(ChunkStoreDataSource):
    """``pysparkenc`` with Catalyst filter pushdown into the reader;
    :func:`register` installs it on sessions that opted in."""

    def reader(self, schema: StructType) -> ChunkStoreReader:
        return ChunkStoreReader(self._path(), schema, dict(self.options))


_PUSHDOWN_CONF = "spark.sql.python.filterPushdown.enabled"


def register(spark) -> None:
    """Register the ``pysparkenc`` format on a session (idempotent; a
    later call replaces the earlier registration).

    Filter pushdown is an explicit opt-in that this function never turns
    on: when ``spark.sql.python.filterPushdown.enabled`` is ``true`` (it
    is off by default in Spark 4.1) at the time of the call, the format
    pushes ``where`` filters into the reader to prune page groups;
    otherwise it pushes none and Spark filters the decoded rows. With
    pushdown on, mind the caveat in the module docstring: a ``load()``
    DataFrame queried with a filter and then without one reads too few
    rows."""
    on = spark.conf.get(_PUSHDOWN_CONF, "false").lower() == "true"
    spark.dataSource.register(
        PushdownChunkStoreDataSource if on else ChunkStoreDataSource)
