"""The benchmark's workloads, each a closed loop with one caller.

- ``ingest``: ``encode_with_lineage`` of the generated table into a fresh
  store, repeated.
- ``scan``: a full decode of a store through ``read_store`` and then
  through ``spark.read.format("pysparkenc")``, each forced with a ``noop``
  write; one operation is the pair.

Every workload generates its input from the seed with
``pysparkenc.synth.make_tokens_table`` and checks the outputs it times.
"""

from __future__ import annotations

import contextlib
import shutil
import time
import traceback
from dataclasses import dataclass

from pyspark.sql import functions as F

from helpers import Tracer, checksum, dir_bytes, median

PART = ("source", "doc_id")
SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"
SETUP_REPS = 3  # input generations per run; setup_s takes their median

DOCS = 30_000  # about 2.3M tokens
TOY_DOCS = 2_000  # --toy: the smoke-test size
MIN_OPS = 3  # timed operations per loop, whatever --seconds says
# untimed operations before the loop, so the Python workers and the JVM's
# JIT are warm when the timing starts; an encode keeps speeding up for
# about three runs (the set-up build is the first)
WARMUP = {"ingest": 2, "scan": 1}


def force(df) -> None:
    """Evaluate a DataFrame fully without collecting it."""
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Op:
    kind: str
    seconds: float
    tokens: int  # tokens of the table the operation covered
    ok: bool


class Workload:
    """Set-up and one operation of a workload; the loop lives in
    :func:`measure`."""

    def __init__(self, spark, work: str, seed: int, n_docs: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.n_docs = n_docs
        self.tracer: Tracer | None = None
        self.src_path = f"{work}/source"
        self.store = f"{work}/store"

    # -- set-up -----------------------------------------------------------

    def setup(self) -> float:
        """Generate the input ``SETUP_REPS`` times and build the store
        once; returns the median generation time plus the build time."""
        from pysparkenc import lineage
        from pysparkenc.synth import make_tokens_table

        gens = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            (make_tokens_table(self.spark, self.n_docs, seed=self.seed)
             .write.mode("overwrite").parquet(self.src_path))
            gens.append(time.perf_counter() - t0)
        self.src = self.spark.read.parquet(self.src_path)
        t0 = time.perf_counter()
        self.build = lineage.encode_with_lineage(
            self.src, self.store, partition_by=PART)
        build_s = time.perf_counter() - t0

        self.spark.sparkContext.setJobGroup("check", "output checks")
        self.src_sum = checksum(self.src)
        self.rows = self.src_sum[0]
        self.tokens = int(self.src.agg(F.sum("n_tok")).collect()[0][0])
        self.store_bytes = dir_bytes(self.store)
        self.parquet_bytes = dir_bytes(self.src_path)
        return median(gens) + build_s

    # -- timing -----------------------------------------------------------

    @contextlib.contextmanager
    def timed(self, kind: str, group: str):
        """Time the block; when tracing, also record a ``bench.<kind>``
        span and tag its Spark jobs with ``group`` for the event log."""
        rec = {}
        sc = self.spark.sparkContext
        sc.setJobGroup(group, kind)
        span = (self.tracer.span(f"bench.{kind}") if self.tracer
                else contextlib.nullcontext())
        t0 = time.perf_counter()
        with span:
            yield rec
        rec["s"] = time.perf_counter() - t0
        sc.setJobGroup("check", "output checks")

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def ds_read(self, path: str):
        with self.span("datasource.load"):
            return self.spark.read.format("pysparkenc").load(path)

    def op(self, i: int, group: str) -> Op:
        raise NotImplementedError

    def finish(self, ops: list[Op]) -> None:
        """Checks that need the whole loop, run once after it; may mark
        ops failed."""


class Ingest(Workload):
    last: str | None = None  # the newest store; older ones are deleted

    def op(self, i: int, group: str) -> Op:
        from pysparkenc import lineage

        path = f"{self.work}/ingest_{i}"
        with self.timed("encode", group) as rec:
            res = lineage.encode_with_lineage(self.src, path, partition_by=PART)
        # same input, same plan: every encode must commit every row and
        # produce byte-for-byte the store the set-up built
        ok = res["rows"] == self.rows and res["enc_bytes"] == self.build["enc_bytes"]
        if self.last:
            shutil.rmtree(self.last, ignore_errors=True)
        self.last = path
        return Op("encode", rec["s"], self.tokens, ok)

    def finish(self, ops: list[Op]) -> None:
        from pysparkenc import lineage

        if self.last and ops:
            got = checksum(lineage.read_store(self.spark, self.last))
            ops[-1].ok = ops[-1].ok and got == self.src_sum


class Scan(Workload):
    def op(self, i: int, group: str) -> Op:
        from pysparkenc import lineage

        with self.timed("scan", group) as rec:
            rs = lineage.read_store(self.spark, self.store)
            with self.span("engine.execute"):
                force(rs)
            ds = self.ds_read(self.store)
            with self.span("datasource.execute"):
                force(ds)
        return Op("scan", rec["s"], 2 * self.tokens, True)

    def finish(self, ops: list[Op]) -> None:
        from pysparkenc import lineage

        if ops:
            rs = checksum(lineage.read_store(self.spark, self.store))
            ds = checksum(self.spark.read.format("pysparkenc").load(self.store))
            ops[-1].ok = ops[-1].ok and rs == self.src_sum == ds


WORKLOADS = {"ingest": Ingest, "scan": Scan}


def measure(wl: Workload, seconds: float, min_ops: int, first: int = 0) -> list[Op]:
    """Closed loop: run operations back to back until they have taken
    ``seconds`` in total and at least ``min_ops`` ran. Per-operation output
    checks run between operations and do not count toward ``seconds``. A
    raised error counts as a failed operation and is left out of the
    timings."""
    ops: list[Op] = []
    i = first
    while sum(o.seconds for o in ops) < seconds or len(ops) < min_ops:
        group = f"op-{i}"
        try:
            if wl.tracer is not None:
                with wl.tracer.operation():
                    ops.append(wl.op(i, group))
            else:
                ops.append(wl.op(i, group))
        except Exception:  # noqa: BLE001 - a failed op is a result
            traceback.print_exc()
            ops.append(Op("error", 0.0, 0, False))
            if sum(not o.ok for o in ops) > 3:
                break
        i += 1
    return ops


def layer_legs(wl: Workload) -> dict[str, float]:
    """One timed run of each layer-level call, each in its own job group
    ``leg.<name>`` so the event log can be read per leg. The commit legs
    delete three keys from, and upsert two into, the store the
    ``encode_with_lineage`` leg wrote; the result is checked against the
    source."""
    from pysparkenc import engine, lineage

    spark = wl.spark
    sc = spark.sparkContext
    keys = [r["doc_id"] for r in wl.src.select("doc_id").orderBy("doc_id").limit(5).collect()]
    ref = f"{wl.work}/ref_parquet"
    legs = f"{wl.work}/leg_store"

    def leg(name, fn) -> float:
        sc.setJobGroup(f"leg.{name}", name)
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        sc.setJobGroup("check", "output checks")
        return dt

    out = {}
    out["engine.encode_table_s"] = leg(
        "encode_table", lambda: force(engine.encode_table(wl.src, partition_by=PART)))
    commit = leg("encode_with_lineage", lambda: lineage.encode_with_lineage(
        wl.src, legs, partition_by=PART))
    out["lineage.write_commit_s"] = commit - out["engine.encode_table_s"]
    out["engine.decode_table_s"] = leg("decode_table", lambda: force(
        engine.decode_table(lineage.read_committed_chunks(spark, wl.store))))
    out["datasource.scan_s"] = leg(
        "ds_scan", lambda: force(spark.read.format("pysparkenc").load(wl.store)))
    out["engine.scan_table_s"] = leg("scan_table", lambda: engine.scan_table(
        lineage.read_committed_chunks(spark, wl.store),
        where=[("doc_id", "==", keys[0])]).count())

    gone = spark.createDataFrame([(k,) for k in keys[:3]], "doc_id string")
    out["lineage.delete_rows_s"] = leg(
        "delete_rows", lambda: lineage.delete_rows(spark, legs, gone))
    new = spark.createDataFrame(
        [(k, [wl.seed, j], 2, k.rsplit("-", 1)[0]) for j, k in enumerate(keys[3:])], SCHEMA)
    out["lineage.upsert_rows_s"] = leg(
        "upsert_rows", lambda: lineage.upsert_rows(spark, legs, new, partition_by=PART))
    want = checksum(wl.src.where(~F.col("doc_id").isin(keys)).unionByName(new))
    if checksum(lineage.read_store(spark, legs)) != want:
        raise RuntimeError("store after delete_rows and upsert_rows differs from the source")

    out["ref.parquet_write_s"] = leg(
        "parquet_write", lambda: wl.src.write.mode("overwrite").parquet(ref))
    out["ref.parquet_read_s"] = leg(
        "parquet_read", lambda: force(spark.read.parquet(ref)))
    out["ref.parquet_mb"] = dir_bytes(ref) / 1e6
    return out
