#!/usr/bin/env python3
"""Run one workload of the pysparkenc benchmark and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload {ingest,scan} --seed N \\
        --seconds S --trace {0,1} [--toy]

With ``--trace 0`` the last stdout line is one JSON object holding the
end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics,
and the spans are written to ``.perfbench_out/``. ``--toy`` shrinks the
inputs to smoke-test size. Spark runs as ``local[4]`` with numpy, OpenMP
and Arrow pinned to one thread; everything the run writes stays under
``.perfbench_work/`` and ``.perfbench_out/`` of the checkout. The command
exits non-zero when an output check fails or when the checkout holds no
``pysparkenc`` package. See ``perfbench/README.md`` for the metrics.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

CORES = 4

# driver-side public functions that get a span in a traced run
TRACED = {
    "lineage": ("read_store", "read_committed_chunks", "read_delete_sets",
                "read_lineage", "apply_deletes", "encode_with_lineage",
                "delete_rows", "upsert_rows"),
    "engine": ("encode_table", "decode_table", "scan_table"),
}


def pin_environment(root: str, work: str) -> None:
    """Must run before pyspark is imported: worker processes inherit it."""
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "ARROW_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ[var] = "1"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # spark-submit's short-lived launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")


def start_spark(work: str, trace: bool):
    from pyspark.sql import SparkSession

    from pysparkenc import datasource

    conf = {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -Xms: a fixed heap, so resident memory does not follow GC timing;
        # no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms1g -XX:-UsePerfData",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    builder = SparkSession.builder.master(f"local[{CORES}]").appName("perfbench")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    datasource.register(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and the Python workers it
    started have exited."""
    from helpers import children_map

    kids = children_map()
    started, todo = set(), [os.getpid()]
    while todo:
        for pid in kids.get(todo.pop(), ()):
            started.add(pid)
            todo.append(pid)
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in started:
        while time.monotonic() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)


def patch_driver_layers(tracer) -> None:
    import importlib

    for layer, fns in TRACED.items():
        module = importlib.import_module(f"pysparkenc.{layer}")
        for fn in fns:
            tracer.patch(module, fn, f"{layer}.{fn}")


def end_to_end(wl, ops, setup_s: float, peak_pss: int) -> dict[str, float]:
    from helpers import median

    done = [o for o in ops if o.kind != "error"]
    return {
        "setup_s": setup_s,
        "peak_pss_mb": peak_pss / 1e6,
        "tok_per_s": median([o.tokens / o.seconds for o in done]),
        "compression_ratio": wl.build["compression_ratio"],
        "bytes_vs_parquet": wl.store_bytes / wl.parquet_bytes,
    }


def per_layer(warm, untraced, traced, tracer, legs, codec, events) -> dict[str, float]:
    """A layer that a workload never calls reports 0 for its metrics."""
    from helpers import engine_metrics, median

    out: dict[str, float] = {**codec, **legs}
    done = [o.seconds for o in traced if o.kind != "error"]
    n = max(1, len(done))
    for fn in ("read_committed_chunks", "read_delete_sets", "read_lineage"):
        out[f"lineage.{fn}_s"] = tracer.total(f"lineage.{fn}", ops_only=True)[0] / n
    s, calls = tracer.total("datasource.load", ops_only=True)
    out["datasource.plan_s"] = s / calls if calls else 0.0
    for layer, s in tracer.self_times(ops_only=True).items():
        if layer in ("engine", "lineage", "datasource"):
            out[f"{layer}.self_s"] = s / n
    first = len(warm) + len(untraced)
    op_groups = [events[f"op-{i}"] for i in range(first, first + len(traced))
                 if f"op-{i}" in events]
    for k, v in engine_metrics(op_groups, CORES).items():
        out[f"engine.{k}"] = v
    ds = events.get("leg.ds_scan")
    main = ds.main_stage() if ds else None
    out["datasource.read_tasks"] = len(main.tasks) if main else 0
    base = [o.seconds for o in untraced if o.kind != "error"]
    out["trace.overhead"] = median(done) / median(base)
    out["trace.spans"] = len(tracer.spans)
    return out


def run(args, root: str, work: str) -> tuple[dict, bool]:
    from helpers import PssSampler, Tracer, median, read_event_log, tail
    from layers import codec_layer_metrics
    from workloads import (DOCS, MIN_OPS, TOY_DOCS, WARMUP, WORKLOADS, Op,
                           layer_legs, measure)

    n_docs = TOY_DOCS if args.toy else DOCS
    min_ops = 1 if args.toy else MIN_OPS
    with PssSampler() as mem:
        t0 = time.perf_counter()
        spark = start_spark(work, args.trace)
        spark_s = time.perf_counter() - t0
        try:
            wl = WORKLOADS[args.workload](spark, work, args.seed, n_docs)
            setup_s = spark_s + wl.setup()
            warm = measure(wl, 0, WARMUP[args.workload])
            if not args.trace:
                ops = measure(wl, args.seconds, min_ops, first=len(warm))
                wl.finish(ops)
            else:
                # two operations per half keep a traced run within its time
                half_ops = min(2, min_ops)
                untraced = measure(wl, args.seconds / 2, half_ops, first=len(warm))
                tracer = Tracer()
                wl.tracer = tracer
                patch_driver_layers(tracer)
                try:
                    traced = measure(wl, args.seconds / 2, half_ops,
                                     first=len(warm) + len(untraced))
                    legs = layer_legs(wl)
                finally:
                    tracer.restore()
                ops = untraced + traced
                wl.finish(ops)
                codec, same_bytes = codec_layer_metrics(wl.src.schema, wl.store)
        finally:
            stop_spark(spark)
    peak = mem.peak

    done = [o.seconds for o in ops if o.kind != "error"]
    t = tail(done)
    print(f"[{args.workload} seed={args.seed}] {len(done)} timed operations, "
          f"p50 {median(done):.3f}s, tail "
          + (f"p{t[0]:.0f} {t[1]:.3f}s" if t else "n/a (10 samples or fewer)")
          + f"; setup {setup_s:.2f}s; all: " + " ".join(f"{x:.3f}" for x in done))
    if args.trace:
        logs = glob.glob(os.path.join(work, "events", "*"))
        events = read_event_log(logs[0]) if logs else {}
        metrics = per_layer(warm, untraced, traced, tracer, legs, codec, events)
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans_{args.workload}_{args.seed}.jsonl"))
    else:
        metrics = end_to_end(wl, ops, setup_s, peak)
    # BENCHMARK.json names the metrics each mode reports, with their units
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    ops = warm + ops
    if args.trace:
        # the codec pass must re-encode the store's pages to its bytes
        ops.append(Op("reencode", 0.0, 0, same_bytes))
    failed = sum(not o.ok for o in ops)
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)),
                                "unit": m["unit"]} for m in spec},
    }
    return result, failed == 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("ingest", "scan"))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--toy", action="store_true", help="smoke-test input size")
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pysparkenc", "__init__.py")):
        print("perfbench: no pysparkenc package under the current directory; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(root, work)
    try:
        result, ok = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(json.dumps(result) + "\n")
    sys.stdout.flush()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
