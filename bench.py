#!/usr/bin/env python3
"""Benchmark harness for the PySpark-native columnar encoding engine.

Default mode:
    python bench.py
Runs the headline queries from ``__spark_entry__.queries()`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``, writes the full result (per-query,
isolated and host-probe detail) to BENCH_DETAIL.json and ends stdout
with ONE compact JSON headline line (under 2 KB, so a tail capture of
the output keeps it whole):
    {"metric": ..., "value": <total sec>, "unit": "sec", "sf": ...,
     "cpus": ..., "flagship_tokens": ..., "tokens_per_sec": ...,
     "compression_ratio": ..., "detail": "BENCH_DETAIL.json"}

Scaling mode (north_rule evidence, in-sandbox stand-in for N vs 4N
executors — same job, same deterministic input, two parallelism levels):
    python bench.py --scaling [--rows 200000]
Runs the flagship encode job in two subprocesses (local[8], local[32]),
reports throughput at both plus efficiency = (tp_32 / tp_8) / 4, and
rewrites the "Measured" section of BENCH.md.

Worker mode (internal): --worker-cpus K --rows N prints one JSON line
with the encode throughput at local[K].
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPO = os.path.dirname(os.path.abspath(__file__))
HEADLINE_KEYS = ("metric", "value", "unit", "sf", "cpus", "flagship_tokens",
                 "tokens_per_sec", "compression_ratio")


def make_spark(cpus: int, shuffle_partitions: int | None = None):
    from pyspark.sql import SparkSession

    # pin per-process numpy/Arrow thread pools to 1: parallelism must come
    # from Spark tasks alone, or a local[2] run borrows the whole machine
    # through OpenMP and the N-vs-4N comparison measures nothing
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "ARROW_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ[var] = "1"

    # shuffle/spill files go to tmpfs: this sandbox's virtual disk is
    # throttled and adds minutes of run-to-run noise; the scaling metric
    # is about compute/shuffle scaling, not the VM's disk scheduler
    local_dir = "/dev/shm/pysparkenc-spark" if os.path.isdir("/dev/shm") else None
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"pysparkenc-bench-{cpus}")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    spark = (
        builder
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def force(df) -> int:
    """Fully evaluate a DataFrame without collecting it to the driver."""
    return df.write.format("noop").mode("overwrite").save() or 0


# ---------------------------------------------------------------------------
# flagship encode throughput (tokens/sec) — the BASELINE.json metric
# ---------------------------------------------------------------------------

def encode_throughput(spark, n_rows: int, *, warmup: bool = True,
                      trials: int = 1, input_path: str | None = None) -> dict:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from pysparkenc.engine import encode_table
    from pysparkenc.synth import make_tokens_table

    if warmup:  # spin up Python workers / JIT outside the timed region
        force(encode_table(make_tokens_table(spark, 2_000, seed=7)))

    # materialize the synthetic input to parquet first: the timed region
    # must measure the ENCODER (scan -> partition -> codec kernels), not
    # the lazy re-evaluation of the synthetic generator. tmpfs + a full
    # pre-scan keep the throttled sandbox disk out of the timed region.
    tmpdir = "/dev/shm" if os.path.isdir("/dev/shm") else None
    tmp = tempfile.mkdtemp(prefix="pysparkenc-bench-", dir=tmpdir)
    try:
        if input_path is None:
            make_tokens_table(spark, n_rows, seed=42).write.mode(
                "overwrite"
            ).parquet(f"{tmp}/tokens")
            input_path = f"{tmp}/tokens"
        df = spark.read.parquet(input_path)
        total_tokens = df.agg(F.sum("n_tok")).collect()[0][0]
        force(df)  # warm every column into the page cache

        # best-of-k: the sandbox host is shared, so any single run can be
        # slowed arbitrarily by neighbors; the minimum approximates the
        # uncontended wall-clock at this parallelism level
        wall = float("inf")
        for _ in range(max(1, trials)):
            t0 = time.monotonic()
            chunks = encode_table(df, partition_by=("source", "doc_id"))
            agg = chunks.agg(
                F.sum("plain_bytes").alias("plain"),
                F.sum("enc_bytes").alias("enc"),
            ).collect()[0]
            wall = min(wall, time.monotonic() - t0)

        # decode side: materialize encoded chunks once, then time the
        # full chunk-rows -> original-table decode (the reference's only
        # complete direction, file-reader.go — ours is columnar+parallel)
        from pysparkenc.engine import decode_table

        encode_table(df, partition_by=("source", "doc_id")).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/chunks")
        chunks_df = spark.read.parquet(f"{tmp}/chunks")
        force(chunks_df)
        dec_wall = float("inf")
        for _ in range(max(1, trials)):
            t0 = time.monotonic()
            force(decode_table(chunks_df, df.schema))
            dec_wall = min(dec_wall, time.monotonic() - t0)
        return {
            "rows": n_rows,
            "tokens": int(total_tokens),
            "wall_sec": round(wall, 3),
            "tokens_per_sec": round(total_tokens / wall, 1),
            "decode_wall_sec": round(dec_wall, 3),
            "decode_tokens_per_sec": round(total_tokens / dec_wall, 1),
            "plain_bytes": int(agg["plain"]),
            "enc_bytes": int(agg["enc"]),
            "compression_ratio": round(agg["plain"] / max(agg["enc"], 1), 4),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# default bench: headline queries at $SPARK_GRAFT_SF_DIR
# ---------------------------------------------------------------------------

# quadratic / all-pairs ops are run at sf0.01 inputs by the driver's
# correctness gate; at bench scale they'd dominate wall-clock without
# exercising anything new, so the bench runs the scalable headline set.
SKIP_AT_BENCH_SF = {"embedding_near_dup", "ngram_jaccard"}


def run_bench(sf_dir: str, cpus: int) -> dict:
    sys.path.insert(0, REPO)
    import __spark_entry__ as entrymod

    # nproc lies on this sandbox (see BENCH.md host-capacity calibration):
    # ~8-13 effective cores back 32 hyperthread slots, and 32 concurrent
    # Arrow python workers on ~10 real cores degrade 3-8x. Probe the
    # host's REAL capacity right now (it swings 2-3x between runs on the
    # shared VM) and size the session to it — a real cluster sizes
    # executors to physical cores. The probe result is recorded in the
    # output so round-over-round deltas carry their own context.
    probe = [_probe_procs(n) for n in (8, 16)]
    probe = [p for p in probe if p is not None]
    if probe:
        best = max(probe, key=lambda p: p["effective_parallelism"])
        used = min(cpus, best["procs"])
    else:  # pragma: no cover - mp failure fallback
        used = min(cpus, 16)
    spark = make_spark(used)
    timings: dict[str, float] = {}
    # Warm the session before timing: spin up the Python worker pool, JIT
    # the codegen paths, and load the Arrow serde once — otherwise the
    # first query in iteration order absorbs ~10s of fixed startup cost
    # and per-query numbers become sequence-dependent.
    qs = entrymod.queries()
    force(qs["roundtrip_dims"](spark, sf_dir))
    force(qs["token_count"](spark, sf_dir))
    spark.catalog.clearCache()
    # best-of-N passes (default 2): the shared sandbox host has multi-
    # minute contention windows that can tax one section of a single
    # pass 2-3x; per-query min over full passes keeps the recorded
    # number the engine's, not the neighbor's.
    passes = int(os.environ.get("BENCH_PASSES", "2"))
    for _ in range(passes):
        for name, fn in qs.items():
            if name in SKIP_AT_BENCH_SF:
                continue
            t0 = time.monotonic()
            force(fn(spark, sf_dir))
            wall = round(time.monotonic() - t0, 3)
            timings[name] = min(timings.get(name, wall), wall)
            # drop persisted intermediates (LSH band tables, pruned-scan
            # chunks) so queries are timed independently and long sessions
            # don't accumulate MEMORY_AND_DISK blocks.
            spark.catalog.clearCache()

    # best-of-3 trials: the flagship tokens/sec is THE BASELINE.json
    # metric — a single pass can read 20-40% low purely from a neighbor's
    # contention window (observed 2.15M vs 1.74M tok/s across solo runs)
    enc = encode_throughput(spark, 100_000, warmup=False, trials=3)
    timings["flagship_encode_100k_docs"] = enc["wall_sec"]

    spark.stop()

    # isolated re-timings (VERDICT r4 ask #8): the suite runs ~50 queries
    # back-to-back in one session on a shared host, so per-query deltas
    # carry contention + session-history noise. Re-time the most expensive
    # queries each in its OWN fresh subprocess/JVM (warmup excluded the
    # same way the suite excludes it) so round-over-round comparisons of
    # the heavy hitters have a contention-isolated second opinion.
    isolated: dict[str, float] = {}
    if os.environ.get("BENCH_ISOLATED", "1") != "0":
        top = sorted(timings.items(), key=lambda kv: -kv[1])
        top = [n for n, _ in top if n != "flagship_encode_100k_docs"][:5]
        for name in top:
            sec = _isolated_subprocess(name, sf_dir, used)
            if sec is not None:
                isolated[name] = sec

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline query suite wall-clock (encode/decode round-trips, "
        "codec selection, dedup, text, similarity) + flagship encode",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": used,
        "cpus_requested": cpus,
        "host_effective_parallelism": (
            max(p["effective_parallelism"] for p in probe) if probe else None
        ),
        "host_capacity_probe": probe,
        "flagship_tokens": enc["tokens"],
        "tokens_per_sec": enc["tokens_per_sec"],
        "compression_ratio": enc["compression_ratio"],
        "isolated": isolated,
        "isolated_note": "top suite queries re-timed in one fresh "
        "subprocess session each (best-of-2, Python-worker warmup excluded "
        "like the suite). Cold-JVM JIT makes these systematically slower "
        "than the same query inside the 50-query-warmed suite; compare "
        "isolated-vs-isolated across rounds, never isolated-vs-suite",
    }
    return result


def _isolated_subprocess(name: str, sf_dir: str, cpus: int) -> float | None:
    """Run one named query in a fresh python/JVM and return its best-of-2
    wall-clock, or None if the subprocess fails (never fail the bench)."""
    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py"),
             "--isolated-query", name, "--sf-dir", sf_dir,
             "--cpus", str(cpus)],
            capture_output=True, text=True, timeout=900, cwd=REPO,
        )
        line = proc.stdout.strip().splitlines()[-1]
        return float(json.loads(line)["sec"])
    except Exception:  # pragma: no cover - subprocess flake
        return None


def run_isolated_query(name: str, sf_dir: str, cpus: int) -> dict:
    """Worker for the isolated re-timings: fresh session, same warmup
    discipline as the suite (Python worker pool + codegen spun up on two
    cheap queries first), then best-of-2 on the target query alone."""
    sys.path.insert(0, REPO)
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    fn = qs[name]
    spark = make_spark(cpus)
    try:
        force(qs["roundtrip_dims"](spark, sf_dir))
        force(qs["token_count"](spark, sf_dir))
        spark.catalog.clearCache()
        wall = float("inf")
        for _ in range(2):
            t0 = time.monotonic()
            force(fn(spark, sf_dir))
            wall = min(wall, time.monotonic() - t0)
            spark.catalog.clearCache()
        return {"query": name, "sec": round(wall, 3), "cpus": cpus}
    finally:
        spark.stop()


# ---------------------------------------------------------------------------
# skew mode: salted range planning vs naive partition-by-source
# ---------------------------------------------------------------------------

def run_skew(n_rows: int, cpus: int, trials: int = 3) -> dict:
    """Measure what the north_rule's 'salted/range partitioning to defuse
    source-key skew' is actually worth: encode the SAME Zipf-skewed
    tokens table (a) the naive way — one hash partition per source, the
    layout a plain `.repartition(P, "source")` writer produces — and
    (b) through the engine's salted range planner. Reports wall-clock
    and the max/median partition size of each layout. Naive is emulated
    through the public `part_id_col` escape hatch, so both paths run the
    identical encode kernels; only the partitioning differs."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from pysparkenc.engine import encode_table, footer
    from pysparkenc.synth import make_tokens_table

    spark = make_spark(min(cpus, 16))
    parts = 32
    tmpdir = "/dev/shm" if os.path.isdir("/dev/shm") else None
    tmp = tempfile.mkdtemp(prefix="pysparkenc-skew-", dir=tmpdir)
    try:
        make_tokens_table(spark, n_rows, seed=42).write.parquet(f"{tmp}/t")
        df = spark.read.parquet(f"{tmp}/t")
        force(df)
        force(encode_table(make_tokens_table(spark, 2_000, seed=7)))  # warm

        naive_df = df.withColumn(
            "pid", F.pmod(F.abs(F.xxhash64("source")), F.lit(parts))
        )

        def one_pass(make_chunks):
            t0 = time.monotonic()
            chunks = make_chunks()
            sizes = (
                footer(chunks).where(F.col("col") == "tokens")
                .groupBy("part_id")
                .agg(F.sum("n_values").alias("nv"))
                .collect()
            )
            wall = time.monotonic() - t0
            vals = sorted(r["nv"] for r in sizes)
            return {
                "wall_sec": round(wall, 3),
                "partitions": len(vals),
                "max_part_values": int(vals[-1]),
                "median_part_values": int(vals[len(vals) // 2]),
                "skew_factor": round(vals[-1] / max(1, vals[len(vals) // 2]), 2),
            }

        legs = {
            "naive": lambda: encode_table(
                naive_df, part_id_col="pid", num_partitions=parts),
            "salted": lambda: encode_table(
                df, partition_by=("source", "doc_id"), num_partitions=parts),
        }
        best: dict[str, dict] = {}
        # interleave legs best-of-N: shared-host contention must hit every
        # round of BOTH legs to bias the comparison
        for _ in range(max(1, trials)):
            for name, mk in legs.items():
                r = one_pass(mk)
                if name not in best or r["wall_sec"] < best[name]["wall_sec"]:
                    best[name] = r
        naive, salted = best["naive"], best["salted"]
        out = {
            "metric": "encode wall: naive partition-by-source vs salted "
                      "range plan on the Zipf tokens table",
            "rows": n_rows,
            "num_partitions": parts,
            "naive": naive,
            "salted": salted,
            "speedup": round(naive["wall_sec"] / salted["wall_sec"], 3),
        }
        with open(os.path.join(REPO, "BENCH_SKEW.json"), "w") as f:
            json.dump(out, f, indent=1)
        render_bench_md()
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


# ---------------------------------------------------------------------------
# pack-skew mode: single-stream window sort vs auto-sharded packing
# ---------------------------------------------------------------------------

def run_pack_skew(n_rows: int, cpus: int, trials: int = 3) -> dict:
    """Measure what pack_sequences' default auto-sharding is worth on a
    Zipf-skewed source distribution (the r3 VERDICT scale flag: the
    per-group window cumsum sorts each source's whole token stream on
    ONE task). Same table, same seq_len, two layouts: (a) shards=None —
    one sort stream per source, the hottest holding ~42% of all tokens —
    and (b) the default shards='auto' with tokens_per_shard sized so the
    hot source splits across the cluster. Reports wall and the max /
    median tokens per sort stream (the serialization unit)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from pysparkenc.pipeline import pack_sequences
    from pysparkenc.synth import make_tokens_table

    spark = make_spark(min(cpus, 16))
    tmpdir = "/dev/shm" if os.path.isdir("/dev/shm") else None
    tmp = tempfile.mkdtemp(prefix="pysparkenc-packskew-", dir=tmpdir)
    try:
        make_tokens_table(spark, n_rows, seed=42).write.parquet(f"{tmp}/t")
        df = spark.read.parquet(f"{tmp}/t")
        force(df)
        total_tokens = df.agg(F.sum("n_tok")).collect()[0][0]
        # size shards so the WHOLE table would fill ~2 streams per core:
        # the hot source then lands ~0.8x cores streams of its own
        tps = max(1, int(total_tokens) // (2 * min(cpus, 16) * 2))

        def one_pass(shards) -> dict:
            kw = {"shards": shards}
            if shards == "auto":
                kw["tokens_per_shard"] = tps
                kw["size_col"] = "n_tok"  # pre-count reads the scalar
            t0 = time.monotonic()
            packed = pack_sequences(df, 2048, **kw)
            gcols = ["source"] + (["pack_shard"] if shards else [])
            streams = (
                packed.groupBy(*gcols)
                .agg(F.sum("n_tok").alias("nv"))
                .collect()
            )
            wall = time.monotonic() - t0
            vals = sorted(int(r["nv"]) for r in streams)
            return {
                "wall_sec": round(wall, 3),
                "sort_streams": len(vals),
                "max_stream_tokens": vals[-1],
                "median_stream_tokens": vals[len(vals) // 2],
                "skew_factor": round(vals[-1] / max(1, vals[len(vals) // 2]), 2),
            }

        best: dict[str, dict] = {}
        for _ in range(max(1, trials)):
            for name, sh in (("single_stream", None), ("auto_sharded", "auto")):
                r = one_pass(sh)
                if name not in best or r["wall_sec"] < best[name]["wall_sec"]:
                    best[name] = r
        out = {
            "metric": "pack_sequences wall: one window-sort stream per "
                      "source vs default auto-sharding on the Zipf table",
            "rows": n_rows,
            "total_tokens": int(total_tokens),
            "tokens_per_shard": tps,
            "single_stream": best["single_stream"],
            "auto_sharded": best["auto_sharded"],
            "speedup": round(
                best["single_stream"]["wall_sec"]
                / best["auto_sharded"]["wall_sec"], 3),
        }
        with open(os.path.join(REPO, "BENCH_PACK_SKEW.json"), "w") as f:
            json.dump(out, f, indent=1)
        render_bench_md()
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


# ---------------------------------------------------------------------------
# scaling mode: local[8] vs local[32] (N vs 4N stand-in)
# ---------------------------------------------------------------------------

def run_worker(cpus: int, n_rows: int, input_path: str | None = None) -> dict:
    # pin the whole process tree (JVM, python workers) to `cpus` CPUs:
    # a local[N] JVM otherwise spends extra host cores on GC/scan/py4j
    # threads, silently inflating the small leg of the N-vs-4N comparison.
    # A real cluster's executors are exactly this kind of CPU-capped.
    try:
        os.sched_setaffinity(0, set(range(cpus)))
    except (AttributeError, OSError):
        pass
    spark = make_spark(cpus, shuffle_partitions=max(cpus * 2, 16))
    out = encode_throughput(spark, n_rows, trials=3, input_path=input_path)
    out["cpus"] = cpus
    spark.stop()
    return out


def _burn(_):
    import numpy as np

    x = np.random.default_rng(0).integers(0, 1000, 2_000_000)
    for _ in range(40):
        np.sort(x)


def _burn_quick(_):
    import numpy as np

    x = np.random.default_rng(0).integers(0, 1000, 2_000_000)
    for _ in range(8):
        np.sort(x)


_PROBE_BASE: list[float] = []


def _probe_procs(n: int) -> dict | None:
    """Quick capacity probe at one proc count: effective parallelism vs
    a 1-proc baseline (cached per process). ~1-2s per call — cheap
    enough to run at bench start so `cpus` in the output is the
    parallelism the host could actually deliver, not nproc's fiction."""
    import multiprocessing as mp

    try:
        if not _PROBE_BASE:
            t0 = time.monotonic()
            _burn_quick(0)
            _PROBE_BASE.append(time.monotonic() - t0)
        with mp.Pool(n) as p:
            t0 = time.monotonic()
            p.map(_burn_quick, range(n))
            wall = time.monotonic() - t0
        return {
            "procs": n,
            "wall_sec": round(wall, 2),
            "effective_parallelism": round(n * _PROBE_BASE[0] / wall, 2),
        }
    except Exception:  # pragma: no cover
        return None


def host_capacity_probe() -> list[dict]:
    """Measure the sandbox's REAL parallel compute capacity: nproc says 32
    but the VM is overcommitted/shared, delivering ~8-13 cores of actual
    throughput. The N -> 4N pair must sit inside real capacity or the
    measurement reflects the host's CPU scheduler, not the engine."""
    import multiprocessing as mp

    out = []
    base = None
    for n in (1, 2, 4, 8, 16, 32):
        with mp.Pool(n) as p:
            t0 = time.monotonic()
            p.map(_burn, range(n))
            wall = time.monotonic() - t0
        if base is None:
            base = wall
        out.append({"procs": n, "wall_sec": round(wall, 2),
                    "effective_parallelism": round(n * base / wall, 2)})
    return out


def run_scaling(n_rows: int, n_small: int = 2, n_big: int = 8,
                rounds: int = 3) -> dict:
    import shutil
    import tempfile

    capacity = host_capacity_probe()

    # generate the deterministic input ONCE with full parallelism; every
    # leg reads the same files (generation is not part of the metric)
    tmpdir = "/dev/shm" if os.path.isdir("/dev/shm") else None
    shared = tempfile.mkdtemp(prefix="pysparkenc-scaling-", dir=tmpdir)
    spark = make_spark(min(os.cpu_count() or 8, 16))
    from pysparkenc.synth import make_tokens_table

    make_tokens_table(spark, n_rows, seed=42).write.parquet(f"{shared}/tokens")
    spark.stop()

    results: dict[int, dict] = {}
    try:
        # alternate the legs and keep each leg's best: shared-host
        # interference then has to hit BOTH legs to bias the ratio,
        # instead of silently taxing whichever leg ran in a noisy window
        # best-of-N per leg, legs alternated: shared-host interference
        # must hit every round of BOTH legs to bias the ratio
        for _round in range(rounds):
            for cpus in (n_small, n_big):
                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--worker-cpus", str(cpus), "--rows", str(n_rows),
                     "--input-path", f"{shared}/tokens"],
                    capture_output=True, text=True, cwd=REPO, check=True,
                )
                r = json.loads(proc.stdout.strip().splitlines()[-1])
                if cpus not in results or (
                    r["tokens_per_sec"] > results[cpus]["tokens_per_sec"]
                ):
                    results[cpus] = r
    finally:
        shutil.rmtree(shared, ignore_errors=True)
    tp_n = results[n_small]["tokens_per_sec"]
    tp_4n = results[n_big]["tokens_per_sec"]
    factor = n_big / n_small
    eff = round((tp_4n / tp_n) / factor, 4)
    # the host's own ceiling for this window: what a PERFECTLY scaling
    # job could score given the measured effective parallelism at each
    # leg's core count (shared VM — capacity swings 2-3x between runs)
    cap = {c["procs"]: c["effective_parallelism"] for c in capacity}
    cap_ceiling = None
    if n_small in cap and n_big in cap and cap[n_small]:
        cap_ceiling = round((cap[n_big] / cap[n_small]) / factor, 4)
    summary = {
        "metric": f"encode scaling efficiency local[{n_small}] -> "
        f"local[{n_big}] (N -> {factor:.0f}N)",
        "value": eff,
        "unit": "efficiency",
        "rows": n_rows,
        "tokens": results[n_small]["tokens"],
        "n_small": n_small,
        "n_big": n_big,
        "tokens_per_sec_n": tp_n,
        "tokens_per_sec_4n": tp_4n,
        "wall_sec_n": results[n_small]["wall_sec"],
        "wall_sec_4n": results[n_big]["wall_sec"],
        "decode_tokens_per_sec_n": results[n_small]["decode_tokens_per_sec"],
        "decode_tokens_per_sec_4n": results[n_big]["decode_tokens_per_sec"],
        "compression_ratio": results[n_small]["compression_ratio"],
        "host_capacity": capacity,
        "capacity_ceiling": cap_ceiling,
        "passes_0.8": eff >= 0.8,
    }
    write_bench_md(summary)
    return summary


def run_page_sweep(sf_dir: str) -> list[dict]:
    """Ratio/throughput sweep of page sizing (fixed rows_per_chunk vs the
    bytes-targeted auto mode) across three table shapes with very
    different row widths. Persists BENCH_PAGES.json and re-renders the
    BENCH.md section."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from pysparkenc.engine import encode_table
    from pysparkenc.synth import make_tokens_table

    spark = make_spark(min(CPUS, 16))
    force(encode_table(make_tokens_table(spark, 2_000, seed=7)))  # warmup

    tmpdir = "/dev/shm" if os.path.isdir("/dev/shm") else None
    tmp = tempfile.mkdtemp(prefix="pysparkenc-pages-", dir=tmpdir)
    try:
        make_tokens_table(spark, 400_000, seed=42).write.parquet(f"{tmp}/tokens")
        shapes = {
            "tokens (array<int32>, ~300B/row)": spark.read.parquet(f"{tmp}/tokens"),
            "lineitem (16 scalar cols)": spark.read.parquet(
                f"{sf_dir}/lineitem.parquet"
            ),
            "documents (text-heavy, ~KB/row)": spark.read.parquet(
                f"{sf_dir}/documents.parquet"
            ),
        }
        settings = [
            ("rows=2048", {"rows_per_chunk": 2048}),
            ("rows=4096 (default)", {"rows_per_chunk": 4096}),
            ("rows=16384", {"rows_per_chunk": 16384}),
            ("bytes=1MiB", {"target_chunk_bytes": 1 << 20}),
            ("bytes=4MiB", {"target_chunk_bytes": 4 << 20}),
        ]
        for df in shapes.values():
            df.persist().count()
        best: dict[tuple[str, str], dict] = {}
        # two interleaved passes, keep the min wall per combo: shared-host
        # noise must hit the same combo in both passes to bias the sweep
        for _pass in range(2):
            for shape, df in shapes.items():
                for label, kw in settings:
                    t0 = time.monotonic()
                    agg = (
                        encode_table(df, **kw)
                        .agg(F.sum("plain_bytes").alias("p"),
                             F.sum("enc_bytes").alias("e"))
                        .collect()[0]
                    )
                    wall = round(time.monotonic() - t0, 3)
                    r = {"shape": shape, "pages": label, "wall_sec": wall,
                         "ratio": round(agg["p"] / agg["e"], 4)}
                    k = (shape, label)
                    if k not in best or wall < best[k]["wall_sec"]:
                        best[k] = r
        rows = list(best.values())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()
    with open(os.path.join(REPO, "BENCH_PAGES.json"), "w") as f:
        json.dump(rows, f, indent=1)
    render_bench_md()
    return rows


def _skew_section() -> str:
    path = os.path.join(REPO, "BENCH_SKEW.json")
    if not os.path.exists(path):
        return ""
    with open(path) as f:
        s = json.load(f)
    nv, sv = s["naive"], s["salted"]
    return f"""
## Skew defusal: salted range plan vs naive partition-by-source

The north_rule's "explicit salted/range partitioning to defuse
source-key skew", measured (`python bench.py --skew --rows {s['rows']}`,
BENCH_SKEW.json): the same Zipf-skewed tokens table encoded (a) the
naive way — hash(source) % {s['num_partitions']}, the layout a plain
`.repartition({s['num_partitions']}, "source")` writer produces,
emulated through the public `part_id_col` escape hatch so both legs run
identical kernels — and (b) through the engine's planner.

| layout | partitions used | max/median per part | encode wall (s) |
|---|---|---|---|
| naive by-source | {nv['partitions']} of {s['num_partitions']} | **{nv['skew_factor']}x** | {nv['wall_sec']} |
| salted range plan | {sv['partitions']} of {s['num_partitions']} | **{sv['skew_factor']}x** | {sv['wall_sec']} |

{s['speedup']}x faster end-to-end; at 1000 executors the gap is the
difference between a job and a straggler. Two mechanisms
(`plan_partitions` / `encode_table`): buckets planned at 8x
`num_partitions` granularity and striped onto slots round-robin
(`part_id = global_bucket mod n`), and EXACT placement — the
repartition routes through per-slot hash-preimage values (probed once
from `F.hash`, cached), because letting Spark re-hash n dense slot ids
merges ~1/e of them into shared tasks (balls-into-bins) and re-creates
2x hot spots. Balance is the default invariant; per-page source
homogeneity (worth ~+1.9% compression ratio, ~15% wall at 1M rows)
remains available via `sort_by=("source",)`.
"""


def _pack_skew_section() -> str:
    path = os.path.join(REPO, "BENCH_PACK_SKEW.json")
    if not os.path.exists(path):
        return ""
    with open(path) as f:
        s = json.load(f)
    ss, au = s["single_stream"], s["auto_sharded"]
    return f"""
## Pack-sequences skew defusal: auto-sharding the window sort

`pack_sequences` assigns stream offsets with a per-group window cumsum —
one sort stream per group, so a hot source serializes on one task. The
default `shards="auto"` splits each group into
ceil(group_tokens / tokens_per_shard) deterministic hash sub-streams.
Measured (`python bench.py --pack-skew --rows {s['rows']}`,
BENCH_PACK_SKEW.json; {s['total_tokens']:,} tokens, tokens_per_shard
{s['tokens_per_shard']:,}):

| layout | sort streams | max stream tokens | max/median | wall (s) |
|---|---|---|---|---|
| single stream per source | {ss['sort_streams']} | {ss['max_stream_tokens']:,} | {ss['skew_factor']}x | {ss['wall_sec']} |
| auto-sharded (default) | {au['sort_streams']} | {au['max_stream_tokens']:,} | {au['skew_factor']}x | {au['wall_sec']} |

{s['speedup']}x faster end-to-end; the max stream (the one-task
serialization unit) shrinks {round(ss['max_stream_tokens'] / max(1, au['max_stream_tokens']), 1)}x.
At 100 TB with a handful of sources, the unsharded layout IS the job;
sharding makes the sort width track the data, not the group count.
Shard ids are a pure function of (order key, group totals), so outputs
stay reproducible at any parallelism — the SQL oracle re-derives them.
"""


def _pages_section() -> str:
    path = os.path.join(REPO, "BENCH_PAGES.json")
    if not os.path.exists(path):
        return ""
    with open(path) as f:
        rows = json.load(f)
    by_shape: dict[str, list[dict]] = {}
    for r in rows:
        by_shape.setdefault(r["shape"], []).append(r)
    tables = []
    for shape, rs in by_shape.items():
        body = "\n".join(
            f"| {r['pages']} | {r['wall_sec']} | {r['ratio']} |" for r in rs
        )
        tables.append(
            f"**{shape}**\n\n| page sizing | encode wall (s) | ratio |\n"
            f"|---|---|---|\n{body}"
        )
    joined = "\n\n".join(tables)
    return f"""
## Page sizing: fixed rows vs bytes target

`encode_table(..., target_chunk_bytes=N)` sizes pages by their Arrow
byte footprint instead of a fixed row count, so wide tables (lineitem)
and narrow ones land near the same throughput-optimal page bytes.
Best-of-2 interleaved passes per combo ({min(CPUS, 16)} threads):

{joined}

Reproduce: `python bench.py --page-sweep`.
"""


def render_bench_md() -> None:
    path = os.path.join(REPO, "BENCH_SCALING.json")
    if os.path.exists(path):
        with open(path) as f:
            write_bench_md(json.load(f))


# header lines this template writes, matched whole: a hand-written
# section whose header merely starts like one (`## Scaling result
# caveats`) is not the template's and must survive a rewrite
_TEMPLATE_HEADERS = tuple(re.compile(h) for h in (
    r"## Host capacity calibration \(why N=\d+\)",
    r"## Scaling result",
    r"## Quality gates measured alongside throughput",
    r"## Skew defusal: salted range plan vs naive partition-by-source",
    r"## Pack-sequences skew defusal: auto-sharding the window sort",
    r"## Page sizing: fixed rows vs bytes target",
))


def _extra_sections(path: str) -> str:
    """Hand-written BENCH.md sections (anything whose `## ` header line
    is not one this template produces) — preserved verbatim across
    rewrites, so `--scaling` can never clobber results recorded by
    other benches or by hand."""
    if not os.path.exists(path):
        return ""
    text = open(path).read()
    out = []
    for m in re.finditer(r"(?ms)^## .*?(?=^## |\Z)", text):
        sec = m.group(0)
        header = sec.split("\n", 1)[0].rstrip()
        if not any(h.fullmatch(header) for h in _TEMPLATE_HEADERS):
            out.append(sec.rstrip() + "\n")
    return ("\n" + "\n".join(out)) if out else ""


def write_bench_md(s: dict) -> None:
    with open(os.path.join(REPO, "BENCH_SCALING.json"), "w") as f:
        json.dump(s, f, indent=1)
    path = os.path.join(REPO, "BENCH.md")
    extra = _extra_sections(path)
    cap_rows = "\n".join(
        f"| {c['procs']} | {c['wall_sec']} | {c['effective_parallelism']} |"
        for c in s["host_capacity"]
    )
    ns, nb = s["n_small"], s["n_big"]
    body = f"""# BENCH — measured results

Scaling evidence for the north_rule's N -> 4N executor criterion, measured
in-sandbox as the same deterministic encode job (synthetic tokens table,
seed=42, {s['rows']:,} docs / {s['tokens']:,} tokens, salted source+doc_id
partitioning, auto codec selection) at two parallelism levels.

## Host capacity calibration (why N={ns})

`nproc` reports 32, but the sandbox VM is overcommitted: identical
fixed-size numpy workloads in K independent processes measure the REAL
parallel throughput of the host:

| procs | wall (s) | effective parallelism |
|---|---|---|
{cap_rows}

The host delivers roughly 8-13 cores of actual compute, so an 8 -> 32
thread comparison measures the VM's CPU scheduler, not the engine (at 32
threads the same job gets *slower* than at 8). The N -> 4N pair is
therefore local[{ns}] -> local[{nb}] — both inside real capacity, same
4x factor the north_rule asks for.

## Scaling result

| parallelism | encode wall (s) | encode tokens/sec | decode tokens/sec |
|---|---|---|---|
| local[{ns}] (N)  | {s['wall_sec_n']} | {s['tokens_per_sec_n']:,.0f} | {s['decode_tokens_per_sec_n']:,.0f} |
| local[{nb}] (4N) | {s['wall_sec_4n']} | {s['tokens_per_sec_4n']:,.0f} | {s['decode_tokens_per_sec_4n']:,.0f} |

**Scaling efficiency = (tp_4N / tp_N) / 4 = {s['value']}** (target >= 0.8:
{"PASS" if s['passes_0.8'] else "FAIL"}). Legs run interleaved,
best-of-3 each; a super-linear reading means residual shared-host
contention still taxed the small leg. The capacity probe above puts
this window's HOST ceiling — what a perfectly scaling job could score,
(eff_par(4N) / eff_par(N)) / 4 — at
**{s.get('capacity_ceiling', 'n/a')}**; readings track the window's
ceiling, so compare the two before reading a low number as an engine
property.

Note: the timed region must dominate fixed per-job overheads for this
metric to mean anything — at 200k rows the (now much faster) encoder
finishes in ~2s and scheduling noise reads as ~0.4 efficiency; 4M rows
(~300M tokens) keeps the parallel region >90% of wall.

The reference's read path is single-threaded value-at-a-time Go
(file-reader.go:99-107, zero goroutines); its write path is unimplemented
(layout/page.go:23-27). Both directions here are columnar, vectorized, and
parallel.

Compression ratio (plain/encoded, auto-selected codecs): {s['compression_ratio']}.

## Quality gates measured alongside throughput

- ANN recall@5 vs the exact `cosine_topk` scan on the driver embeddings
  at sf0.01: multi-table hyperplane LSH (16 tables x 16 buckets, the
  `ann_lsh_topk` contract configuration) **0.86**; IVF (32 cells,
  probe 12, `ann_ivf_topk`) **0.87**. Floors >= 0.75 pinned in
  `tests/test_ann_recall.py`. Single-table single-probe LSH measured
  0.03-0.2 and was replaced; the table count is near-free (one matmul
  per Arrow batch emits every table's bucket id).
- Auto-selected chunks stay smaller than pyarrow *uncompressed* parquet
  (`tests/test_size_vs_parquet.py`).

Reproduce: `python bench.py --scaling --rows {s['rows']}`.
`python bench.py` ends with a compact headline line and writes the
per-query timings to BENCH_DETAIL.json;
the query suite runs best-of-2 full passes (override with `BENCH_PASSES`)
and the flagship encode best-of-3 trials, because the shared host shows
multi-minute contention windows that can tax one section of a single
pass 2-3x.
{_skew_section()}{_pack_skew_section()}{extra}{_pages_section()}"""
    with open(path, "w") as f:
        f.write(body)


def run_delete_bench(n_rows: int, cpus: int, trials: int = 5) -> dict:
    """What does merge-on-read cost? Encode a tokens table into a
    lineage store, commit an equality delete of ~0.5% of doc_ids
    (a realistic takedown-list scale), then time the SAME full-store
    aggregate (a) at the pre-delete snapshot — the plan with no delete
    joins — and (b) at latest, where the broadcast anti-join applies.
    The delta is the merge-on-read tax a reader pays until the next
    compaction; (c) times the scan after compact_store materializes the
    delete (back to the join-free plan, now with big pages)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from pysparkenc.lineage import (
        compact_store,
        delete_rows,
        encode_with_lineage,
        read_store,
    )
    from pysparkenc.synth import make_tokens_table
    from pysparkenc.textops import portable_hash60

    spark = make_spark(min(cpus, 16))
    tmpdir = "/dev/shm" if os.path.isdir("/dev/shm") else None
    tmp = tempfile.mkdtemp(prefix="pysparkenc-del-", dir=tmpdir)
    try:
        store = f"{tmp}/store"
        df = make_tokens_table(spark, n_rows, seed=42)
        r1 = encode_with_lineage(
            df, store, partition_by=("source", "doc_id"),
            num_partitions=32,
        )["run_id"]
        victims = df.where(
            F.pmod(portable_hash60(F.concat("doc_id", F.lit("d"))),
                   F.lit(200)) == 0
        ).select("doc_id")
        n_del = delete_rows(spark, store, victims)["keys"]

        def one(**kw) -> tuple[float, int]:
            t0 = time.monotonic()
            r = (
                read_store(spark, store, **kw)
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("n_tok").alias("toks"))
                .collect()[0]
            )
            return time.monotonic() - t0, int(r["n"])

        def agg_wall(**kw) -> tuple[float, int]:
            best, rows = 1e9, None
            for _ in range(trials):
                w, n = one(**kw)
                best, rows = min(best, w), n
            return round(best, 3), rows

        # interleave the pre/post-delete legs best-of-N: shared-host
        # contention windows must tax both legs equally or a ~10%
        # effect drowns in noise (same rule as the skew benches)
        w_pre = w_del = 1e9
        n_pre = n_post = 0
        for _ in range(trials):
            w, n_pre = one(as_of_run=r1)   # no delete joins in plan
            w_pre = min(w_pre, w)
            w, n_post = one()              # merge-on-read
            w_del = min(w_del, w)
        w_pre, w_del = round(w_pre, 3), round(w_del, 3)
        compact_store(spark, store, schema=df.schema,
                      partition_by=("source", "doc_id"), num_partitions=32)
        w_cmp, n_cmp = agg_wall()               # materialized
        assert n_post == n_cmp == n_pre - n_del
        return {
            "metric": "equality-delete merge-on-read scan overhead",
            "rows": n_rows,
            "deleted_keys": n_del,
            "scan_pre_delete_sec": w_pre,
            "scan_merge_on_read_sec": w_del,
            "scan_after_compaction_sec": w_cmp,
            "merge_on_read_overhead": round(w_del / max(w_pre, 1e-9), 3),
            "rows_visible": n_post,
            "cpus": min(cpus, 16),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


def run_compact_bench(n_rows: int, cpus: int, n_small: int = 8) -> dict:
    """Does selective compaction's cost scale with the SELECTED subset,
    not the table? Build the shape that motivates it — one big base run
    plus a tail of small streaming-append-sized runs — then (a)
    selectively fold just the tail (``max_run_bytes``) and (b) fully
    compact the same store. Report wall clock and bytes rewritten for
    both: at 100 TB the difference is 'routine maintenance' vs 'rewrite
    the table'."""
    import shutil
    import tempfile

    from pysparkenc.lineage import (
        compact_store,
        encode_with_lineage,
        read_store,
        snapshots,
    )
    from pysparkenc.synth import make_tokens_table

    spark = make_spark(min(cpus, 16))
    tmpdir = "/dev/shm" if os.path.isdir("/dev/shm") else None
    tmp = tempfile.mkdtemp(prefix="pysparkenc-cmp-", dir=tmpdir)
    try:
        from pyspark.sql import functions as F

        store = f"{tmp}/store"
        big = make_tokens_table(spark, n_rows, seed=42)
        encode_with_lineage(big, store, partition_by=("source", "doc_id"),
                            num_partitions=32)
        small_n = max(200, n_rows // 100)
        total_small = 0
        for i in range(n_small):
            s = make_tokens_table(spark, small_n, seed=100 + i).withColumn(
                "doc_id", F.concat(F.lit(f"t{i}-"), F.col("doc_id"))
            )
            encode_with_lineage(s, store, num_partitions=1, resume=False)
            total_small += small_n
        bytes_total = sum(
            int(r["enc_bytes"]) for r in snapshots(spark, store).collect()
            if r["operation"] in ("append", "stream-append")
        )
        # A/B on two byte-identical stores, FULL first: the first
        # compaction also pays session warmup (codegen, worker pool),
        # which must not be charged to the selective leg
        store2 = f"{tmp}/store2"
        shutil.copytree(store, store2)

        t0 = time.monotonic()
        full = compact_store(spark, store2)
        w_full = round(time.monotonic() - t0, 3)
        assert read_store(spark, store2).count() == n_rows + total_small

        t0 = time.monotonic()
        sel = compact_store(spark, store, max_run_bytes=1 << 22)
        w_sel = round(time.monotonic() - t0, 3)
        assert sorted(sel["selected_runs"]) == list(range(2, n_small + 2))
        n_after = read_store(spark, store).count()
        assert n_after == n_rows + total_small

        return {
            "metric": "selective vs full compaction cost",
            "rows_base_run": n_rows,
            "small_runs": n_small,
            "rows_per_small_run": small_n,
            "bytes_total": bytes_total,
            "selective": {
                "bytes_selected": sel["bytes_selected"],
                "frac_of_table": round(
                    sel["bytes_selected"] / max(1, bytes_total), 4
                ),
                "wall_sec": w_sel,
            },
            "full": {
                "bytes_selected": full["bytes_selected"],
                "wall_sec": w_full,
            },
            "selective_speedup": round(w_full / max(w_sel, 1e-9), 2),
            "cpus": min(cpus, 16),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


def run_distinct_bench(n_rows: int, cpus: int, trials: int = 5) -> dict:
    """What the dict-page DISTINCT pushdown is worth: the same exact
    ``SELECT DISTINCT source`` over an encoded 2M-row store answered
    (a) by ``distinct_values`` — footer metadata + aux dict pages, code
    stream never read — and (b) by the naive route, full one-column
    decode then distinct. Interleaved best-of-N legs."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from pysparkenc.engine import decode_table, distinct_values, encode_table

    spark = make_spark(min(cpus, 16))
    tmpdir = "/dev/shm" if os.path.isdir("/dev/shm") else None
    tmp = tempfile.mkdtemp(prefix="pysparkenc-dv-", dir=tmpdir)
    try:
        # the representative shape: a FAT low-cardinality string column
        # (64-byte category labels, ndv 2000) — the enum/vocab audit
        # case. A 4-byte column is overhead-bound either way; a fat one
        # makes the decode-vs-dict-page asymmetry visible.
        df = spark.range(n_rows).select(
            F.col("id"),
            F.concat(
                F.lit("category-" + "x" * 49),
                F.lpad((F.col("id") % 2000).cast("string"), 6, "0"),
            ).alias("category"),
        )
        encode_table(df, num_partitions=32).write.parquet(f"{tmp}/chunks")
        chunks = spark.read.parquet(f"{tmp}/chunks")
        force(chunks.select("part_id"))  # warm footer pages
        from pyspark.sql.types import StructType

        sub = StructType([df.schema["category"]])
        w_fast = w_full = 1e9
        n_fast = n_full = 0
        for _ in range(trials):
            t0 = time.monotonic()
            n_fast = distinct_values(chunks, "category", df.schema).count()
            w_fast = min(w_fast, time.monotonic() - t0)
            t0 = time.monotonic()
            n_full = decode_table(chunks, sub).distinct().count()
            w_full = min(w_full, time.monotonic() - t0)
        assert n_fast == n_full
        return {
            "metric": "dict-page DISTINCT pushdown vs full-column decode",
            "rows": n_rows,
            "ndv": int(n_fast),
            "distinct_values_sec": round(w_fast, 3),
            "full_decode_distinct_sec": round(w_full, 3),
            "speedup": round(w_full / max(w_fast, 1e-9), 2),
            "cpus": min(cpus, 16),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


def emit_headline(result: dict, detail_path: str) -> None:
    """Write the full bench result to ``detail_path`` and print the
    compact headline as the last stdout line."""
    with open(detail_path, "w") as f:
        json.dump(result, f, indent=1)
    head = {k: result.get(k) for k in HEADLINE_KEYS}
    head["detail"] = os.path.basename(detail_path)
    print(json.dumps(head))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--page-sweep", action="store_true")
    ap.add_argument("--skew", action="store_true")
    ap.add_argument("--pack-skew", action="store_true")
    ap.add_argument("--deletes", action="store_true")
    ap.add_argument("--distinct-bench", action="store_true")
    ap.add_argument("--compact-bench", action="store_true")
    ap.add_argument("--scaling-rounds", type=int, default=3)
    ap.add_argument("--rows", type=int, default=200_000)
    ap.add_argument("--worker-cpus", type=int, default=None)
    ap.add_argument("--isolated-query", default=None)
    ap.add_argument("--input-path", default=None)
    ap.add_argument("--sf-dir", default=SF_DIR)
    ap.add_argument("--cpus", type=int, default=CPUS)
    args = ap.parse_args()

    if args.isolated_query is not None:
        out = run_isolated_query(args.isolated_query, args.sf_dir, args.cpus)
    elif args.worker_cpus is not None:
        out = run_worker(args.worker_cpus, args.rows, args.input_path)
    elif args.scaling:
        out = run_scaling(args.rows, rounds=args.scaling_rounds)
    elif args.page_sweep:
        out = run_page_sweep(args.sf_dir)
    elif args.skew:
        out = run_skew(args.rows, args.cpus)
    elif args.pack_skew:
        out = run_pack_skew(args.rows, args.cpus)
    elif args.deletes:
        out = run_delete_bench(args.rows, args.cpus)
    elif args.distinct_bench:
        out = run_distinct_bench(args.rows, args.cpus)
    elif args.compact_bench:
        out = run_compact_bench(args.rows, args.cpus)
    else:
        emit_headline(run_bench(args.sf_dir, args.cpus),
                      os.path.join(REPO, "BENCH_DETAIL.json"))
        return
    print(json.dumps(out))


if __name__ == "__main__":
    main()
