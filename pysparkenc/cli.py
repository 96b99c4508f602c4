"""spark-submit entrypoint (north_rule: "run via spark-submit --py-files
on a multi-executor cluster").

Usage (cluster) — spark-submit takes a primary script, not a module flag,
so ship a two-line entry script alongside the zipped package:

    zip -r pysparkenc.zip pysparkenc
    printf 'from pysparkenc.cli import main\nraise SystemExit(main())\n' \
        > run_pysparkenc.py
    spark-submit --py-files pysparkenc.zip run_pysparkenc.py encode \
        --input  s3://bucket/tokens_table/ \
        --output s3://bucket/encoded/ \
        --partition-by source,doc_id --num-partitions 4096 --resume

Local runs: ``python -m pysparkenc.cli encode ...``.

Subcommands:
    encode  parquet/Iceberg table -> encoded chunks + lineage (resumable)
    decode  committed chunks -> parquet table
    delete  equality delete: retract rows matching a parquet file of
            key tuples — no chunk rewrite (Iceberg v2-style, sequenced
            so later re-appends of the same key survive)
    upsert  MERGE-lite replace-by-key: delete the data file's keys,
            append its rows (existing keys update, new keys insert)
    verify  decode + anti-join against the original; exit 1 on mismatch
    audit   distributed integrity fsck of a chunk store (CRC32 + kernel
            decode + footer-stat containment per chunk); exit 1 on corrupt
    history snapshot log of a store, one JSON row per committed run;
            pair with ``decode --as-of-run`` for VERSION AS OF reads
    stats   per-column codec mix / sizes / ratio + exact count/sum/
            min/max for int columns — footer metadata only, no decode

No master/parallelism is hard-coded: spark-submit owns the cluster shape,
which is how the same job runs at N and 4N executors for the scaling
criterion (evidenced in-sandbox by bench.py --scaling at local[8]/local[32]).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession, functions as F

from . import datasource
from .engine import aggregate_chunks, audit_chunks, count_rows
from .lineage import (
    delete_rows,
    encode_with_lineage,
    read_committed_chunks,
    read_store,
    snapshots,
    store_distinct_values,
    upsert_rows,
)


def _session(app: str) -> SparkSession:
    return SparkSession.builder.appName(app).getOrCreate()


def _parse_partition_by(s: str | None) -> tuple[str, ...] | None:
    if not s:
        return None
    return tuple(c.strip() for c in s.split(",") if c.strip())


def _parse_where(exprs: list[str]) -> list[tuple]:
    """Parse ``col OP value`` predicate strings for :func:`scan_table`.

    OP is one of ``== != in >= <= > < between``; value is JSON (bare words fall
    back to strings, so ``l_returnflag == A`` works without quoting).
    ``in`` takes a JSON list, ``between`` a two-element JSON list.
    """
    out: list[tuple] = []
    for expr in exprs:
        parts = expr.split(None, 2)
        if len(parts) != 3:
            raise ValueError(
                f"predicate must be 'col OP value': {expr!r}")
        col, op, raw = parts
        try:
            val = json.loads(raw)
        except json.JSONDecodeError:
            val = raw
        if op == "between":
            if not isinstance(val, list) or len(val) != 2:
                raise ValueError(
                    f"between needs a two-element JSON list: {expr!r}")
            val = tuple(val)
        out.append((col, op, val))
    return out


def cmd_encode(args: argparse.Namespace) -> int:
    spark = _session("pysparkenc-encode")
    df = spark.read.parquet(args.input)
    if args.columns:
        df = df.select(*[c.strip() for c in args.columns.split(",")])
    metrics = encode_with_lineage(
        df,
        args.output,
        partition_by=_parse_partition_by(args.partition_by),
        num_partitions=args.num_partitions,
        codec=None if args.codec in (None, "auto") else args.codec,
        compression=None if args.compression in (None, "none") else args.compression,
        rows_per_chunk=args.rows_per_chunk,
        target_chunk_bytes=args.target_chunk_bytes,
        sort_by=_parse_partition_by(args.sort_by),
        bloom=_parse_partition_by(args.bloom),
        resume=args.resume,
    )
    print(json.dumps(metrics))
    return 0


def cmd_decode(args: argparse.Namespace) -> int:
    spark = _session("pysparkenc-decode")
    want = (
        [c.strip() for c in args.columns.split(",") if c.strip()]
        if args.columns
        else None
    )
    where = ()
    if args.where:
        try:
            where = _parse_where(args.where)
        except ValueError as e:
            print(json.dumps({"error": str(e)}), file=sys.stderr)
            return 2
    try:
        # read_store = scan + pruning + equality deletes, snapshot-scoped
        decoded = read_store(
            spark, args.input, as_of_run=args.as_of_run,
            columns=want, where=where,
        )
    except (KeyError, ValueError) as e:
        # unknown column (KeyError) or unsupported predicate op
        # (ValueError): JSON error + exit 2, never a traceback
        print(json.dumps({"error": str(e)}), file=sys.stderr)
        return 2
    decoded.write.mode(args.mode).parquet(args.output)
    print(json.dumps({"rows": spark.read.parquet(args.output).count()}))
    return 0


def cmd_delete(args: argparse.Namespace) -> int:
    spark = _session("pysparkenc-delete")
    keys = spark.read.parquet(args.keys)
    key_cols = tuple(
        c.strip() for c in args.key_cols.split(",") if c.strip()
    )
    print(json.dumps(
        delete_rows(spark, args.input, keys, key_cols=key_cols)
    ))
    return 0


def cmd_upsert(args: argparse.Namespace) -> int:
    spark = _session("pysparkenc-upsert")
    df = spark.read.parquet(args.data)
    key_cols = tuple(
        c.strip() for c in args.key_cols.split(",") if c.strip()
    )
    print(json.dumps(upsert_rows(
        spark, args.input, df, key_cols=key_cols,
        partition_by=_parse_partition_by(args.partition_by),
        num_partitions=args.num_partitions,
    )))
    return 0


def cmd_verify(args: argparse.Namespace) -> int:
    spark = _session("pysparkenc-verify")
    orig = spark.read.parquet(args.original)
    decoded = read_store(spark, args.encoded, orig.schema)
    key = args.key
    cols = [c for c in orig.columns if c != key]
    joined = decoded.alias("d").join(orig.alias("o"), key, "full_outer")
    mismatch = joined.where(
        F.coalesce(
            ~F.struct(*[F.col(f"d.{c}") for c in cols]).eqNullSafe(
                F.struct(*[F.col(f"o.{c}") for c in cols])
            ),
            F.lit(True),  # key present on only one side
        )
    ).count()
    total = orig.count()
    print(json.dumps({"rows": total, "mismatches": mismatch}))
    return 0 if mismatch == 0 else 1


def cmd_history(args: argparse.Namespace) -> int:
    spark = _session("pysparkenc-history")
    for r in snapshots(spark, args.input).collect():
        print(json.dumps(r.asDict()))
    return 0


def cmd_stats(args: argparse.Namespace) -> int:
    """Per-column store statistics from footer metadata only — codec
    mix, sizes/ratio, and (for int columns) exact count/sum/min/max via
    the aggregate pushdown; the payload is never decoded.

    On a store with committed-but-unmaterialized equality deletes the
    figures are PHYSICAL (pre-delete): metadata cannot know which rows
    an anti-join would drop. The report says so explicitly (a
    ``pending_deletes`` header line) instead of letting a takedown-era
    store silently report pre-takedown counts; compaction re-aligns
    metadata with the visible table."""
    spark = _session("pysparkenc-stats")
    chunks = read_committed_chunks(spark, args.input)
    print(json.dumps({"total_rows": count_rows(chunks)}))
    _, dels = datasource._lineage_plan(args.input)
    dels = datasource._delete_sets(args.input, dels)
    if dels:
        note = ("figures below are physical (pre-delete); run "
                "compact to materialize")
        if args.distinct and args.visible:
            note += ("; the --distinct line is the exception — it is "
                     "visible-table (deletes applied)")
        print(json.dumps({
            "pending_deletes": len(dels),
            "pending_delete_keys": sum(
                datasource._parquet_rows(d) for _, d, _ in dels),
            "note": note,
        }))
    meta = chunks.groupBy("col").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_values").alias("n_values"),
        F.sum("plain_bytes").alias("plain_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
        F.sort_array(F.collect_set("codec")).alias("codecs"),
    )
    # collect the metadata aggregation ONCE; the column list and the
    # report loop both reuse it (a second collect would recompute the
    # whole groupBy against the store)
    meta_rows = meta.collect()
    aggs = {
        r["col"]: r
        for r in aggregate_chunks(
            chunks, [r["col"] for r in meta_rows]
        ).collect()
    }
    for r in sorted(meta_rows, key=lambda r: r["col"]):
        row = {
            "col": r["col"],
            "n_chunks": r["n_chunks"],
            "n_values": r["n_values"],
            "codecs": list(r["codecs"]),
            "plain_bytes": r["plain_bytes"],
            "enc_bytes": r["enc_bytes"],
            "ratio": round(r["plain_bytes"] / max(1, r["enc_bytes"]), 4),
        }
        a = aggs.get(r["col"])
        if a is not None and a["min_val"] is not None:
            row["min"] = a["min_val"]
            row["max"] = a["max_val"]
            if a["sum_val"] is not None:
                row["sum"] = a["sum_val"]
        print(json.dumps(row))
    if args.distinct:
        try:
            # --visible: committed equality deletes apply (the column
            # decodes through read_store while any is pending); both
            # modes reject unknown/nested columns identically (exit 2)
            dv = store_distinct_values(spark, args.input, args.distinct,
                                       visible=args.visible)
        except (KeyError, TypeError) as e:
            # unknown / nested column: JSON error + exit 2, no traceback
            # (the cmd_decode convention)
            print(json.dumps({"error": str(e)}), file=sys.stderr)
            return 2
        # persist: count + sample must not run the dict-page scan and
        # the fallback decode twice
        dv = dv.persist()
        try:
            ndv = dv.count()
            sample = sorted(
                "NULL" if r[0] is None else str(r[0])
                for r in dv.limit(25).collect()
            )
        finally:
            dv.unpersist()
        print(json.dumps({
            "distinct_col": args.distinct,
            "ndv": int(ndv),
            "sample": sample,
        }))
    return 0


def cmd_compact(args: argparse.Namespace) -> int:
    """Rewrite the store's visible data as one fresh run with big pages
    (Iceberg rewrite_data_files analogue); optionally expire the
    superseded runs' files afterwards (drops their time travel)."""
    from pysparkenc.lineage import compact_store, expire_runs

    spark = _session("pysparkenc-compact")
    runs = None
    if args.runs:
        runs = tuple(int(r) for r in args.runs.split(","))
    out = compact_store(
        spark, args.input,
        partition_by=_parse_partition_by(args.partition_by),
        num_partitions=args.num_partitions,
        target_chunk_bytes=args.target_chunk_bytes,
        sort_by=_parse_partition_by(args.sort_by),
        runs=runs,
        max_run_bytes=args.max_run_bytes,
    )
    if args.expire:
        out["expired"] = expire_runs(spark, args.input)["expired_runs"]
    print(json.dumps(out))
    return 0


def cmd_vacuum(args: argparse.Namespace) -> int:
    """Reclaim orphaned run directories (a writer killed between its
    rename into the run dir and its lineage commit), stale staged files
    under _staging/ (killed write tasks) and the stale _temporary job
    dirs of stores written before every write staged with pyarrow.
    Readers never see these; vacuum frees the bytes."""
    from pysparkenc.lineage import vacuum_store

    spark = _session("pysparkenc-vacuum")
    out = vacuum_store(spark, args.input, grace_sec=args.grace_sec)
    print(json.dumps(out))
    return 0


def cmd_audit(args: argparse.Namespace) -> int:
    spark = _session("pysparkenc-audit")
    chunks = spark.read.parquet(args.input)
    report = audit_chunks(chunks)
    agg = report.groupBy("status").count().collect()
    by_status = {r["status"]: r["count"] for r in agg}
    corrupt = int(by_status.get("corrupt", 0))
    print(json.dumps({"chunks": int(sum(by_status.values())),
                      "corrupt": corrupt}))
    if corrupt:
        for r in report.where(F.col("status") == "corrupt").take(20):
            print(json.dumps({k: r[k] for k in
                              ("part_id", "chunk_id", "col", "error")}),
                  file=sys.stderr)
    return 1 if corrupt else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="pysparkenc")
    sub = ap.add_subparsers(dest="cmd", required=True)

    enc = sub.add_parser("encode")
    enc.add_argument("--input", required=True)
    enc.add_argument("--output", required=True)
    enc.add_argument("--partition-by", default=None)
    enc.add_argument("--num-partitions", type=int, default=None)
    enc.add_argument("--codec", default="auto")
    enc.add_argument("--compression", default="none")
    enc.add_argument("--rows-per-chunk", type=int, default=4096)
    enc.add_argument("--target-chunk-bytes", type=int, default=None,
                     help="size pages by Arrow bytes instead of rows")
    enc.add_argument("--sort-by", default=None,
                     help="cluster rows inside each partition before "
                          "chunking (local sort, no shuffle) — longer "
                          "runs / smaller deltas for the codecs")
    enc.add_argument("--bloom", default=None,
                     help="comma-separated chunk paths to cover with "
                          "split-block bloom filters (decisive equality/IN "
                          "pruning on high-cardinality columns)")
    enc.add_argument("--columns", default=None)
    enc.add_argument("--resume", action=argparse.BooleanOptionalAction,
                     default=True)
    enc.set_defaults(fn=cmd_encode)

    dec = sub.add_parser("decode")
    dec.add_argument("--input", required=True)
    dec.add_argument("--output", required=True)
    dec.add_argument("--mode", default="overwrite")
    dec.add_argument("--columns", default=None,
                     help="comma-separated projection; the chunk scan is "
                          "filtered to exactly these columns' chunks "
                          "before any decode")
    dec.add_argument("--as-of-run", type=int, default=None,
                     help="snapshot time travel: decode the table as it "
                          "was when this run committed (VERSION AS OF)")
    dec.add_argument("--where", action="append", default=[],
                     metavar="'COL OP VALUE'",
                     help="repeatable ANDed predicate ('l_orderkey >= 100', "
                          "'flag == A', 'k in [1,2]', 'k between [5,9]'); "
                          "each routes through the strongest chunk pruning "
                          "pass (stats/dict/bloom) before any decode")
    dec.set_defaults(fn=cmd_decode)

    stt = sub.add_parser("stats")
    stt.add_argument("--input", required=True,
                     help="encoded store path; one JSON row per column "
                          "from footer metadata only (no payload decode)")
    stt.add_argument("--distinct", default=None, metavar="COL",
                     help="also report COL's exact distinct count + a "
                          "25-value sample, answered from dictionary "
                          "pages wherever chunks dict-encode (physical "
                          "store: pending deletes still included)")
    stt.add_argument("--visible", action="store_true",
                     help="with --distinct: compute over the VISIBLE "
                          "table (equality deletes applied); the column "
                          "decodes instead of the dict-page fast path "
                          "while deletes are pending")
    stt.set_defaults(fn=cmd_stats)

    his = sub.add_parser("history")
    his.add_argument("--input", required=True,
                     help="encoded store path; prints one JSON snapshot "
                          "row per committed run, newest first")
    his.set_defaults(fn=cmd_history)

    dl = sub.add_parser("delete")
    dl.add_argument("--input", required=True, help="encoded store path")
    dl.add_argument("--keys", required=True,
                    help="parquet path holding the key tuples to retract")
    dl.add_argument("--key-cols", default="doc_id",
                    help="comma-separated equality-delete key columns "
                         "(must exist in both the keys file and the store)")
    dl.set_defaults(fn=cmd_delete)

    up = sub.add_parser("upsert")
    up.add_argument("--input", required=True, help="encoded store path")
    up.add_argument("--data", required=True,
                    help="parquet path of replacement rows")
    up.add_argument("--key-cols", default="doc_id")
    up.add_argument("--partition-by", default=None)
    up.add_argument("--num-partitions", type=int, default=None)
    up.set_defaults(fn=cmd_upsert)

    ver = sub.add_parser("verify")
    ver.add_argument("--original", required=True)
    ver.add_argument("--encoded", required=True)
    ver.add_argument("--key", default="doc_id")
    ver.set_defaults(fn=cmd_verify)

    aud = sub.add_parser("audit")
    aud.add_argument("--input", required=True,
                     help="chunk parquet path (a store's chunks dir works)")
    aud.set_defaults(fn=cmd_audit)

    cmp_ = sub.add_parser("compact")
    cmp_.add_argument("--input", required=True, help="encoded store path")
    cmp_.add_argument("--partition-by", default=None)
    cmp_.add_argument("--sort-by", default=None)
    cmp_.add_argument("--num-partitions", type=int, default=None)
    cmp_.add_argument("--target-chunk-bytes", type=int, default=1 << 20)
    cmp_.add_argument("--expire", action="store_true",
                      help="also delete superseded runs' chunk files "
                           "(drops time travel to them)")
    cmp_.add_argument("--runs", default=None,
                      help="selective: comma-separated run ids to rewrite "
                           "(untouched runs are never read)")
    cmp_.add_argument("--max-run-bytes", type=int, default=None,
                      help="selective: rewrite every live run whose "
                           "committed encoded bytes are below N")
    cmp_.set_defaults(fn=cmd_compact)

    vac = sub.add_parser("vacuum")
    vac.add_argument("--input", required=True, help="encoded store path")
    vac.add_argument("--grace-sec", type=float, default=86400.0,
                     help="keep directories whose newest file is younger "
                          "than this (protects in-flight writers)")
    vac.set_defaults(fn=cmd_vacuum)

    args = ap.parse_args(argv)
    if getattr(args, "visible", False) and not getattr(args, "distinct", None):
        ap.error("--visible requires --distinct")
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
