"""Structured Streaming ingest -> encode.

The reference library has no streaming constructs (SURVEY.md §2.4); this
is the Spark-native extension a continuously-growing 10^12-sequence corpus
needs: new token files land in a directory (or Kafka/Iceberg feed), each
micro-batch is encoded with the full batch engine — salted partitioning,
codec auto-selection, per-partition lineage — via ``foreachBatch``.

Both streaming paths commit lineage runs: :func:`encode_stream` here,
and ``writeStream.format("pysparkenc")`` (one run per micro-batch, its
rows encoded per task without the partition plan);
``readStream.format("pysparkenc")`` tails the committed append runs
(:class:`pysparkenc.datasource.ChunkStoreStreamReader`). Exactly-once
comes from three cooperating mechanisms:
- Spark's streaming checkpoint replays a failed micro-batch;
- the lineage commit protocol (chunks first, lineage row after) makes a
  *partially-written* batch's orphan chunks invisible to readers
  (every read plans from ``datasource._lineage_plan``);
- per-``batch_id`` idempotency closes the remaining at-least-once window:
  if a batch fully committed but the job died before Spark persisted the
  checkpoint offset, the replayed batch finds its done lineage rows and
  no-ops instead of committing twice (``datasource._batch_committed``,
  the rule both paths share). Batch ids restart with each query, so a
  store takes one streaming query.

``foreachBatch`` (not a streaming mapInArrow) is deliberate: the skew plan
in ``plan_partitions`` needs a per-batch aggregate, which is exactly the
micro-batch boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .lineage import encode_with_lineage


def windowed_counts(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    window: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling-window counts + sums per key — the standard streaming
    aggregation shape (event-time windows, late data bounded by the
    watermark), written so the SAME expression runs in batch and in
    Structured Streaming:

    - batch: leave ``watermark=None``; the result is a plain groupBy and
      carries a full SQL oracle (``event_window_counts``).
    - streaming: pass e.g. ``watermark="2 hours"``; events later than
      the watermark are dropped, windows finalize incrementally, and the
      state store holds only open windows (bounded memory at any rate).

    Sums are emitted as exact integer cents (``sum_cents``) rather than
    a float sum: double addition is order-dependent, and this operator's
    contract is value-hash equality across engines and parallelism.
    """
    d = df
    if watermark is not None:
        d = d.withWatermark(ts_col, watermark)
    return (
        d.groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.round(F.col(value_col) * 100).cast("long"))
            .cast("long")
            .alias("sum_cents"),
        )
        .select(
            F.col(key_col),
            F.col("w.start").alias("window_start"),
            "n_events",
            "sum_cents",
        )
    )


def encode_stream(
    stream_df: DataFrame,
    path: str,
    *,
    checkpoint: str,
    partition_by: tuple[str, ...] | None = None,
    num_partitions: int | None = None,
    codec: str | dict[str, str] | None = None,
    available_now: bool = True,
):
    """Start a streaming query encoding each micro-batch into ``path``.

    ``available_now=True`` drains everything currently available and stops
    (the batch-backfill trigger); pass False for a continuous micro-batch
    stream. Returns the StreamingQuery; callers ``awaitTermination()``.
    """
    if not stream_df.isStreaming:
        raise ValueError("encode_stream needs a streaming DataFrame "
                         "(spark.readStream...)")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # resume=False: each micro-batch is new data; dedup across replays
        # is handled per batch_id — foreachBatch is at-least-once, so a
        # replay of a fully-committed batch (checkpoint offset lost after
        # the lineage commit) must no-op instead of double-encoding.
        encode_with_lineage(
            batch_df,
            path,
            partition_by=partition_by,
            num_partitions=num_partitions,
            codec=codec,
            resume=False,
            batch_id=batch_id,
        )

    writer = stream_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sessionize_stream(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming gap-based sessionization — the custom STATEFUL operator
    (``applyInPandasWithState``) the batch window trick cannot express
    incrementally: one open session per user lives in the state store;
    closed sessions emit as soon as the event-time watermark passes
    ``session_end + gap`` (event-time timeout), so output latency and
    state size are both bounded (O(1) per active user — never the
    event history).

    Semantics match :func:`pysparkenc.events.sessionize` row-for-row for
    every session the stream CLOSES: same gap rule, same integer-cents
    sums, and the same per-user ordinal ``session_id`` (sessions close
    in event-time order, so the ordinal is a running count in state).
    Still-open sessions at end-of-stream remain in state (a terminating
    run can flush them by advancing the watermark with a sentinel batch).
    Late events beyond the watermark are dropped by Spark upstream;
    within-lateness stragglers that arrive AFTER their session's close
    decision start a new session — the standard eager-emission tradeoff
    of event-time timeouts.

    Inside each micro-batch the work is vectorized: events sort once,
    session boundaries come from one ``diff > gap`` compare, and the
    per-session aggregates from ``np.add.reduceat`` — the per-row loop
    the reference's value-at-a-time design would force never appears.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    gap_us = int(gap_minutes) * 60 * 1_000_000
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_id", LongType()),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
            StructField("sum_cents", LongType()),
            StructField("duration_sec", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_us", LongType()),
            StructField("last_us", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_cents", LongType()),
            StructField("ordinal", LongType()),
        ]
    )

    def _row(user, k, s_us, e_us, n, cents):
        return {
            "user_id": user,
            "session_id": k,
            "session_start": pd.Timestamp(s_us, unit="us"),
            "session_end": pd.Timestamp(e_us, unit="us"),
            "n_events": n,
            "sum_cents": cents,
            "duration_sec": e_us // 1_000_000 - s_us // 1_000_000,
        }

    def fn(key, pdfs, state):
        (user,) = key
        if state.hasTimedOut:
            s_us, l_us, n, cents, k = state.get
            state.remove()
            yield pd.DataFrame([_row(user, k, s_us, l_us, n, cents)])
            return
        batches = [p for p in pdfs if len(p)]
        if not batches:
            return
        pdf = pd.concat(batches).sort_values(ts_col, kind="mergesort")
        ts_us = (pdf[ts_col].astype("int64") // 1000).to_numpy()
        cents = np.round(pdf[value_col].to_numpy() * 100).astype(np.int64)
        out = []
        if state.exists:
            s_us, l_us, n0, c0, k = state.get
            # cross-batch stragglers older than the open session's last
            # event clamp forward (watermark bounds how old they can be)
            ts_us = np.maximum(ts_us, l_us)
            cont = ts_us[0] - l_us <= gap_us
            if not cont:
                # a new event past the gap closes the open session NOW —
                # waiting for the timeout would both delay the emission
                # and corrupt the ordinal when this batch opens new ones
                out.append(_row(user, k, s_us, l_us, n0, c0))
                k += 1
        else:
            s_us, l_us, n0, c0, k = 0, 0, 0, 0, 1
            cont = False
        new = np.zeros(ts_us.size, dtype=bool)
        new[0] = not cont
        new[1:] = np.diff(ts_us) > gap_us
        starts = np.flatnonzero(new)
        seg_at = np.concatenate(([0], starts)) if cont else starts
        seg_n = np.diff(np.concatenate((seg_at, [ts_us.size])))
        seg_cents = np.add.reduceat(cents, seg_at)
        for i in range(seg_at.size):
            a = seg_at[i]
            b = a + seg_n[i]
            if i == 0 and cont:
                seg = (s_us, int(ts_us[b - 1]), n0 + int(seg_n[i]),
                       c0 + int(seg_cents[i]))
            else:
                seg = (int(ts_us[a]), int(ts_us[b - 1]), int(seg_n[i]),
                       int(seg_cents[i]))
            if i < seg_at.size - 1:  # closed within this batch
                out.append(_row(user, k, *seg))
                k += 1
            else:  # trailing segment stays open in state
                state.update((seg[0], seg[1], seg[2], seg[3], k))
                state.setTimeoutTimestamp((seg[1] + gap_us) // 1000)
        if out:
            yield pd.DataFrame(out)

    d = df.withWatermark(ts_col, watermark)
    return (
        d.select(user_col, ts_col, value_col)
        .groupBy(user_col)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
