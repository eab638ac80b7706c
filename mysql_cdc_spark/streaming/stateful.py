"""Streaming transaction assembly as a custom stateful streaming
operator (`applyInPandasWithState`), kept because no built-in
aggregate expresses "emit when the XID event arrives, never emit an
uncommitted buffer" (SURVEY §2.6).  Per-key latest state goes through
the declarative aggregate (`cdc_stream_latest_state_agg`) or the
durable `StateTable` MERGE instead.

The reference assembles a commit by buffering row events until the XID
event arrives on its serial tail (mysql_binlog.clj:393-394, :730-733);
this is the same semantics as a STREAMING operator: per-log_file state
buffers the open transaction, the commit is emitted exactly once when
its XID event is folded, and abandoned partial transactions (a server
that died before commit, a log that ends mid-transaction) are GARBAGE
COLLECTED by an EVENT-TIME (watermark) timeout — state cannot be
allowed to hold a dead transaction forever.

Ordering: a binlog is SERIAL per file (commit boundaries are
positions), so assembly is inherently per-log_file sequential.  The
operator is robust to ARBITRARY arrival disorder via a gap-aware
reorder buffer: events fold into the open transaction only in dense
`offset` order (the envelope's per-file sequence is dense — changes()
offsets and envelope_records seq both are); an event past a gap waits
in state until the gap fills.  The assembly cursor starts at the
smallest offset of the key's first delivery.

Scale note: state per key = open transaction accumulator + reorder
holdback (empty under in-order delivery, the tailer's guarantee).
Parallelism is across log files / servers — WITHIN a file, transaction
assembly is not parallelizable by definition (commit boundaries are
sequential); the batch twin (operators/transactions.py
events_per_transaction) gets parallelism from the prefix-scan instead
and is the default for bounded replays.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

TXN_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("log_file", T.StringType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("first_offset", T.LongType(), False),
        T.StructField("last_offset", T.LongType(), False),
        T.StructField("xid", T.LongType(), True),
        T.StructField("has_update", T.LongType(), False),
    ]
)

TXN_STATE_SCHEMA = T.StructType(
    [
        T.StructField("next_off", T.LongType(), False),
        T.StructField("open_n", T.LongType(), False),
        T.StructField("open_first", T.LongType(), True),
        T.StructField("open_upd", T.LongType(), False),
        T.StructField("buf_off", T.ArrayType(T.LongType()), False),
        T.StructField("buf_op", T.ArrayType(T.StringType()), False),
        T.StructField("buf_xid", T.ArrayType(T.LongType(), containsNull=True), False),
    ]
)

# Abandoned-transaction GC gap (EVENT time): a partial transaction
# whose newest event is `gc_gap_ms` older than the watermark is
# abandoned.  Event-time (not processing-time) timeouts are load-
# bearing twice over: abandonment is a property of the LOG's clock
# (a server that died mid-transaction), and Spark's ProcessingTime
# timeouts force `shouldRunAnotherBatch` to stay true forever —
# an availableNow drain would never terminate (measured: 45+ empty
# no-data batches after state reached zero).
TXN_GC_GAP_MS = 60_000


def _txn_update_fn_factory(gc_gap_ms: int):
    def _txn_update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # Watermark GC: no commit arrived within the gap of the
            # log's own clock — drop the uncommitted buffer (the
            # reference would block forever on its serial read; a
            # fleet tail must reclaim the state).
            state.remove()
            return
        if state.exists:
            next_off, open_n, open_first, open_upd, b_off, b_op, b_xid = state.get
            buf = {
                int(o): (op, None if x is None else int(x))
                for o, op, x in zip(b_off, b_op, b_xid)
            }
        else:
            next_off, open_n, open_first, open_upd, buf = None, 0, None, 0, {}
        max_ts_ms = None
        for pdf in pdfs:
            for off, op, xid in zip(pdf["offset"], pdf["op"], pdf["xid"]):
                buf[int(off)] = (str(op), None if pd.isna(xid) else int(xid))
            if len(pdf):
                batch_max = pdf["ts"].max()
                if not pd.isna(batch_max):
                    ms = int(pd.Timestamp(batch_max).value // 1_000_000)
                    max_ts_ms = ms if max_ts_ms is None else max(max_ts_ms, ms)
        if next_off is None and buf:
            next_off = min(buf)
        out: list[tuple] = []
        log_file = key[0]
        while next_off in buf:
            op, xid = buf.pop(next_off)
            if open_first is None:
                open_first = next_off
            open_n += 1
            if op == "update_rows":
                open_upd = 1
            if op == "xid":
                out.append((log_file, open_n, open_first, next_off, xid, open_upd))
                open_n, open_first, open_upd = 0, None, 0
            next_off += 1
        if open_n == 0 and not buf:
            # Batch ended exactly on a commit boundary: nothing worth
            # keeping (the cursor re-initializes from the next
            # delivery's minimum).  Removing eagerly keeps state ∝
            # OPEN transactions only and leaves no timers behind, so
            # a finite drain terminates as soon as its data does.
            if state.exists:
                state.remove()
        else:
            items = sorted(buf.items())
            state.update((
                int(next_off), int(open_n),
                None if open_first is None else int(open_first), int(open_upd),
                [o for o, _ in items], [v[0] for _, v in items],
                [v[1] for _, v in items],
            ))
            # Abandonment clock: the key's newest event time + gap,
            # clamped above the current watermark (the engine rejects
            # timestamps at or below it).
            wm = state.getCurrentWatermarkMs()
            base = wm if max_ts_ms is None else max(max_ts_ms, wm)
            state.setTimeoutTimestamp(max(base + gc_gap_ms, wm + 1))
        if out:
            yield pd.DataFrame(
                out,
                columns=["log_file", "n_events", "first_offset",
                         "last_offset", "xid", "has_update"],
            )

    return _txn_update


def txn_events_stateful(
    env_stream: DataFrame,
    gc_gap_ms: int = TXN_GC_GAP_MS,
    watermark_delay: str = "24 hours",
) -> DataFrame:
    """Streaming transaction assembly: one output row per COMMITTED
    transaction (n_events, first/last offset, xid, has_update —
    matching the batch `events_per_transaction` group shape), emitted
    in the micro-batch whose events completed it; uncommitted buffers
    never emit and are GC'd when the watermark passes their newest
    event by `gc_gap_ms`.  Append output mode: each commit is emitted
    exactly once.  `watermark_delay` bounds accepted event-time
    disorder ACROSS micro-batches (the engine may drop rows older than
    the watermark before they reach the operator); the default is
    generous because the assembler tolerates disorder on its own via
    the offset reorder buffer.

    Delivery contract: the assembly cursor anchors at the smallest
    offset of the key's FIRST delivery — a later event must not reach
    the operator in an earlier micro-batch than the key's first event
    (the binlog tailer's in-order guarantee; a single availableNow
    batch trivially satisfies it).  AFTER anchoring, events may arrive
    arbitrarily out of order: a gapped offset waits in the holdback
    buffer and the commit emits in the batch that fills the gap.

    Input contract — DENSE offsets: the assembly cursor advances by
    `next_off += 1`, so per log_file the `offset` column must be a
    dense, unique integer sequence (the synthetic ``changes()`` feed's
    per-file offsets are; so is the envelope's per-file ``seq``).  The
    raw binlog envelope's ``offset`` is a BYTE position and repeats
    across `row_idx` — feeding it directly stalls the cursor at the
    first gap and the watermark GC silently drops every transaction;
    project ``seq`` (or a per-file ``row_number()``) into `offset`
    first."""
    rows = env_stream.withWatermark("ts", watermark_delay).select(
        "log_file", "offset", "op", "xid", "ts"
    )
    return rows.groupBy("log_file").applyInPandasWithState(
        _txn_update_fn_factory(gc_gap_ms),
        TXN_OUTPUT_SCHEMA,
        TXN_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
