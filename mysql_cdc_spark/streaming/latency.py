"""End-to-end CDC latency measurement — BASELINE.md metric 3.

The reference measures latency by decomposition (mysql_bench.clj
:184-261, formula :272-277): run N turns of the FULL cdc loop
(binlog2), N turns of raw DB updates only (binlog3), N turns of plain
reads only (binlog4), and report

    latency = full − writes − reads

Here the same three modes over the rebuilt stack:

  write  — append one transaction of real binlog bytes to a growing
           log file (the "raw DB update" half)
  decode — append + one BinlogTailer.turn() with an event_fn that only
           keeps the events (the "plain read" half: seek + incremental
           decode)
  full   — append to the `binlog.000001` of a RUNNING
           `spark.readStream.format("mysql_binlog")` query (checkpointed
           frame-aligned offsets → foreachBatch sink); the turn ends
           when that transaction's xid reaches the sink

so `net = full − write − decode` isolates the streaming delivery
layer: the source's walk of the new bytes + micro-batch schedule +
executor decode + sink visibility.  All three run the same per-turn
transaction shape (QUERY + TABLE_MAP + WRITE_ROWS + XID — the
reference's 4-event statement, :248-249).  Every mode must see every
turn: a turn that never arrives raises instead of being averaged in.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import SparkSession

from mysql_cdc_spark import STREAM_TMP
from mysql_cdc_spark.sources.binlog_codec import (
    TYPE_LONG,
    TYPE_NEWDECIMAL,
    TYPE_VARCHAR,
    WRITE_ROWS_EVENT,
    BinlogWriter,
    TableDef,
)
from mysql_cdc_spark.streaming.binlog_tailer import BinlogTailer

_T = TableDef("foo", "auto", [(TYPE_LONG, None), (TYPE_NEWDECIMAL, (12, 4)), (TYPE_VARCHAR, 50)])
_CAT = {("foo", "auto"): ["id", "val", "word"]}
_CAT_JSON = json.dumps({f"{db}.{tbl}": cols for (db, tbl), cols in _CAT.items()})


class _GrowingLog:
    """Incrementally append whole transactions to a binlog file on
    disk (only the NEW bytes are written each turn)."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.w = BinlogWriter()
        self.flushed = 0
        self._flush()

    def _flush(self) -> None:
        data = self.w.getvalue()
        with open(self.path, "ab") as fh:
            fh.write(data[self.flushed:])
        self.flushed = len(data)

    def append_txn(self, i: int) -> None:
        self.w.write_query("foo", "UPDATE foo.auto SET val = ? WHERE id = ?", ts=i)
        self.w.write_table_map(_T, ts=i)
        self.w.write_rows(WRITE_ROWS_EVENT, _T, [[i, f"{i}.0000", "x"]], ts=i)
        self.w.write_xid(i, ts=i)
        self._flush()


def measure_latency(
    spark: SparkSession,
    turns: int = 20,
    scratch_root: str = STREAM_TMP,
    trigger_seconds: float = 0.05,
    timeout: float = 30.0,
) -> dict:
    """Run the three modes and return per-turn seconds:
    {"full": f, "write": w, "decode": d, "net": f - w - d, "turns": n}.
    """
    scratch = os.path.join(scratch_root, f"lat_{uuid.uuid4().hex[:10]}")
    os.makedirs(os.path.join(scratch, "logs"), exist_ok=True)
    try:
        # --- write-only (binlog3 analog) -----------------------------
        log = _GrowingLog(os.path.join(scratch, "logs", "w.bin"))
        t0 = time.perf_counter()
        for i in range(turns):
            log.append_txn(i)
        t_write = time.perf_counter() - t0

        # --- write + incremental decode (binlog4 analog) -------------
        log = _GrowingLog(os.path.join(scratch, "logs", "d.bin"))
        decoded: list[dict] = []
        tailer = BinlogTailer(os.path.join(scratch, "logs"), "d.bin", decoded.extend, _CAT)
        tailer.turn()  # consume the FDE/preamble outside the timed loop
        t0 = time.perf_counter()
        for i in range(turns):
            log.append_txn(i)
            tailer.turn()
        t_decode = time.perf_counter() - t0
        n_xid = sum(1 for ev in decoded if ev["op"] == "xid")
        if n_xid != turns:
            raise RuntimeError(f"decode mode saw {n_xid}/{turns} commits")

        # --- full path (binlog2 analog) ------------------------------
        # ONE running mysql_binlog stream over the mode's own log
        # directory; per turn we wait until the sink has seen the xid.
        from mysql_cdc_spark.sources.binlog_datasource import register_binlog_source

        register_binlog_source(spark)
        full_dir = os.path.join(scratch, "full")
        os.makedirs(full_dir)
        log = _GrowingLog(os.path.join(full_dir, "binlog.000001"))
        seen: set[int] = set()

        def on_batch(batch_df, batch_id) -> None:
            seen.update(r["xid"] for r in batch_df.collect() if r["op"] == "xid")

        def await_xid(xid: int) -> None:
            deadline = time.monotonic() + timeout
            while xid not in seen:
                if not query.isActive:
                    raise RuntimeError(f"stream stopped: {query.exception()}")
                if time.monotonic() > deadline:
                    raise TimeoutError(f"sink never saw xid {xid} after {timeout}s")
                time.sleep(0.01)

        query = (
            spark.readStream.format("mysql_binlog")
            .option("catalog", _CAT_JSON)
            .load(full_dir)
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", os.path.join(scratch, "cp"))
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .start()
        )
        try:
            # one untimed turn: query start, first planning walk and
            # Python worker launch stay outside the timed loop
            log.append_txn(turns)
            await_xid(turns)
            t0 = time.perf_counter()
            for i in range(turns):
                log.append_txn(i)
                await_xid(i)
            t_full = time.perf_counter() - t0
        finally:
            query.stop()

        # --- push path (the reference's ACTUAL hot path: inotify wake
        # → reader thread → bounded queue → blocking cursor; JNotify
        # mysql_binlog.clj:833-857 + LinkedBlockingQueue jdbc.clj:44).
        # No Spark job per turn, so no micro-batch scheduling floor —
        # this is the ms-latency mode; `net` above prices the durable
        # Structured-Streaming path.
        from mysql_cdc_spark.streaming.push import PushDelivery

        log = _GrowingLog(os.path.join(scratch, "logs", "p.bin"))
        delivery = PushDelivery(
            os.path.join(scratch, "logs"), "p.bin", _CAT
        ).start()
        try:
            cur = delivery.cursor()
            t0 = time.perf_counter()
            for i in range(turns):
                log.append_txn(i)
                # turn ends when this txn's COMMIT reaches the cursor
                while True:
                    if not cur.next(timeout=timeout):
                        raise TimeoutError(f"push cursor stalled on txn {i}")
                    if cur.current["op"] == "xid" and cur.current["xid"] == i:
                        break
            t_push = time.perf_counter() - t0
        finally:
            delivery.stop()

        # --- durable push (r8): same hot path with the per-turn
        # position journal (atomic tmp+rename JSON) — prices the
        # restart-without-loss guarantee the reference lacks.
        log = _GrowingLog(os.path.join(scratch, "logs", "pj.bin"))
        delivery = PushDelivery(
            os.path.join(scratch, "logs"), "pj.bin", _CAT,
            journal_path=os.path.join(scratch, "pj.journal"),
        ).start()
        try:
            cur = delivery.cursor()
            t0 = time.perf_counter()
            for i in range(turns):
                log.append_txn(i)
                while True:
                    if not cur.next(timeout=timeout):
                        raise TimeoutError(f"durable push cursor stalled on txn {i}")
                    if cur.current["op"] == "xid" and cur.current["xid"] == i:
                        break
            t_push_j = time.perf_counter() - t0
        finally:
            delivery.stop()

        return {
            "full": round(t_full / turns, 4),
            "write": round(t_write / turns, 4),
            "decode": round(t_decode / turns, 4),
            "net": round((t_full - t_write - t_decode) / turns, 4),
            "push": round(t_push / turns, 4),
            "push_net": round((t_push - t_write) / turns, 4),
            "push_durable": round(t_push_j / turns, 4),
            "turns": turns,
        }
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
