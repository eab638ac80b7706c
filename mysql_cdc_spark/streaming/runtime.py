"""Structured Streaming runtime: the reference's continuous-ingest half
rebuilt on Spark's file-stream source.

Reference mechanism → Spark mapping (SURVEY §2.6):

  mmap + inotify tail (mysql_binlog.clj:696-705, :833-857)
      → `spark.readStream` file source polling a log directory
  notification debounce (:765-799)
      → micro-batch trigger interval / Trigger.AvailableNow
  incremental turn, byte offset in agent state (:907-919)
      → checkpointed source offsets (durable, unlike the reference's
        in-memory offset, which loses position on restart)
  log rotation: ROTATE → new file, offset reset (:888-905)
      → new files discovered by the source; per-file progress is the
        offset unit, so "reset to 4" is implicit
  torn-tail guard: partially written trailing event not emitted
      (:316, :326-328, design note :986-987)
      → file-level atomicity: the append unit is a whole committed
        file (writers stage + rename; Spark's commit protocol does
        this), so a torn tail never becomes visible to the source
  bounded LinkedBlockingQueue(10) backpressure (jdbc.clj:41-48)
      → `maxFilesPerTrigger` rate limiting
  event-fn callback per turn (mysql_binlog.clj:804-811, :918)
      → `foreachBatch`
  blocking forward-only ResultSet over the queue (jdbc.clj:205-331)
      → `QueueStreamingCursor` (foreachBatch → bounded queue;
        operators/cursor.py provides the batch flavor)
  cdc-init/cdc-start/cdc-stop lifecycle (:804-811, :921-938)
      → `CDCRuntime.start()/stop()`

The operators are ordinary DataFrame transforms, so the SAME functions
(rows_delta_type, select_changes, aggregates with output modes) run on
the batch and the streaming DataFrame — one code path, two modes,
exactly how Spark file sources are structured (SURVEY §3.3).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, Row, SparkSession

from mysql_cdc_spark import STREAM_TMP
from mysql_cdc_spark.model import ENVELOPE_SCHEMA


def write_event_log(env: DataFrame, log_dir: str, n_files: int = 4) -> None:
    """Materialize an envelope batch as an append-only directory of
    parquet 'log files' (contiguous offset ranges, mirroring binlog
    rotation: each range-partition plays the role of one binlog file).
    """
    (
        env.repartitionByRange(n_files, "offset")
        .sortWithinPartitions("offset")
        .write.mode("overwrite")
        .parquet(log_dir)
    )


def ensure_event_log(
    spark: SparkSession,
    sf_dir: str,
    root: str = STREAM_TMP,
    version: int = 2,
    n_files: int = 4,
) -> str:
    """Materialize (once) the derived envelope stream for `sf_dir` as
    a versioned event-log directory and return its path — the shared
    entry point for the streaming query registry and the driver API."""
    import pathlib

    from mysql_cdc_spark.sources.events_cdc import changes

    log_dir = pathlib.Path(root) / f"log_{pathlib.Path(sf_dir).name}_v{version}"
    if not (log_dir / "_SUCCESS").exists():
        write_event_log(changes(spark, sf_dir), str(log_dir), n_files=n_files)
    return str(log_dir)


def most_recent_log(index_file: str) -> str:
    """S5: log-index discovery — the LAST line of the index file names
    the live log (reference most-recent-binlog, mysql_binlog.clj:
    813-817)."""
    with open(index_file) as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    if not lines:
        raise ValueError(f"empty log index: {index_file}")
    return lines[-1]


def open_stream(
    spark: SparkSession,
    log_dir: str,
    max_files_per_trigger: int | None = None,
    latest_first: bool = False,
) -> DataFrame:
    """S2-S9: the change-event stream as a streaming DataFrame.

    `maxFilesPerTrigger` is the backpressure bound (the reference's
    queue capacity 10, jdbc.clj:44); offsets/rotation/initial position
    are handled by the source + checkpoint.  `latest_first` prefers
    the newest files — the reference's start-at-the-live-log initial
    position (:925-928) for catch-up scenarios.
    """
    reader = spark.readStream.schema(ENVELOPE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if latest_first:
        reader = reader.option("latestFirst", "true")
    return reader.parquet(log_dir)


class CDCRuntime:
    """S10 lifecycle wrapper: cdc-init/cdc-start/cdc-stop
    (mysql_binlog.clj:804-811, :921-938).

    `event_fn` receives each micro-batch as a (batch_df, batch_id)
    pair — the reference's per-turn callback (:918) — via
    `foreachBatch`.  `checkpoint_dir` makes progress durable (the
    reference keeps its offset only in agent memory and re-reads from
    scratch after a crash; checkpointing is strictly better recovery).
    """

    def __init__(
        self,
        stream: DataFrame,
        event_fn: Callable[[DataFrame, int], None],
        checkpoint_dir: str,
        available_now: bool = True,
    ) -> None:
        self._stream = stream
        self._event_fn = event_fn
        self._checkpoint = checkpoint_dir
        self._available_now = available_now
        self.query = None

    def start(self) -> "CDCRuntime":
        writer = (
            self._stream.writeStream.foreachBatch(self._event_fn)
            .option("checkpointLocation", self._checkpoint)
        )
        if self._available_now:
            writer = writer.trigger(availableNow=True)
        self.query = writer.start()
        return self

    def await_termination(self, timeout: float | None = None) -> None:
        if self.query is not None:
            self.query.awaitTermination(timeout)

    def stop(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()


def run_to_memory(
    transformed: DataFrame,
    sink_name: str,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> DataFrame:
    """Drain everything currently in the log through the streaming
    engine into a memory sink (Trigger.AvailableNow), and return the
    sink table — the streaming counterpart of a batch query, used by
    the batch-equivalence oracle entries.  Use output_mode='complete'
    for streaming aggregations."""
    q = (
        transformed.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return transformed.sparkSession.table(sink_name)


def idempotent_parquet_sink(out_dir: str):
    """Exactly-once delivery from an at-least-once stream: an event_fn
    for `foreachBatch` that writes each micro-batch to a path keyed by
    its batch_id with overwrite.  Replaying a batch after a crash
    (Spark's at-least-once contract) overwrites the same path instead
    of appending duplicates — checkpoint + idempotent sink = effective
    exactly-once.  (The reference is at-least-once per turn and loses
    its offset on restart, mysql_binlog.clj:914-916; this is strictly
    stronger.)
    """

    def event_fn(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return event_fn


class QueueStreamingCursor:
    """R9 for the streaming path, BOUNDED: a forward-only blocking
    cursor fed by `foreachBatch` through a bounded `queue.Queue` — the
    reference's reader-thread + LinkedBlockingQueue(10) (jdbc.clj:44,
    `.take` :174, :213-218) mapped onto Structured Streaming.

    Memory contract: driver holds at most `queue_size` batches plus the
    one being consumed — O(queue_size × batch), independent of stream
    length.  Nothing is ever re-scanned or re-sorted: each micro-batch
    is collected once, ordered within the batch, enqueued, consumed,
    dropped.  When the queue is full the foreachBatch call blocks,
    which stalls the micro-batch — genuine backpressure into the
    engine, the exact semantics of the reference's bounded queue
    (producer blocks when the consumer lags).  Bound the batch itself
    with the source's `maxFilesPerTrigger`.

    `attach()` starts the streaming query; `next()` advances or blocks;
    `close()` stops the query.  A failed query re-raises in `next()`
    instead of blocking forever.
    """

    def __init__(self, order_col: str | None = "offset", queue_size: int = 10) -> None:
        import queue as _queue
        import threading

        self._q: "_queue.Queue[list[Row]]" = _queue.Queue(maxsize=queue_size)
        self._order = order_col
        self._closed = threading.Event()
        self._batch: list[Row] = []
        self._pos = -1          # before-first-row
        self.current: Row | None = None
        self.query = None
        self.max_batch_rows = 0  # observability: peak per-batch row count

    def _event_fn(self, batch_df: DataFrame, batch_id: int) -> None:
        df = batch_df.orderBy(self._order) if self._order else batch_df
        rows = df.collect()
        if not rows:
            return
        self.max_batch_rows = max(self.max_batch_rows, len(rows))
        import queue as _queue

        # Bounded put with a close check so shutdown never deadlocks a
        # blocked producer.
        while not self._closed.is_set():
            try:
                self._q.put(rows, timeout=0.1)
                return
            except _queue.Full:
                continue

    def attach(
        self,
        transformed: DataFrame,
        checkpoint_dir: str,
        trigger_seconds: float | None = None,
        available_now: bool = False,
    ) -> "QueueStreamingCursor":
        writer = transformed.writeStream.foreachBatch(self._event_fn).option(
            "checkpointLocation", checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger_seconds is not None:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        self.query = writer.start()
        return self

    def _queue_depth(self) -> int:
        return self._q.qsize()

    def next(self, timeout: float | None = None) -> bool:
        """Advance to the next row; block until one arrives or
        `timeout` elapses (False on timeout).  Raises the streaming
        query's exception if it died."""
        import queue as _queue

        if self._pos + 1 >= len(self._batch):
            deadline = None if timeout is None else time.monotonic() + timeout
            while True:
                if self.query is not None and not self.query.isActive:
                    exc = self.query.exception()
                    if exc is not None:
                        raise exc
                    if self._q.empty():
                        return False  # query finished and fully drained
                remaining = 0.1
                if deadline is not None:
                    remaining = min(remaining, deadline - time.monotonic())
                    if remaining <= 0:
                        return False
                try:
                    self._batch = self._q.get(timeout=max(remaining, 0.001))
                    self._pos = -1
                    break
                except _queue.Empty:
                    continue
        self._pos += 1
        self.current = self._batch[self._pos]
        return True

    def release(self) -> None:
        """Unblock a producer stuck in the bounded put WITHOUT stopping
        the query.  Must run before `query.stop()` when the consumer
        may have stopped reading: with the queue full, `_event_fn`
        spins in its put loop until `_closed` is set, and `stop()`
        blocks on that in-flight micro-batch's py4j callback — calling
        stop() first would deadlock (advisor finding, api.py shutdown
        path)."""
        self._closed.set()

    def close(self) -> None:
        self.release()
        if self.query is not None and self.query.isActive:
            self.query.stop()

    def __iter__(self) -> Iterator[Row]:
        """Iterate until the query terminates and the queue drains; an
        idle gap on a live query blocks rather than ending iteration."""
        while True:
            if self.next(timeout=0.25):
                yield self.current
                continue
            if self.query is None or not self.query.isActive:
                return


# The legacy memory-sink StreamingCursor was removed in r9 (VERDICT r8
# #5): it re-scanned and re-sorted the whole accumulated sink on every
# poll — O(stream) driver memory and O(stream²) work over a long run —
# and survived only as an exported attractive nuisance once
# QueueStreamingCursor became the api.py default.  Forward-only cursor
# consumers use QueueStreamingCursor (bounded queue, O(batch) memory)
# or streaming.push.PushCursor (low-latency path).
