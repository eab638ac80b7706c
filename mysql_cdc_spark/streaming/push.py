"""Push-based low-latency CDC delivery: inotify wake → tailer thread →
bounded in-process queue → blocking cursor.

This is the true counterpart of the reference's hot path, re-expressed
without JNotify/JDBC:

- the reference wakes its reader on filesystem notification
  (mysql_binlog.clj:833-857, JNotify FILE_MODIFIED) instead of
  polling; here `INotifyWatcher` wraps the public Linux inotify
  syscall API via ctypes (inotify_init1 / inotify_add_watch / read),
  with a short-poll fallback where inotify is unavailable;
- the reference hands decoded events to consumers through a BOUNDED
  LinkedBlockingQueue(10) (jdbc.clj:44) — producer blocks when the
  consumer lags (backpressure), consumer blocks when drained
  (`queue.take`, jdbc.clj:174).  `PushDelivery` reproduces exactly
  that with `queue.Queue(maxsize=10)` of event batches;
- `PushCursor` is the forward-only blocking ResultSet over that queue
  (jdbc.clj:205-331): `next()` advances or blocks, rows arrive in log
  order, driver memory is bounded by queue_size × batch size;
- the reference filters its ResultSet to one table and delta type
  (jdbc.clj:164-185).  Here the statement's predicate is applied at
  DELIVERY (`PushDelivery.filter_rows`, installed by
  `FilteredPushCursor`): events that fail it are never enveloped or
  queued, yet each still takes its per-file `seq` slot, so a surfaced
  record is identical to the one an unfiltered delivery would carry.
  Decode stays full — foreign-table row bodies are still parsed, so
  malformed bytes raise or quarantine exactly as without the filter —
  and images arrive from the codec already in envelope string form;
- the tailer decodes in bounded windows (`binlog_tailer.WINDOW_BYTES`)
  and each window is delivered before the next is decoded, so a fresh
  cursor's first row waits for one window, not for a whole file;
- catch-up is parallel across rotated files (HYPERSONIC's split: the
  partitioning stays serial, the evaluation runs in parallel).  Decoder
  state resets at every rotation, so a file is a partition: when the
  first turn — or one that read a window or more — finds successors of
  the cursor's file on disk, each file from the cursor onward is
  tailed by a worker forked from the tailer thread
  (`multiprocessing.get_context("fork")`: the worker inherits the
  delivery and pays no import).  A worker calls `gc.freeze()` first, so
  its cyclic GC never walks and copies the inherited heap, runs the
  tailer's own window loop and sends each window's surfaced records
  and end state over a pipe.  At most `os.cpu_count()` files are in
  flight, and the parent reads a worker's pipe only while fewer than
  `queue_size` of its windows wait, so memory stays bounded by the
  existing queue bound.  The parent delivers strictly in log order and
  stops at the first file that did not ROTATE into the next listed
  one; the live tail stays serial.  Python ≥ 3.12 warns when a
  multi-threaded process forks (a process using Spark has py4j threads), and
  only the forking thread survives in the child: the worker calls the
  codec and envelope functions themselves, never a wrapper installed on
  them whose lock another thread might have held at the fork.

Division of labor with the `mysql_binlog` stream
(`spark.readStream.format("mysql_binlog")`, sources/binlog_datasource.py):
that Structured-Streaming source is the DURABLE, replayable,
cluster-scale path with checkpointing — but it pays the micro-batch
scheduling floor (a Spark job per turn, ~0.4 s measured).  This module
is the LOW-LATENCY in-process path (ms/turn): same codec, no Spark job
per turn.  Run both off one log for durability + latency.
"""

from __future__ import annotations

import ctypes
import ctypes.util
import functools
import gc
import multiprocessing
import multiprocessing.connection
import os
import queue
import select
import threading
import time
from collections import deque
from collections.abc import Iterator

from mysql_cdc_spark.sources import binlog_codec, binlog_source
from mysql_cdc_spark.sources.binlog_source import _ROTATED_LOG_RE, envelope_records
from mysql_cdc_spark.streaming import binlog_tailer
from mysql_cdc_spark.streaming.binlog_tailer import BinlogTailer

# Public Linux inotify constants (linux/inotify.h).
IN_MODIFY = 0x00000002
IN_CLOSE_WRITE = 0x00000008
IN_MOVED_TO = 0x00000080
IN_CREATE = 0x00000100
_IN_MASK = IN_MODIFY | IN_CLOSE_WRITE | IN_MOVED_TO | IN_CREATE
_IN_NONBLOCK = 0o4000  # O_NONBLOCK


@functools.cache
def _libc() -> ctypes.CDLL:
    """libc, loaded once per process: `find_library` spawns
    `ldconfig -p`, which a cursor open must not pay twice."""
    return ctypes.CDLL(ctypes.util.find_library("c") or "libc.so.6",
                       use_errno=True)


class INotifyWatcher:
    """Minimal inotify wrapper: watch one directory, block in
    `wait(timeout)` until anything in it changes.  `available()` is
    False off-Linux or when the syscalls are missing — callers fall
    back to polling."""

    def __init__(self, path: str) -> None:
        self._libc = _libc()
        self.fd = self._libc.inotify_init1(_IN_NONBLOCK)
        if self.fd < 0:
            raise OSError(ctypes.get_errno(), "inotify_init1 failed")
        wd = self._libc.inotify_add_watch(
            self.fd, os.fsencode(path), ctypes.c_uint32(_IN_MASK)
        )
        if wd < 0:
            err = ctypes.get_errno()
            os.close(self.fd)
            raise OSError(err, f"inotify_add_watch({path}) failed")

    @staticmethod
    def available() -> bool:
        if not os.path.exists("/proc/sys/fs/inotify"):
            return False
        try:
            return hasattr(_libc(), "inotify_init1")
        except OSError:
            return False

    def wait(self, timeout: float) -> bool:
        """Block until the watched dir changes or `timeout` elapses;
        returns True if an event arrived.  Drains the fd so a burst of
        appends coalesces into one wake (the reference debounces the
        same way — notification only ever means 'go look')."""
        r, _, _ = select.select([self.fd], [], [], timeout)
        if not r:
            return False
        try:
            while True:
                data = os.read(self.fd, 65536)
                if len(data) < 65536:
                    break
        except BlockingIOError:
            pass
        return True

    def close(self) -> None:
        try:
            os.close(self.fd)
        except OSError:
            pass


def envelope_batch(
    batch: list[dict],
    log_file: str,
    seq: int,
    row_filter: tuple[str, str, frozenset[str]] | None,
) -> tuple[list[dict], int]:
    """Envelope one batch of a file's envelope events from the file's
    `seq` on, keeping only the records `row_filter` (db, table, row ops)
    surfaces.  Returns (records, next seq).  Every event takes its seq
    slot whether or not it survives the filter, so a surfaced record is
    identical to the one an unfiltered delivery would carry.  The serial
    delivery and the catch-up workers both call it."""
    if row_filter is None:
        return envelope_records(batch, log_file, seq, stringified=True)
    # Number the kept events locally, then map to their slots.
    db, tbl, ops = row_filter
    kept = [
        i for i, ev in enumerate(batch)
        if ev["op"] in ops and ev["tbl"] == tbl and ev["db"] == db
    ]
    records, _ = envelope_records(
        [batch[i] for i in kept], log_file, stringified=True
    )
    for rec in records:
        rec["seq"] = seq + kept[rec["seq"]]
    return records, seq + len(batch)


class PushDelivery:
    """Background tailer thread: inotify-wake → incremental decode →
    envelope batches into a bounded queue (the reference's reader
    thread + LinkedBlockingQueue(10), jdbc.clj:44).

    Durability (`journal_path`): the journal records the position of
    CONSUMED data, not merely tailed data.  Every batch is enqueued
    together with a snapshot of the tailer state (log, offset, checksum
    framing, carried table-map, per-file seq) taken right after that
    batch was decoded; the cursor journals a batch's snapshot at the
    moment it hands out the batch's LAST record.  A restart therefore
    resumes exactly after the last fully-consumed batch: batches that
    were queued (or dropped at shutdown) but never consumed are
    re-read and re-delivered — at-least-once with NO silent loss, and
    exactly-once (no duplicates) on a clean drain-then-stop.  A crash
    mid-batch replays that one batch; consumers needing exactly-once
    under crashes dedup by (log_file, offset).  Under `filter_rows` a
    turn whose records all drop still queues its snapshot as an empty
    batch, so the consumed position keeps moving on a quiet table (no
    old log pinned, nothing re-read on restart).  Single-consumer
    contract: one cursor owns the journal advance.  The reference
    keeps its position only in agent memory and loses it on restart
    (mysql_binlog.clj:914-916); this is the push-path analog of the
    streaming path's checkpoint.

    Catch-up (`_catch_up`): with successors of the cursor's file on
    disk, forked workers tail one file each, window by window, and the
    tailer thread applies each window's end state to the tailer before
    it queues the window — so snapshots, the journal and the serial
    turns that follow are exactly a serial run's.  Up to
    `os.cpu_count()` files are in flight and up to `queue_size` windows
    wait per worker; every worker is joined (terminated first on stop
    or error) before the catch-up returns.
    """

    def __init__(
        self,
        log_dir: str,
        first_log: str,
        catalog: dict[tuple[str, str], list[str]] | None = None,
        queue_size: int = 10,
        poll_fallback_seconds: float = 0.05,
        on_error: str = "raise",
        journal_path: str | None = None,
    ) -> None:
        self.queue: queue.Queue[list[dict]] = queue.Queue(maxsize=queue_size)
        self._stop = threading.Event()
        self._seq: dict[str, int] = {}
        self._poll = poll_fallback_seconds
        self._log_dir = log_dir
        self.error: BaseException | None = None
        # Images come out of the codec in envelope string form, so
        # `_deliver` envelopes with stringified=True (no second walk).
        # No codec pushdown: decode stays full, so a malformed
        # foreign-table body still raises or quarantines.
        self.tailer = BinlogTailer(
            log_dir, first_log, self._deliver, catalog, on_error=on_error,
            stringify=True,
        )
        # (db, table, row ops) the statement surfaces; None delivers
        # every envelope record.  Set through `filter_rows`.
        self.row_filter: tuple[str, str, frozenset[str]] | None = None
        self._journal_path = journal_path
        self._journaled_pos: tuple[str, int] | None = None
        self._restore_journal()
        self._watcher: INotifyWatcher | None = None
        self._behind = True                    # look for a backlog first
        self._thread = threading.Thread(
            target=self._run, name="cdc-push-tailer", daemon=True
        )

    # -- durable position ------------------------------------------------

    def _restore_journal(self) -> None:
        if self._journal_path is None or not os.path.exists(self._journal_path):
            return
        import json

        from mysql_cdc_spark.sources.binlog_codec import TableMapState

        with open(self._journal_path) as fh:
            state = json.load(fh)
        self.tailer.current_log = state["log"]
        self.tailer.offset = int(state["offset"])
        self.tailer.checksum = state.get("checksum")
        self._seq = {k: int(v) for k, v in state.get("seq", {}).items()}
        tm = state.get("table_map")
        if tm is not None:
            # col_meta entries are int | None | 2-tuple; JSON stores
            # tuples as lists, and the field decoder dispatches on
            # isinstance(meta, tuple) — restore the exact shapes.
            self.tailer.table_map = TableMapState(
                int(tm["table_id"]),
                tm["db"],
                tm["table"],
                [int(t) for t in tm["col_types"]],
                [tuple(m) if isinstance(m, list) else m for m in tm["col_meta"]],
                list(tm.get("names", [])),
                [bool(u) for u in tm.get("unsigned", [])],
                list(tm.get("charsets", [])),
            )

    def _snapshot(self) -> dict:
        """Resume state as of the tailer's CURRENT position — captured
        inside `_deliver`, i.e. right after the batch being enqueued
        was decoded, so it is exactly the state to resume from once
        that batch has been consumed."""
        tm = self.tailer.table_map
        return {
            "log": self.tailer.current_log,
            "offset": self.tailer.offset,
            "checksum": self.tailer.checksum,
            "seq": dict(self._seq),
            "table_map": None
            if tm is None
            else {
                "table_id": tm.table_id,
                "db": tm.db,
                "table": tm.table,
                "col_types": list(tm.col_types),
                "col_meta": list(tm.col_meta),
                "names": list(tm.names),
                "unsigned": list(tm.unsigned),
                "charsets": list(tm.charsets),
            },
        }

    def _journal_state(self, state: dict | None) -> None:
        """Atomically persist a consumed-position snapshot (no-op
        without a journal path or when the position hasn't moved)."""
        if self._journal_path is None or state is None:
            return
        pos = (state["log"], state["offset"])
        if pos == self._journaled_pos:
            return
        self._journaled_pos = pos
        import json

        tmp = f"{self._journal_path}.tmp"
        with open(tmp, "w") as fh:
            json.dump(state, fh)
        os.replace(tmp, self._journal_path)  # atomic: never a torn journal

    def filter_rows(self, db: str, table: str, ops) -> None:
        """Deliver only the change rows of `db`.`table` whose op is in
        `ops`; every other event — other tables, other ops, txn
        bookkeeping, quarantine records — is dropped before an
        envelope record is built.  Must be called before `start()`:
        the tailer thread reads the predicate without a lock."""
        if self._thread.ident is not None:
            raise RuntimeError("filter_rows() after start()")
        self.row_filter = (db, table, frozenset(ops))

    def _deliver(self, batch: list[dict]) -> None:
        log_file = batch[0]["log_file"]
        records, self._seq[log_file] = envelope_batch(
            batch, log_file, self._seq.get(log_file, 0), self.row_filter
        )
        self._put(records)

    def _put(self, records: list[dict]) -> None:
        snap = self._snapshot() if self._journal_path is not None else None
        if not records and snap is None:
            return  # nothing to surface and no position to journal
        # Bounded put with a stop check: producer-side backpressure
        # without deadlocking shutdown.  A batch dropped here at
        # shutdown is safe: its snapshot was never journaled, so a
        # restart re-reads and re-delivers it.
        while not self._stop.is_set():
            try:
                self.queue.put((records, snap), timeout=0.1)
                return
            except queue.Full:
                continue

    # -- parallel catch-up -------------------------------------------------

    def _backlog(self) -> list[str]:
        """The cursor's file and the same-stem `*.NNNNNN` files listed
        after it, when there is at least one such successor; else []."""
        cur = self.tailer.current_log
        if not _ROTATED_LOG_RE.search(cur):
            return []
        stem = cur.rpartition(".")[0]
        later = sorted(
            name for name in os.listdir(self._log_dir)
            if name > cur and name.rpartition(".")[0] == stem
            and _ROTATED_LOG_RE.search(name)
        )
        return [cur, *later] if later else []

    def _turn(self) -> None:
        # Successors are looked for on the first turn and after a turn
        # that read a window or more, i.e. only while catching up: a
        # live tail's turns list no directory.
        if self._behind:
            files = self._backlog()
            if files:
                self._catch_up(files)
        self.tailer.turn()
        self._behind = self.tailer.last_read_bytes >= binlog_tailer.WINDOW_BYTES

    def _catch_up(self, files: list[str]) -> None:
        """Tail `files` — the cursor's file, then the successors listed
        beside it — each in a forked worker, and deliver the workers'
        windows strictly in log order.

        Before each put, a window's end state is applied to the tailer,
        so the journal snapshot and the serial turns that follow see
        exactly what a serial run would.  Delivery stops after the
        first file that did not ROTATE into the next listed one: the
        later files' results were speculative and are discarded, their
        errors with them.  A worker's error is raised when its file is
        reached.  At most `width` files are in flight (started, not yet
        delivered), and a worker's pipe is read only while fewer than
        `queue.maxsize` of its windows wait, so memory stays bounded.
        Every worker is ended and joined before this returns."""
        ctx = multiprocessing.get_context("fork")
        width = os.cpu_count() or 1
        workers: list = []                     # (process, pipe) per file
        inbox: list[deque] = []
        done: list[bool] = []

        def receive(timeout: float) -> None:
            """Read every worker pipe that holds a message, except those
            of workers whose waiting windows reached the bound."""
            limit = self.queue.maxsize or float("inf")
            live = [j for j, w in enumerate(workers)
                    if w is not None and not done[j] and len(inbox[j]) < limit]
            pipes = {workers[j][1]: j for j in live}
            exits = {workers[j][0].sentinel: j for j in live}
            for ready in multiprocessing.connection.wait([*pipes, *exits], timeout):
                j = pipes.get(ready)
                if j is None:                  # a worker exited
                    j = exits[ready]
                    if done[j] or workers[j][1].poll():
                        continue               # its last messages come first
                    msg = None
                else:
                    try:
                        msg = ready.recv()
                    except EOFError:
                        msg = None
                if msg is None:
                    msg = RuntimeError(
                        f"catch-up worker for {files[j]} exited"
                        f" ({workers[j][0].exitcode}) before it finished"
                    )
                inbox[j].append(msg)
                done[j] = isinstance(msg, BaseException) or msg[0] is None

        try:
            for k in range(len(files)):
                while len(workers) < min(len(files), k + width):
                    workers.append(self._fork(ctx, files, len(workers)))
                    inbox.append(deque())
                    done.append(False)
                while True:
                    if self._stop.is_set():
                        return
                    receive(0 if inbox[k] else 0.1)
                    if not inbox[k]:
                        continue
                    msg = inbox[k].popleft()
                    if isinstance(msg, BaseException):
                        raise msg
                    records, log_file, seq, position = msg
                    self.tailer.seek(position)
                    if records is None:        # the file's end state
                        break
                    self._seq[log_file] = seq
                    self._put(records)
                proc, pipe = workers[k]
                proc.join()
                pipe.close()
                workers[k] = None
                if k + 1 == len(files) or self.tailer.current_log != files[k + 1]:
                    return
        finally:
            running = [w for w in workers if w is not None]
            for proc, _ in running:
                if proc.is_alive():
                    proc.terminate()
            for proc, pipe in running:
                proc.join(1.0)
                if proc.is_alive():
                    proc.kill()
                    proc.join()
                pipe.close()

    def _fork(self, ctx, files: list[str], j: int):
        """Start the worker for `files[j]`: from the tailer's position
        for the cursor's file, from the head for a successor."""
        reader, writer = ctx.Pipe(duplex=False)
        position = (
            self.tailer.position() if j == 0 else (files[j], 4, None, None, False)
        )
        proc = ctx.Process(
            target=self._catch_up_worker, args=(position, writer),
            name=f"cdc-catch-up-{files[j]}", daemon=True,
        )
        proc.start()
        writer.close()
        return proc, reader

    def _catch_up_worker(self, position: tuple, pipe) -> None:
        """Child side: tail one file from `position` through the
        tailer's window loop, send each window's surfaced records and
        end state, then the file's end state or the error."""
        global envelope_records
        # The heap inherited from the parent is long-lived: without
        # this, the child's cyclic GC walks it and copies its pages.
        gc.freeze()
        # Only the forking thread survives a fork, so a lock another
        # thread held at that moment stays held here.  A wrapper
        # installed on the decode or envelope hook points (a tracer's,
        # say) may take one: call the functions themselves.
        binlog_tailer.decode_binlog_incremental = binlog_codec.decode_binlog_incremental
        envelope_records = binlog_source.envelope_records
        tailer = self.tailer
        tailer.seek(position)
        seq = self._seq.get(position[0], 0)
        row_filter = self.row_filter

        def send(batch: list[dict]) -> None:
            nonlocal seq
            log_file = batch[0]["log_file"]
            records, seq = envelope_batch(batch, log_file, seq, row_filter)
            pipe.send((records, log_file, seq, tailer.position()))

        tailer.event_fn = send
        try:
            tailer._tail_file()
            pipe.send((None, None, None, tailer.position()))
        except Exception as exc:
            try:
                pipe.send(exc)
            except Exception:                  # an error that does not pickle
                pipe.send(RuntimeError(f"{type(exc).__name__}: {exc}"))
        finally:
            # skip the inherited interpreter's exit: its buffers, its
            # atexit hooks and any lock another parent thread held
            os._exit(0)

    def _run(self) -> None:
        try:
            if INotifyWatcher.available():
                try:
                    self._watcher = INotifyWatcher(self._log_dir)
                except OSError:
                    self._watcher = None
            self._turn()  # drain whatever already exists
            while not self._stop.is_set():
                if self._watcher is not None:
                    self._watcher.wait(timeout=self._poll * 4)
                else:
                    time.sleep(self._poll)
                self._turn()
        except BaseException as exc:  # surface on the consumer side
            self.error = exc
        finally:
            if self._watcher is not None:
                self._watcher.close()

    def start(self) -> "PushDelivery":
        self._thread.start()
        return self

    def stop(self, timeout: float = 5.0) -> None:
        self._stop.set()
        self._thread.join(timeout=timeout)

    def cursor(self) -> "PushCursor":
        return PushCursor(self)


class PushCursor:
    """Forward-only blocking cursor over the push queue — the
    reference ResultSet contract (jdbc.clj:205-331) with bounded
    driver memory: holds at most one batch plus the queue."""

    def __init__(self, delivery: PushDelivery) -> None:
        self._delivery = delivery
        self._batch: list[dict] = []
        self._snap: dict | None = None     # resume state after this batch
        self._pos = -1
        self.current: dict | None = None

    def next(self, timeout: float | None = None) -> bool:
        """Advance to the next envelope record; block until one
        arrives or `timeout` elapses (False on timeout).  Re-raises a
        tailer-thread failure instead of blocking forever, once the
        batches queued before it are consumed.  Handing out
        a batch's LAST record journals that batch's snapshot (consumed
        position) — see PushDelivery's durability contract.  An empty
        batch (a turn that surfaced nothing) is journaled on arrival."""
        deadline = None if timeout is None else time.monotonic() + timeout
        while self._pos + 1 >= len(self._batch):
            # The producer sets `error` only after its last put.
            if self._delivery.error is not None and self._delivery.queue.empty():
                raise self._delivery.error
            remaining = 0.1
            if deadline is not None:
                remaining = min(remaining, deadline - time.monotonic())
                if remaining <= 0:
                    return False
            try:
                self._batch, self._snap = self._delivery.queue.get(
                    timeout=remaining
                )
            except queue.Empty:
                continue
            self._pos = -1
            if not self._batch:
                self._delivery._journal_state(self._snap)
        self._pos += 1
        self.current = self._batch[self._pos]
        if self._pos == len(self._batch) - 1:
            self._delivery._journal_state(self._snap)
        return True

    def __iter__(self) -> Iterator[dict]:
        """Iterate over the live stream until the delivery is stopped.

        An idle gap does NOT end iteration: `next()` timeouts are
        retried while the producer thread is alive, so a for-loop never
        mistakes a momentarily-idle live stream for exhaustion.
        Iteration ends only once `PushDelivery.stop()` has been called
        AND the queue is drained (or the tailer thread died, which
        re-raises).  To consume a bounded/already-written log while the
        producer stays running, use `drain(idle_timeout=...)`.
        """
        while True:
            if self.next(timeout=0.25):
                yield self.current
                continue
            if self._delivery._stop.is_set():
                # Grace pass: a producer blocked in its final bounded
                # put (≤0.1 s window) may still land a batch after the
                # stop flag is set — re-check once before ending.
                if self.next(timeout=0.3):
                    yield self.current
                    continue
                if self._delivery.queue.empty():
                    return

    def drain(self, idle_timeout: float = 0.5) -> Iterator[dict]:
        """Yield records until the stream has been idle for
        `idle_timeout` seconds — for drained or bounded logs where the
        producer keeps running and 'no data for a while' means done."""
        while self.next(timeout=idle_timeout):
            yield self.current


# parsed `_delta_type` literal → envelope op name (the push-path analog
# of operators/query.filter_delta_type).  The stream path explodes an
# update into 'update-before'/'update-after' rows; push records carry
# both images in ONE update_rows record, so all three update spellings
# select the same records here.
_DELTA_TO_OP = {
    "insert": "write_rows",
    "update": "update_rows",
    "update-before": "update_rows",
    "update-after": "update_rows",
    "delete": "delete_rows",
}


class FilteredPushCursor(PushCursor):
    """The reference's filtered blocking ResultSet over the push queue
    (jdbc.clj:176-182): only change rows of one (db, table) [and one
    delta type] surface.  The constructor validates the delta type and
    installs the predicate on the (not yet started) delivery, which
    drops everything else before it is enveloped — so `next()` is the
    plain blocking `PushCursor.next` with no per-record re-check."""

    def __init__(
        self,
        delivery: PushDelivery,
        db: str,
        table: str,
        delta_type: str | None = None,
    ) -> None:
        if delta_type is not None and delta_type not in _DELTA_TO_OP:
            raise ValueError(f"unknown _delta_type {delta_type!r}")
        super().__init__(delivery)
        delivery.filter_rows(
            db, table,
            {_DELTA_TO_OP[delta_type]} if delta_type else _DELTA_TO_OP.values(),
        )
