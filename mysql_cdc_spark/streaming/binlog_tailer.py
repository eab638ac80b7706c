"""BinlogTailer: the reference's incremental ingest loop over REAL
binlog bytes — cdc-init/cdc-turn/cdc-log-rotation (reference
src/cdc/mysql_binlog.clj:804-938) as a polling tailer.

Each `turn()` reads `[offset, end-of-file)`, decodes complete events
(the torn-tail guard holds back a partially-written trailing event —
it is re-read next turn once the writer finishes it), advances the
offset to the last event's `next`, carries the table-map state across
turns, and hands the batch to `event_fn`.  A ROTATE event switches to
the named next log, resets the offset to 4 (past the magic) and clears
the table-map — exactly the reference's rotation rule (:888-905).

This is the in-process ingest half for real byte logs: the push
delivery (streaming/push.py) envelopes each batch into a bounded
queue, and the latency probe (streaming/latency.py) times its turns.
The durable, checkpointed
path does not go through it — Spark reads binlog bytes only through
the `mysql_binlog` streaming source (sources/binlog_datasource.py).
Where the reference used inotify (:833-857), `run()` polls; the push
delivery calls `turn()` on inotify wakes instead.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from mysql_cdc_spark.sources.binlog_codec import (
    ENVELOPE_OPS,
    MAGIC,
    TableMapState,
    decode_binlog_incremental,
)


class BinlogTailer:
    def __init__(
        self,
        log_dir: str,
        first_log: str,
        event_fn: Callable[[list[dict]], None],
        catalog: dict[tuple[str, str], list[str]] | None = None,
        on_error: str = "raise",
        only_tables: set[tuple[str, str]] | None = None,
        only_ops: set[str] | None = None,
        stringify: bool = False,
    ) -> None:
        self.log_dir = log_dir
        self.current_log = first_log
        self.offset = 4                      # skip magic (reference :927, :710)
        self.table_map: TableMapState | None = None
        self.event_fn = event_fn
        self.catalog = catalog or {}
        # Filter-before-decode pushdown on the LIVE path (SURVEY §4):
        # a per-table tail skips image parsing for foreign tables at
        # every turn — headers/table-maps/rotation/checksum handling
        # are unaffected (binlog_codec.decode_binlog_incremental).
        # `only_ops` is the delta-type predicate pushed the same way
        # (r16): an insert-only tail never parses update/delete images.
        self.only_tables = only_tables
        self.only_ops = only_ops
        # Decode row images straight into the envelope string form, for
        # consumers that envelope with `stringified=True` (push delivery).
        self.stringify = stringify
        # 'quarantine' = dead-letter poison events and keep tailing —
        # a live tailer must not die on one malformed event.
        self.on_error = on_error
        self._magic_ok = False               # validated once per log file
        # CRC32 framing (MySQL ≥5.6.6): auto-detected from each file's
        # FDE on the first turn, carried across turns (later turns
        # start past the FDE), reset on rotation — per-file state,
        # like the table map.
        self.checksum: str | None = None
        self.last_read_bytes = 0             # I/O per turn (observability/tests)
        self.last_read_mmap = False          # zero-copy path taken last turn

    @property
    def _path(self) -> str:
        return os.path.join(self.log_dir, self.current_log)

    def turn(self) -> int:
        """One incremental read (reference cdc-turn :907-919).
        Returns the number of envelope events delivered.

        I/O is proportional to NEW bytes only, and ZERO-COPY on the
        happy path: the file is mmap'd and the decoder walks a
        `memoryview` of `[offset, size)` — the reference's
        with-open-binlog* maps the same window (mysql_binlog.clj:
        696-705, size-offset bytes at :703).  Event bodies are copied
        out as they decode (the view never outlives the mapping), so
        torn-tail hold-back and all other semantics are identical to
        the buffered form, which remains as the fallback for
        filesystems that refuse mmap.  Reading from byte 0 every poll
        would be O(file) per turn → O(file²) over a growing log's life.
        """
        import mmap as _mmap

        delivered = 0
        while True:
            if (
                not self._magic_ok
                and self.offset == 4
                and not os.path.exists(self._path)
            ):
                # Resuming at the head of a not-yet-created successor
                # log (journal written at a rotation boundary, writer
                # hasn't created the new file yet): wait for it rather
                # than crashing mid-rotation.  Only the untouched-file
                # case — a file that vanishes after we read from it is
                # still a hard error.
                return delivered
            with open(self._path, "rb") as fh:
                if not self._magic_ok:
                    head = fh.read(4)
                    if len(head) < 4:
                        # Torn head: the writer created the file but has
                        # not finished writing the 4-byte magic yet (the
                        # create→first-write window of both
                        # Path.write_bytes and a real mysqld).  Same
                        # hold-back rule the decoder applies to a torn
                        # TAIL (reference mysql_binlog.clj:316,:326-328):
                        # incomplete bytes are re-read next poll, never
                        # an error.  Only 4+ wrong bytes are a hard fail.
                        return delivered
                    if head != MAGIC:
                        raise ValueError(f"{self._path}: not a binlog file (bad magic)")
                    self._magic_ok = True
                size = os.fstat(fh.fileno()).st_size
                mm = None
                if size > self.offset:
                    try:
                        # map the whole file read-only; the decode
                        # window is the [offset, size) memoryview slice
                        mm = _mmap.mmap(fh.fileno(), size, access=_mmap.ACCESS_READ)
                    except (ValueError, OSError):
                        mm = None  # no-mmap filesystem: buffered fallback
                if mm is None:
                    fh.seek(self.offset)
                    tail: bytes | memoryview = fh.read()
                else:
                    tail = memoryview(mm)[self.offset:]
            self.last_read_bytes = len(tail)
            self.last_read_mmap = mm is not None
            try:
                events, next_offset, tmap, _ = decode_binlog_incremental(
                    tail, self.offset, self.table_map, self.catalog,
                    base=self.offset, on_error=self.on_error,
                    checksum=self.checksum, only_tables=self.only_tables,
                    only_ops=self.only_ops, stringify=self.stringify,
                )
            finally:
                if mm is not None:
                    tail.release()
                    mm.close()
            self.offset = next_offset
            self.table_map = tmap

            rotate_to = None
            batch = []
            log_file = self.current_log
            for ev in events:
                op = ev["op"]
                if op in ENVELOPE_OPS:       # nearly every event
                    ev["log_file"] = log_file
                    batch.append(ev)
                elif op == "rotate":
                    rotate_to = ev["sql"]    # next log file name
                elif op == "format_description":
                    self.checksum = ev.get("checksum_alg")
            if rotate_to is not None:
                # reference cdc-log-rotation (:888-905): new file,
                # offset 4, table-map cleared.  Applied BEFORE the
                # batch is handed out: a consumer that snapshots the
                # tailer position on delivery (PushDelivery's journal)
                # must record the POST-rotation position — journaling
                # (old_log, offset-past-ROTATE) would resume a restart
                # at the dead file's EOF, never re-see the ROTATE, and
                # silently stall the stream.  Iterate (not recurse) so
                # long rotation chains cannot grow the stack.
                self.current_log = rotate_to
                self.offset = 4
                self.table_map = None
                self.checksum = None         # next file's FDE decides
                self._magic_ok = False
            if batch:
                self.event_fn(batch)
            delivered += len(batch)
            if rotate_to is None or not os.path.exists(self._path):
                return delivered

    def run(self, poll_seconds: float = 0.2, max_turns: int | None = None) -> None:
        """Poll loop (inotify stand-in).  Bounded by max_turns for
        testability; production would run until stopped."""
        turns = 0
        while max_turns is None or turns < max_turns:
            self.turn()
            turns += 1
            time.sleep(poll_seconds)
