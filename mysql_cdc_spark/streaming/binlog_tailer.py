"""BinlogTailer: the reference's incremental ingest loop over REAL
binlog bytes — cdc-init/cdc-turn/cdc-log-rotation (reference
src/cdc/mysql_binlog.clj:804-938).

Each `turn()` reads `[offset, end-of-file)` through one decode loop,
`_tail_file`: the codec is called on at most one frame-aligned window
of `WINDOW_BYTES` at a time (a frame larger than the window widens it
to that frame), and each window's envelope events are handed to
`event_fn` before the next window is decoded, so the first rows of a
large unread tail are delivered while the rest still decodes.  The
torn-tail guard holds back a partially-written trailing event — it is
re-read next turn once the writer finishes it.  After each window the
offset sits past the window's last complete event and the table-map
and checksum state carry over to the next window and the next turn.
A ROTATE event switches to the named next log, resets the offset to 4
(past the magic) and clears the table-map — exactly the reference's
rotation rule (:888-905).

This is the in-process ingest half for real byte logs: the push
delivery (streaming/push.py) calls `turn()` on inotify wakes, and to
catch up on rotated files runs this same `_tail_file` loop in workers
forked from its tailer thread — one file each, `gc.freeze()` first, at
most `os.cpu_count()` files and `queue_size` undelivered windows per
worker in flight — carrying each window's end state back through
`position()` / `seek()`.  The latency probe (streaming/latency.py)
times its turns.  The durable, checkpointed path does not go through
it — Spark reads binlog bytes only through the `mysql_binlog`
streaming source (sources/binlog_datasource.py).
"""

from __future__ import annotations

import mmap
import os
from collections.abc import Callable

from mysql_cdc_spark.sources.binlog_codec import (
    ENVELOPE_OPS,
    HEADER_LEN,
    MAGIC,
    TableMapState,
    decode_binlog_incremental,
)

# Bytes per codec call: a fresh cursor's first rows wait for one window
# rather than a whole rotated file, and the per-call overhead stays
# negligible.
WINDOW_BYTES = 256 * 1024


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

    def position(self) -> tuple:
        """The per-file resume state: (log, offset, table map, checksum
        framing, magic checked)."""
        return (self.current_log, self.offset, self.table_map, self.checksum,
                self._magic_ok)

    def seek(self, position: tuple) -> None:
        """Resume from a `position()`, e.g. one a catch-up worker reached."""
        (self.current_log, self.offset, self.table_map, self.checksum,
         self._magic_ok) = position

    def turn(self) -> int:
        """One incremental read (reference cdc-turn :907-919): tail the
        current file, and follow each ROTATE into a successor that
        already exists.  Returns the number of envelope events
        delivered."""
        delivered = 0
        while True:
            n, rotated = self._tail_file()
            delivered += n
            if not rotated or not os.path.exists(self._path):
                return delivered

    def _tail_file(self) -> tuple[int, bool]:
        """Decode the current file's unread bytes window by window and
        deliver each window before the next is decoded.  Returns the
        number of envelope events delivered and whether a ROTATE moved
        the tailer to the next file.

        I/O is proportional to NEW bytes only, and ZERO-COPY on the
        happy path: the file is mmap'd and the decoder walks
        `memoryview` windows of `[offset, size)` — the reference's
        with-open-binlog* maps the same range (mysql_binlog.clj:
        696-705, size-offset bytes at :703).  Event bodies are copied
        out as they decode (the view never outlives the mapping), so
        torn-tail hold-back and all other semantics are identical to
        the buffered form, which remains as the fallback for
        filesystems that refuse mmap.  Reading from byte 0 every poll
        would be O(file) per turn → O(file²) over a growing log's life.
        """
        if (
            not self._magic_ok
            and self.offset == 4
            and not os.path.exists(self._path)
        ):
            # Resuming at the head of a not-yet-created successor log
            # (journal written at a rotation boundary, writer hasn't
            # created the new file yet): wait for it rather than
            # crashing mid-rotation.  Only the untouched-file case — a
            # file that vanishes after we read from it is still a hard
            # error.
            return 0, False
        with open(self._path, "rb") as fh:
            if not self._magic_ok:
                head = fh.read(4)
                if len(head) < 4:
                    # Torn head: the writer created the file but has not
                    # finished writing the 4-byte magic yet (the
                    # create→first-write window of both Path.write_bytes
                    # and a real mysqld).  Same hold-back rule the
                    # decoder applies to a torn TAIL (reference
                    # mysql_binlog.clj:316,:326-328): incomplete bytes
                    # are re-read next poll, never an error.  Only 4+
                    # wrong bytes are a hard fail.
                    return 0, False
                if head != MAGIC:
                    raise ValueError(f"{self._path}: not a binlog file (bad magic)")
                self._magic_ok = True
            size = os.fstat(fh.fileno()).st_size
            mm = None
            if size > self.offset:
                try:
                    # map the whole file read-only; the windows are
                    # memoryview slices of it
                    mm = mmap.mmap(fh.fileno(), size, access=mmap.ACCESS_READ)
                except (ValueError, OSError):
                    mm = None  # no-mmap filesystem: buffered fallback
            if mm is None:
                fh.seek(self.offset)
                base = self.offset
                data: bytes | memoryview = fh.read()
            else:
                base = 0
                data = memoryview(mm)
        self.last_read_bytes = base + len(data) - self.offset
        self.last_read_mmap = mm is not None
        try:
            return self._windows(data, base)
        finally:
            if mm is not None:
                data.release()
                mm.close()

    def _windows(self, data: bytes | memoryview, base: int) -> tuple[int, bool]:
        delivered = 0
        log_file = self.current_log
        end = base + len(data)
        while self.offset + HEADER_LEN <= end:
            pos = self.offset - base
            # the frame's event_len: header bytes 9-12, after the
            # timestamp, type code and server id
            event_len = int.from_bytes(data[pos + 9:pos + 13], "little")
            window = data[pos:pos + max(WINDOW_BYTES, event_len)]
            try:
                events, next_offset, tmap, _ = decode_binlog_incremental(
                    window, self.offset, self.table_map, self.catalog,
                    base=self.offset, on_error=self.on_error,
                    checksum=self.checksum, only_tables=self.only_tables,
                    only_ops=self.only_ops, stringify=self.stringify,
                )
            finally:
                if isinstance(window, memoryview):
                    window.release()
            if next_offset == self.offset:
                return delivered, False      # torn tail: retried next turn
            self.offset = next_offset
            self.table_map = tmap

            rotate_to = None
            batch = []
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
                # silently stall the stream.
                self.seek((rotate_to, 4, None, None, False))
            if batch:
                self.event_fn(batch)
                delivered += len(batch)
            if rotate_to is not None:
                return delivered, True
        return delivered, False
