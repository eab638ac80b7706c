"""``mysql_binlog`` Spark DataSource (PySpark 4 Python Data Source API).

``spark.read.format("mysql_binlog").load(dir)`` scans a rotated binlog
directory into the generic envelope, and
``spark.readStream.format("mysql_binlog").load(dir)`` tails the same
directory as a Structured Streaming source: frame-aligned offsets are
checkpointed in Spark's own offset WAL (exactly-once on restart),
planning is driver-side and decode is executor-side.

Both readers plan and decode one unit, the frame-aligned byte slice
``(file, [start, end))``: a batch scan is a stream over a fixed offset
range.  Decode is serial within a file — events are offset-chained
and table-map state threads through — and embarrassingly parallel
across files, so a batch file is the slice ``[4, size)``, a trigger
plans one slice per file in its range, small files bin-pack several
slices into one task and an oversized file splits into slices that
decode from state shipped at their start.

This is the Spark-native form of the reference's streaming surface — a
driver-side tailer pushing decoded events into a bounded queue
(mysql_binlog.clj:907-938 cdc-turn; jdbc.clj:44 queue capacity) — with
three upgrades the reference never had:

* offsets live in the streaming checkpoint, not agent memory
  (mysql_binlog.clj keeps its position only in an agent and re-reads
  from scratch after a crash);
* decode runs distributed on executors (the reference decodes on the
  single connection thread);
* the filter-before-decode pushdown (SURVEY §4) arrives through
  Spark's OWN ``pushFilters`` protocol — ``df.filter("db = 'foo' AND
  tbl = 'auto'")`` reaches the byte codec as ``only_tables`` with no
  custom keyword argument, and ``log_file`` comparisons prune whole
  files from the scan driver-side (the binlog analog of partition
  pruning).  All pushdown here is PARTIAL: every filter is also
  returned to Spark for post-scan evaluation, so pushdown is purely a
  scan-cost optimization, never a correctness transfer (the codec's
  ``only_tables``/``only_ops`` skip row-image parsing but still emit
  non-row events).

Offsets and alignment
---------------------
A stream offset is ``{"file": <name>, "pos": <absolute byte>}`` where
``pos`` is always an event-frame boundary.  The driver maintains an
incremental STATE-ONLY walk of new bytes per trigger (headers + CRC
framing + FDE/TABLE_MAP bodies; row images never decode on the driver
— the walk reuses the codec's ``only_ops=frozenset()`` pushdown), so
``latestOffset`` is frame-aligned by construction and the per-trigger
driver cost is proportional to NEW bytes only.  Decoder state resets
at every rotation (each file begins with magic + FDE), so shipping a
mid-file partition needs only (checksum alg, current TableMapState) at
the slice start — pickled into the InputPartition.  After a driver
restart the plan-state cache is empty and the executor rebuilds the
slice state from ITS OWN file's head (`prefix replay`, bounded by one
file, never by history).

Planning lists and reads files with local filesystem APIs: the
directory must be reachable from the driver and executors via
``open()`` (local disk / NFS / fuse mounts).  For object-store scans
use :func:`mysql_cdc_spark.sources.binlog_source.read_binlog_envelope`,
which plans through Spark's ``binaryFile`` source.
"""

from __future__ import annotations

import json
import os
from bisect import bisect_left
from dataclasses import dataclass
from operator import itemgetter
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from mysql_cdc_spark.sources.binlog_codec import (
    DELETE_ROWS_EVENT,
    FORMAT_DESCRIPTION_EVENT,
    HEADER_LEN,
    PREVIOUS_GTIDS_EVENT,
    ROTATE_EVENT,
    TYPE_VARCHAR,
    UPDATE_ROWS_EVENT,
    WRITE_ROWS_EVENT,
    BinlogWriter,
    TableDef,
    TableMapState,
    decode_binlog_incremental,
)
from mysql_cdc_spark.sources.binlog_source import (
    BINLOG_ENVELOPE_SCHEMA,
    FIXTURE_CATALOG,
    _ENVELOPE_COLS,
    LogDiscovery,
    _list_log_files,
    envelope_columns,
    images_for_columns,
    narrowed_envelope_schema,
    normalize_envelope_columns,
)

# Where useful event bytes start in every binlog file: 4-byte magic.
_DATA_START = 4

# Small-file packing never produces fewer than ~this many partitions
# (unless the 1 MB per-pack floor binds first): keeps pruned/small
# scans parallel while pack_bytes bounds per-task work at scale.
_PACK_MIN_FANOUT = 128

# IsNotNull(col) → the set of ROW ops that can satisfy it.  Envelope
# row-change rows never carry sql/xid (those live on query/xid/gtid/...
# rows, which only_ops cannot skip anyway), before-images exist only on
# update/delete, after-images only on write/update — so the pushed
# constraint intersects into only_ops and the codec skips every image
# that could not pass the post-scan re-filter.  frozenset() means "no
# row event qualifies": every row image skips.
_NOTNULL_OPS: dict[str, frozenset] = {
    "sql": frozenset(),
    "xid": frozenset(),
    "before": frozenset({"update_rows", "delete_rows"}),
    "after": frozenset({"write_rows", "update_rows"}),
}


# ---------------------------------------------------------------------------
# Options
# ---------------------------------------------------------------------------


def _parse_tables(s: str | None) -> set[tuple[str, str]] | None:
    """``"db.tbl,db2.tbl2"`` → ``{("db","tbl"), ("db2","tbl2")}``."""
    if not s:
        return None
    out = set()
    for part in s.split(","):
        part = part.strip()
        if not part:
            continue
        if "." not in part:
            raise ValueError(f"only_tables entry {part!r} is not db.tbl")
        db, tbl = part.split(".", 1)
        out.add((db, tbl))
    return out or None


def _parse_ops(s: str | None) -> set[str] | None:
    if not s:
        return None
    out = {p.strip() for p in s.split(",") if p.strip()}
    return out or None


def _parse_catalog(s: str | None) -> dict[tuple[str, str], list[str]]:
    """JSON ``{"db.tbl": ["col", ...]}`` → codec catalog.  Absent →
    the fixture catalog (mirroring ``read_binlog_envelope``'s default);
    an EXPLICIT ``"{}"`` means no catalog (names come from on-wire
    COLUMN_NAME TLVs or ordinals)."""
    if s is None:
        return FIXTURE_CATALOG
    raw = json.loads(s)
    for k in raw:
        if "." not in k:
            # a 1-tuple key can never match a (db, tbl) lookup — the
            # entry would be silently dead (names falling back to
            # TLVs/ordinals with no error); reject it like
            # _parse_tables does for the same mistake
            raise ValueError(f"catalog key is not db.tbl: {k!r}")
    return {tuple(k.split(".", 1)): v for k, v in raw.items()}


class _Opts:
    """Shared option parsing for the batch and stream readers.  Spark
    lowercases option keys, so all names here are lowercase."""

    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError(
                "mysql_binlog requires a path: .load('/dir/of/binlogs')"
            )
        # binaryFile-style URIs may arrive with a file: scheme; planning
        # and reads use plain open(), so strip it.
        if path.startswith("file:"):
            path = path[len("file:"):]
        self.path = path
        self.only_tables = _parse_tables(options.get("only_tables"))
        self.only_ops = _parse_ops(options.get("only_ops"))
        self.on_error = options.get("on_error", "raise")
        self.catalog = _parse_catalog(options.get("catalog"))
        self.since_file = options.get("since_file")
        so = options.get("since_offset")
        self.since_offset = int(so) if so is not None else _DATA_START
        # GTID-set resume: survives server failover (file names reset;
        # executed sets don't).  Resolved ONCE driver-side at reader
        # construction onto the same since_file/since_offset machinery.
        self.since_gtid = options.get("since_gtid")
        if self.since_gtid and options.get("since_file"):
            raise ValueError(
                "since_gtid and since_file are mutually exclusive"
            )
        # "0" disables, like the sibling knobs (split_bytes,
        # pack_bytes): a literal zero budget would otherwise pin the
        # frame-widening walk at want=0 — an infinite driver-side
        # loop, not a cap.
        mb = options.get("max_bytes_per_batch")
        self.max_bytes = int(mb) if mb is not None else None
        if self.max_bytes is not None and self.max_bytes <= 0:
            self.max_bytes = None
        sb = options.get("split_bytes")
        self.split_bytes = int(sb) if sb is not None else None
        if self.split_bytes is not None and self.split_bytes <= 0:
            self.split_bytes = None
        # Projection pruning: .option("columns", "log_file,offset,op")
        # narrows the DataSource's schema AND routes below decode —
        # when the projection reads neither image column the codec
        # width-walks row images instead of materializing values
        # (images= pushdown).  Explicit option rather than Catalyst
        # because Spark's Python Data Source protocol does not prune
        # columns into the reader (probed on 4.1.2: DataSource.reader
        # always receives the full schema and BatchScan outputs every
        # column; see PLANS.md round 17).
        self.ts_file_pruning = (
            options.get("ts_file_pruning", "true").lower() != "false"
        )
        # Small-file packing: rotated production logs cap at
        # max_binlog_size, but fixture/archive directories hold
        # thousands of sub-MB files — one task per file makes the scan
        # TASK-OVERHEAD-BOUND (measured at x100: every DataSource
        # variant flatlined at the ~4000-wave scheduling floor while
        # binaryFile bin-packed past it).  Whole files pack greedily
        # into partitions of ~pack_bytes decode work; "0" disables.
        pb = options.get("pack_bytes")
        self.pack_bytes = int(pb) if pb is not None else 32_000_000
        cols = options.get("columns")
        if cols is not None:
            self.columns = normalize_envelope_columns(
                [c.strip() for c in cols.split(",") if c.strip()]
            )
        else:
            self.columns = None

    @property
    def images(self) -> str:
        """Codec image mode implied by the projection."""
        return images_for_columns(self.columns)


# ---------------------------------------------------------------------------
# Arrow output
# ---------------------------------------------------------------------------


def _arrow_schema(columns: list[str] | None = None):
    import pyarrow as pa

    schema = pa.schema(
        [
            ("log_file", pa.string()),
            ("seq", pa.int64()),
            ("offset", pa.int64()),
            ("ts", pa.int64()),
            ("server_id", pa.int64()),
            ("xid", pa.int64()),
            ("db", pa.string()),
            ("tbl", pa.string()),
            ("op", pa.string()),
            ("row_idx", pa.int64()),
            ("before", pa.map_(pa.string(), pa.string())),
            ("after", pa.map_(pa.string(), pa.string())),
            ("sql", pa.string()),
            ("thread_id", pa.int64()),
            ("exec_time", pa.int64()),
            ("error_code", pa.int64()),
        ]
    )
    if columns is None:
        return schema
    keep = set(columns)
    return pa.schema([f for f in schema if f.name in keep])


def _arrow_batch(cols: dict[str, list], columns: list[str] | None = None):
    """Columnar envelope lists → one Arrow RecordBatch (the Python
    Data Source fast path: Spark ingests RecordBatches without a
    per-row Python→JVM conversion).  ``columns`` builds only the
    projected arrays — a pruned scan never constructs the (expensive)
    map arrays for image columns it doesn't ship."""
    import pyarrow as pa

    schema = _arrow_schema(columns)
    arrays = [
        pa.array(cols[f.name], type=f.type) for f in schema
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


# ---------------------------------------------------------------------------
# Slices: the one unit both readers plan and decode
# ---------------------------------------------------------------------------


@dataclass
class _StreamPartition(InputPartition):
    """One (file, [start, end)) frame-aligned byte slice — the only
    unit either reader plans or decodes: a whole batch file is the
    slice ``[4, size)``, a stream trigger plans one slice per file in
    its offset range, and ``split_bytes`` cuts an oversized file into
    several.  ``alg``/``tmap`` carry the decoder state at ``start``
    when the driver planned this slice from a walk; ``prefix_replay``
    is the restart path — the executor rebuilds state from the file
    head (state never crosses files)."""

    path: str
    log_file: str
    start: int
    end: int
    alg: str | None = None
    tmap: TableMapState | None = None
    prefix_replay: bool = False
    # frame count consumed in [_DATA_START, start): seeds the codec's
    # seq counter so a mid-file slice emits FILE-GLOBAL seq — capped
    # stream triggers and split_bytes slices number frames exactly as
    # one whole-file decode would (r16 ADVICE: slice-local seq
    # collided within one log_file)
    seq_base: int = 0


@dataclass
class _PackedStreamPartition(InputPartition):
    """Several whole-file slices in one task.  A directory of
    thousands of sub-MB files (fixture and archive directories, a deep
    stream backlog) would otherwise be task-overhead-bound; decode
    state never crosses files, so packing is pure scheduling — each
    slice decodes on its own and emits its own arrow batch."""

    slices: list  # [_StreamPartition, ...]


def _pack(whole: list[_StreamPartition], pack_bytes: int) -> list:
    """Greedy rotation-order bin-pack of whole-file slices, the one
    packing path of the batch scan and the stream catch-up planner;
    ``pack_bytes <= 0`` disables.  Per-bin target =
    min(pack_bytes, max(1 MB floor, total / _PACK_MIN_FANOUT)):
    pack_bytes caps per-task decode work at scale, the fan-out floor
    keeps small/pruned scans parallel, and an explicit pack_bytes
    below the floor is honored as given.  Measured (PLANS r17): the
    x100 scan was task-wave-bound at one partition per file, and a
    first cut WITHOUT the fan-out floor serialized a pruned 20 MB scan
    onto one core."""
    if pack_bytes <= 0 or len(whole) < 2:
        return list(whole)
    sizes = [s.end for s in whole]  # a whole-file slice reads [0, end)
    target = min(
        pack_bytes,
        max(min(1_000_000, pack_bytes), sum(sizes) // _PACK_MIN_FANOUT),
    )
    bins: list[list[_StreamPartition]] = []
    acc = 0
    for s, sz in zip(whole, sizes):
        if not bins or acc + sz > target:
            bins.append([])
            acc = 0
        bins[-1].append(s)
        acc += sz
    return [_PackedStreamPartition(b) if len(b) > 1 else b[0] for b in bins]


def _resolve_since_gtid(o: _Opts) -> None:
    """Map a since_gtid= executed set onto (since_file, since_offset)
    — once, driver-side, before the reader pickles to executors.  The
    resolution (PREVIOUS_GTIDS file skip + one state-only walk) lives
    in binlog_source.resolve_gtid_resume; an empty directory leaves
    the resume unset (the scan is empty anyway)."""
    if not o.since_gtid:
        return
    from mysql_cdc_spark.sources.binlog_codec import parse_gtid_set
    from mysql_cdc_spark.sources.binlog_source import resolve_gtid_resume

    hit = resolve_gtid_resume(
        o.path, parse_gtid_set(o.since_gtid), o.catalog
    )
    if hit is not None:
        o.since_file, o.since_offset = hit
    o.since_gtid = None  # resolved once; repeated calls are no-ops


def _file_head_ts(path: str) -> tuple[int | None, int | None]:
    """(first payload ts, min head ts) from an O(1) header peek: walk
    the first few frame headers (19 bytes each: LE32 ts, type u8, ...,
    LE32 event_len at offset 9).  The FIRST PAYLOAD timestamp skips
    log-artifact events (FDE/PREVIOUS_GTIDS/ROTATE carry bookkeeping
    timestamps, often 0, that say nothing about the data's range) and
    anchors the LOWER-bound prune.  The MIN over every walked header
    whose op can SURFACE in the envelope (previous_gtids yes; FDE and
    ROTATE never emit rows, so their bookkeeping timestamps are
    irrelevant) anchors the UPPER-bound prune: a ``ts <= hi`` query
    can match a previous_gtids row written with ts 0, so pruning on
    payload ts alone would drop rows the re-filter keeps (found in
    the r17 review).  Bounded to one 4 KB read; (None, None) when nothing
    decodable starts there."""
    try:
        with open(path, "rb") as fh:
            fh.seek(_DATA_START)
            head = fh.read(4096)
    except OSError:
        return None, None
    artifacts = (
        FORMAT_DESCRIPTION_EVENT, PREVIOUS_GTIDS_EVENT, ROTATE_EVENT,
    )
    pos = 0
    first_payload: int | None = None
    min_ts: int | None = None
    while pos + HEADER_LEN <= len(head):
        ts = int.from_bytes(head[pos:pos + 4], "little")
        type_code = head[pos + 4]
        event_len = int.from_bytes(head[pos + 9:pos + 13], "little")
        if event_len < HEADER_LEN:
            break
        if type_code not in (FORMAT_DESCRIPTION_EVENT, ROTATE_EVENT):
            # only ops that can surface as envelope rows participate
            min_ts = ts if min_ts is None else min(min_ts, ts)
        if type_code not in artifacts:
            first_payload = ts
            break
        pos += event_len
    return first_payload, min_ts


def _scan_state_events(events: list[dict], alg: str | None) -> str | None:
    """Fold FDE declarations out of a walk's event list."""
    for ev in events:
        if "checksum_alg" in ev:
            alg = ev["checksum_alg"]
    return alg


def _walk_window(
    fh,
    start: int,
    limit: int,
    want: int,
    alg: str | None,
    tmap: TableMapState | None,
    seq: int,
    catalog: dict,
    on_error: str,
) -> tuple[int, str | None, TableMapState | None, int]:
    """State-only walk of the frames in ``[start, start + want)``
    (capped at ``limit``) of the open file ``fh``, from the decoder
    state (``alg``, ``tmap``, ``seq``) at ``start``.  Row images skip
    through the codec's ``only_ops=frozenset()`` pushdown; headers,
    CRC framing, FDE and TABLE_MAP bodies still decode, so the result
    ``(next, alg, tmap, seq)`` is the exact decoder state at a frame
    boundary.  A head walk reads from byte 0 with fresh state, so the
    magic check and the FDE checksum autodetect run from a clean slate.

    A window holding no complete frame doubles until one frame
    decodes or the window reaches ``limit`` (floored at 1, so a
    degenerate budget can never pin the loop): a budget smaller than
    one frame would otherwise return without advancing, and every
    later call would repeat it — the silent-stall mode (r16 ADVICE).
    Serves split planning (``on_error="quarantine"``) and the stream
    planner (the user's ``on_error``: a raise-mode corrupt frame fails
    at plan time, before the offset WAL advances past it)."""
    if start <= _DATA_START:
        start, alg, tmap, seq = _DATA_START, None, None, 0
        base = 0
    else:
        base = start
    while True:
        fh.seek(base)
        data = fh.read(min(start + want, limit) - base)
        events, nxt, out_tmap, out_seq = decode_binlog_incremental(
            data, start, tmap, catalog, base=base, on_error=on_error,
            checksum=alg, only_ops=frozenset(), seq_base=seq,
        )
        if nxt > start or start + want >= limit:
            return nxt, _scan_state_events(events, alg), out_tmap, out_seq
        want = max(want, 1) * 2


def _decode_slice(
    part: _StreamPartition,
    catalog: dict,
    on_error: str,
    only_tables,
    only_ops,
    images: str = "both",
    stringify: bool = False,
    *,
    min_row_offset: int = 0,
    max_offset: int | None = None,
    row_ts_min: int | None = None,
    row_ts_max: int | None = None,
) -> list[dict]:
    """Decode every frame that starts in one slice's ``[start, end)``
    — the one decoder behind both readers.

    A slice at the file head, or one marked ``prefix_replay`` (a driver
    restart lost its planned state), decodes from the file head: state
    resets at rotation, so one file bounds the replay.  Any other slice
    decodes from its shipped (checksum, table-map, seq) state.

    Records below the keep offset — the slice start, or
    ``min_row_offset`` (the batch scan's since cut on the boundary file
    and a pushed ``offset >=`` bound) — are dropped, and the codec
    skips their row images.  ``max_offset`` (a pushed ``offset <=``
    bound) stops the READ at the last frame that can pass it (frame
    starts are the envelope offsets, monotone by construction) and
    completes the one frame that straddles it.  ``row_ts_min``/
    ``row_ts_max`` skip the images of row frames outside a pushed
    ``ts`` range.  Offset and ts pushdown are partial: Spark re-filters
    every row, so they only save decode work."""
    keep = max(part.start, min_row_offset)
    if part.start <= _DATA_START or part.prefix_replay:
        base, pos, alg, tmap, seq = 0, _DATA_START, None, None, 0
    else:
        base, pos = part.start, part.start
        alg, tmap, seq = part.alg, part.tmap, part.seq_base
    stop = part.end
    if max_offset is not None:
        # clamp to the magic: a bound below it (offset <= 0) must
        # yield an EMPTY scan, not a bad-magic error
        stop = min(stop, max(max_offset + 1, _DATA_START))
    events: list[dict] = []
    with open(part.path, "rb") as fh:
        fh.seek(base)
        data = fh.read(max(stop - base, 0))
        while True:
            got, nxt, tmap, seq = decode_binlog_incremental(
                data,
                pos,
                tmap,
                catalog,
                base=base,
                on_error=on_error,
                checksum=alg,
                only_tables=only_tables,
                only_ops=only_ops,
                seq_base=seq,
                images=images,
                # the codec's range test runs per frame only when set
                min_row_offset=keep if keep > pos else 0,
                row_ts_min=row_ts_min,
                row_ts_max=row_ts_max,
                stringify=stringify,
            )
            events += got
            if stop == part.end or nxt >= stop:
                break
            # one frame starts at or below max_offset but runs past the
            # bounded read: complete exactly that frame (its successor
            # starts past the bound, so one round suffices)
            alg = _scan_state_events(got, alg)
            fh.seek(nxt + 9)
            flen = int.from_bytes(fh.read(4), "little")
            fh.seek(nxt)
            data = fh.read(min(flen, part.end - nxt))
            base = pos = nxt
            stop = part.end
    if part.prefix_replay and nxt < part.end:
        raise ValueError(
            f"offset {part.end} of {part.log_file} is not "
            f"frame-aligned (walk stopped at {nxt})"
        )
    i = bisect_left(events, keep, key=itemgetter("offset"))
    return events[i:] if i else events


def _slices(partition) -> list[_StreamPartition]:
    """The slices one planned partition decodes, in order."""
    if isinstance(partition, _PackedStreamPartition):
        return partition.slices
    return [partition]


def _slice_batch(sl: _StreamPartition, o: _Opts, only_tables, only_ops,
                 **pushdown):
    """One slice → one arrow RecordBatch of (projected) envelope rows."""
    events = _decode_slice(
        sl, o.catalog, o.on_error, only_tables, only_ops, o.images,
        stringify=True, **pushdown,
    )
    cols, _ = envelope_columns(
        events, sl.log_file, frame_seq=True, stringified=True
    )
    return _arrow_batch(cols, o.columns)


def _split_file(
    path: str, catalog: dict, split_bytes: int, end: int | None = None
) -> list[_StreamPartition]:
    """Frame-aligned split plan for ONE oversized log file: a driver
    state-only walk (:func:`_walk_window`) captures (offset, checksum,
    table-map, seq) at ~``split_bytes`` boundaries, so executors decode
    the slices IN PARALLEL from shipped state.  Real binlogs rotate at
    max_binlog_size (~1 GB), but an operator who raised it should not
    be stuck with one 100 GB task: the serial planner walk costs one
    state-pass; the decode fans out.  A frame larger than the window
    widens the read until it fits."""
    size = os.path.getsize(path)
    if end is not None:
        size = min(size, end)
    name = os.path.basename(path)
    slices: list[_StreamPartition] = []
    pos: int = _DATA_START
    alg: str | None = None
    tmap: TableMapState | None = None
    seq: int = 0
    with open(path, "rb") as fh:
        while pos < size:
            nxt, n_alg, n_tmap, n_seq = _walk_window(
                fh, pos, size, split_bytes, alg, tmap, seq, catalog,
                "quarantine",
            )
            if nxt <= pos:
                # torn tail / header-less remainder: nothing further
                # is decodable, and the last slice already covers
                # every complete frame
                break
            slices.append(
                _StreamPartition(path, name, pos, nxt, alg, tmap, seq_base=seq)
            )
            pos, alg, tmap, seq = nxt, n_alg, n_tmap, n_seq
    return slices


# ---------------------------------------------------------------------------
# Batch reader
# ---------------------------------------------------------------------------


class _BinlogBatchReader(DataSourceReader):
    """Batch scan over frame-aligned slices with partial Catalyst
    pushdown.  Each log file is the slice ``[4, size)``; small files
    bin-pack into one task (``pack_bytes``) and an oversized file
    splits at frame boundaries (``split_bytes``).  Every slice decodes
    through :func:`_decode_slice`, the stream reader's decoder, so
    split slices get the same pushdown as whole files.

    ``pushFilters`` records what the codec can exploit and returns
    EVERY filter back to Spark (partial pushdown):

    * ``db``/``tbl`` equality or IN (both columns present) →
      ``only_tables`` — row images for other tables skip body decode;
    * ``op`` equality or IN → ``only_ops`` — row images for other
      delta types skip body decode;
    * ``log_file`` comparisons → driver-side FILE PRUNING — excluded
      files never enter the scan at all;
    * ``IsNotNull`` on an op-determined column (``sql``/``xid`` are
      never non-null on row events; ``before`` only on update/delete,
      ``after`` only on write/update) → an ``only_ops`` constraint —
      e.g. ``after IS NOT NULL`` skips every delete image;
    * ``offset`` ranges → the frame walk's natural cut: an upper
      bound stops each slice's READ at the last needed frame, and a
      lower bound is the keep offset ``since=`` also uses — frames
      below it skip image parsing and their records drop;
    * ``ts`` ranges → row frames outside the bounds skip image
      parsing, and whole files outside the bounds are pruned
      driver-side from an O(1) first-event-timestamp peek (the
      mysqlbinlog --start/stop-datetime play: assumes the log
      sequence's timestamps are non-decreasing, which a single
      server's clock gives; .option("ts_file_pruning", "false")
      disables the file-level prune, the frame-level skip is
      assumption-free).
    """

    def __init__(self, options: dict) -> None:
        self._o = _Opts(options)
        _resolve_since_gtid(self._o)
        # pushFilters results (None = not pushed)
        self._f_dbs: set[str] | None = None
        self._f_tbls: set[str] | None = None
        self._f_ops: set[str] | None = None
        self._f_notnull_ops: set[str] | None = None
        self._f_file_eq: set[str] | None = None
        self._f_file_lo: tuple[str, bool] | None = None  # (bound, inclusive)
        self._f_file_hi: tuple[str, bool] | None = None
        # inclusive int bounds (normalized from >/>=/</<=)
        self._f_off_lo: int | None = None
        self._f_off_hi: int | None = None
        self._f_ts_lo: int | None = None
        self._f_ts_hi: int | None = None

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            attr = getattr(f, "attribute", None)
            if not (isinstance(attr, tuple) and len(attr) == 1):
                continue
            col = attr[0]
            if isinstance(f, EqualTo) and isinstance(f.value, str):
                if col == "db":
                    self._f_dbs = {f.value}
                elif col == "tbl":
                    self._f_tbls = {f.value}
                elif col == "op":
                    self._f_ops = {f.value}
                elif col == "log_file":
                    self._f_file_eq = {f.value}
            elif isinstance(f, In):
                vals = {v for v in f.value if isinstance(v, str)}
                if len(vals) != len(f.value):
                    continue
                if col == "db":
                    self._f_dbs = vals
                elif col == "tbl":
                    self._f_tbls = vals
                elif col == "op":
                    self._f_ops = vals
                elif col == "log_file":
                    self._f_file_eq = vals
            elif col == "log_file" and isinstance(getattr(f, "value", None), str):
                if isinstance(f, GreaterThan):
                    self._f_file_lo = (f.value, False)
                elif isinstance(f, GreaterThanOrEqual):
                    self._f_file_lo = (f.value, True)
                elif isinstance(f, LessThan):
                    self._f_file_hi = (f.value, False)
                elif isinstance(f, LessThanOrEqual):
                    self._f_file_hi = (f.value, True)
            elif isinstance(f, IsNotNull) and col in _NOTNULL_OPS:
                if col in ("sql", "xid") and self._o.on_error == "quarantine":
                    # quarantine rows CARRY sql (the dead-letter
                    # reason) and are produced by row-body decode —
                    # skipping row bodies under 'sql IS NOT NULL'
                    # would hide exactly the rows a dead-letter audit
                    # queries for (r17 review)
                    continue
                ops = _NOTNULL_OPS[col]
                self._f_notnull_ops = (
                    ops if self._f_notnull_ops is None
                    else self._f_notnull_ops & ops
                )
            elif col in ("offset", "ts") and isinstance(
                getattr(f, "value", None), int
            ) and not isinstance(f.value, bool):
                v = f.value
                lo = hi = None
                if isinstance(f, GreaterThan):
                    lo = v + 1
                elif isinstance(f, GreaterThanOrEqual):
                    lo = v
                elif isinstance(f, LessThan):
                    hi = v - 1
                elif isinstance(f, LessThanOrEqual):
                    hi = v
                elif isinstance(f, EqualTo):
                    lo = hi = v
                if col == "offset":
                    if lo is not None:
                        self._f_off_lo = (
                            lo if self._f_off_lo is None
                            else max(self._f_off_lo, lo)
                        )
                    if hi is not None:
                        self._f_off_hi = (
                            hi if self._f_off_hi is None
                            else min(self._f_off_hi, hi)
                        )
                else:
                    if lo is not None:
                        self._f_ts_lo = (
                            lo if self._f_ts_lo is None
                            else max(self._f_ts_lo, lo)
                        )
                    if hi is not None:
                        self._f_ts_hi = (
                            hi if self._f_ts_hi is None
                            else min(self._f_ts_hi, hi)
                        )
        # Partial pushdown: the codec skip keeps non-row events (a
        # db='x' filter must still drop xid/gtid rows) and `seq`
        # numbering under only_* differs from delivered positions —
        # Spark re-evaluates everything post-scan.
        return filters

    def _effective_tables(self) -> set[tuple[str, str]] | None:
        pushed = (
            {(d, t) for d in self._f_dbs for t in self._f_tbls}
            if self._f_dbs and self._f_tbls
            else None
        )
        if pushed is None:
            return self._o.only_tables
        if self._o.only_tables is None:
            return pushed
        return pushed & self._o.only_tables

    def _effective_ops(self) -> set[str] | None:
        eff = self._o.only_ops
        for pushed in (self._f_ops, self._f_notnull_ops):
            if pushed is not None:
                eff = pushed if eff is None else eff & pushed
        return eff

    def partitions(self) -> Sequence[InputPartition]:
        o = self._o
        paths = _list_log_files(o.path, o.since_file)
        if self._f_file_eq is not None:
            paths = [p for p in paths if os.path.basename(p) in self._f_file_eq]
        if self._f_file_lo is not None:
            b, inc = self._f_file_lo
            paths = [
                p for p in paths
                if (os.path.basename(p) >= b if inc else os.path.basename(p) > b)
            ]
        if self._f_file_hi is not None:
            b, inc = self._f_file_hi
            paths = [
                p for p in paths
                if (os.path.basename(p) <= b if inc else os.path.basename(p) < b)
            ]
        if (
            (self._f_ts_lo is not None or self._f_ts_hi is not None)
            and self._o.ts_file_pruning
        ):
            paths = self._prune_by_ts(paths)
        split: list[_StreamPartition] = []
        whole: list[_StreamPartition] = []
        for p in paths:
            name = os.path.basename(p)
            size = os.path.getsize(p)
            if o.split_bytes is not None and size > o.split_bytes * 2:
                # oversized log: frame-aligned intra-file splits from a
                # driver state walk — slices decode in parallel from
                # shipped state (file-global seq via seq_base; split
                # points are filter-invariant, so pushdown transparency
                # holds; identity stays (log_file, offset, row_idx)).
                # Slices wholly before the resume point drop here.
                cut = o.since_offset if name == o.since_file else 0
                split += [
                    s for s in _split_file(p, o.catalog, o.split_bytes)
                    if s.end > cut
                ]
            else:
                whole.append(_StreamPartition(p, name, _DATA_START, size))
        return split + _pack(whole, o.pack_bytes)

    def _prune_by_ts(self, paths: list[str]) -> list[str]:
        """mysqlbinlog --start/stop-datetime-style file pruning from an
        O(1) per-file peek at the FIRST event's timestamp (bytes
        [4, 8) — every file opens with its FDE header).  Assumes the
        log sequence's timestamps are non-decreasing, the same
        single-server-clock assumption every point-in-time-recovery
        replay makes; .option("ts_file_pruning", "false") turns this
        off (the frame-level ts skip in the codec needs no
        assumption).  A file f is out below a lower bound only when
        the NEXT file's first timestamp is strictly below it (every
        event in f precedes the successor's first event); out above an
        upper bound when f's OWN first timestamp exceeds it."""
        heads = [_file_head_ts(p) for p in paths]
        firsts = [h[0] for h in heads]
        keep = []
        for i, p in enumerate(paths):
            if (
                self._f_ts_hi is not None
                and heads[i][1] is not None
                and heads[i][1] > self._f_ts_hi
            ):
                # upper bound compares the MIN head timestamp
                # (artifacts included): an artifact envelope row with
                # a small ts must keep its file in the scan
                continue
            if (
                self._f_ts_lo is not None
                and i + 1 < len(paths)
                and firsts[i + 1] is not None
                and firsts[i + 1] < self._f_ts_lo
            ):
                continue
            keep.append(p)
        return keep

    def read(self, partition: _StreamPartition | None) -> Iterator:
        o = self._o
        if partition is None:
            # Spark substitutes a single None partition when
            # partitions() returned none (e.g. `since` pruned every
            # file): an empty scan, not an error.
            yield _arrow_batch({c: [] for c in _ENVELOPE_COLS}, o.columns)
            return
        only_tables, only_ops = self._effective_tables(), self._effective_ops()
        for sl in _slices(partition):
            cut = o.since_offset if sl.log_file == o.since_file else 0
            yield _slice_batch(
                sl, o, only_tables, only_ops,
                min_row_offset=max(self._f_off_lo or 0, cut),
                max_offset=self._f_off_hi,
                row_ts_min=self._f_ts_lo,
                row_ts_max=self._f_ts_hi,
            )


# ---------------------------------------------------------------------------
# Stream reader
# ---------------------------------------------------------------------------


class _BinlogStreamReader(DataSourceStreamReader):
    """Structured Streaming over a live rotated binlog directory.

    Per trigger the driver walks only the NEW bytes (state-only: the
    codec's ``only_ops=frozenset()`` pushdown skips every row image —
    headers, CRC framing, FDE and TABLE_MAP bodies still decode so
    frame alignment and shipped decode state stay exact), advances
    through rotations when a file is fully consumed and a successor
    exists, and holds back torn tails for the next trigger (the
    codec's fits-in-data guard).  ``max_bytes_per_batch`` caps how far
    one trigger advances — the backpressure bound, playing the role of
    the reference's queue capacity 10 (jdbc.clj:44) and Kafka's
    maxOffsetsPerTrigger.
    """

    def __init__(self, options: dict) -> None:
        self._o = _Opts(options)
        # since_gtid resolves lazily in initialOffset(): only a FRESH
        # query needs it, and a checkpoint restart never calls
        # initialOffset — resolving here would read boundary files
        # driver-side on every restart for a value that is discarded
        # (r17 review).
        # Live driver walk (per query run; rebuilt after restart).
        self._cur: dict | None = None
        self._alg: str | None = None
        self._tmap: TableMapState | None = None
        # frames consumed since the CURRENT file's head — seeds
        # mid-file slices' seq_base so emitted seq stays file-global
        # under capped triggers (r16 ADVICE)
        self._seq: int = 0
        # (file, pos) -> (alg, tmap, seq) recorded at each planned
        # offset so mid-file slices ship exact state; pruned on
        # commit().
        self._plan_state: dict[tuple[str, int], tuple] = {}
        # O(new-files) discovery (r18 VERDICT #1): steady-state
        # triggers probe the dense rotated namespace forward instead
        # of full-listing the directory per call.
        self._disc = LogDiscovery(self._o.path)
        # last offset this reader returned — echoed verbatim on
        # no-data triggers so offset JSON equality holds (see
        # latestOffset)
        self._last_end: dict | None = None

    # -- offsets ----------------------------------------------------------

    def _trace(self, msg: str) -> None:
        """Protocol trace (BINLOG_DS_TRACE=<path>): the reader runs in
        Spark's python streaming-source-runner process, invisible to
        driver-side debuggers — this is how the availableNow
        single-batch-fallback bug was isolated."""
        p = os.environ.get("BINLOG_DS_TRACE")
        if p:
            with open(p, "a") as fh:
                fh.write(msg + "\n")

    def initialOffset(self) -> dict:
        self._trace("initialOffset")
        _resolve_since_gtid(self._o)
        o = self._o
        if o.since_file is not None:
            return {"file": o.since_file, "pos": o.since_offset}
        files = _list_log_files(o.path)
        if files:
            return {"file": os.path.basename(files[0]), "pos": _DATA_START}
        return {"file": "", "pos": _DATA_START}

    def _anchor(self, names: list[str]) -> None:
        """First latestOffset of this reader instance: anchor the walk
        at the head of the LAST file.  Decoder state resets per file
        (magic + FDE), so alignment and table-map state never need
        history — restart recovery is bounded by one file, not by the
        log's lifetime."""
        if self._cur is not None:
            return
        if not names:
            self._cur = {"file": "", "pos": _DATA_START}
            return
        self._cur = {
            "file": names[-1],
            "pos": _DATA_START,
        }
        self._alg = None
        self._tmap = None
        self._seq = 0

    def latestOffset(self) -> dict:
        # The FIRST walk after (re)construction runs uncapped to the
        # true head: a capped first walk could return an offset BEHIND
        # a restored checkpoint (this reader anchors blind — the
        # protocol gives it no start), and an end < start regresses
        # the offset log into duplicate delivery.  From the second
        # trigger on the cursor is ≥ every prior end, so the cap is
        # regression-safe.  Net contract: max_bytes_per_batch bounds
        # STEADY-STATE triggers; the first trigger after a (re)start
        # drains the backlog in one (per-file-parallel) batch.
        fresh = self._cur is None
        o = self._o
        # One NAMESPACE snapshot per call — O(new files) in steady
        # state (LogDiscovery probes the dense rotated numbering
        # forward; r18 VERDICT #1); the first call full-lists once to
        # anchor.  Sizes are stat'd lazily and memoized for the call,
        # so the per-trigger stat cost is O(files the walk visits),
        # never O(backlog) — and each file's size is still read at
        # most ONCE per trigger: a writer appending faster than the
        # walk can never keep this trigger alive forever; bytes
        # landing after a file's first stat belong to the next trigger
        # (the head a Kafka source reports is a point-in-time snapshot
        # for the same reason).
        names = self._disc.refresh(
            min_name=self._cur["file"] or None if self._cur else None
        )
        self._anchor(names)
        if fresh and self._cur["file"]:
            # the anchor sits at the LAST file: everything before it
            # is behind the cursor for good
            names = [n for n in names if n >= self._cur["file"]]
            self._disc.prune(self._cur["file"])
        budget = None if fresh else o.max_bytes
        sizes: dict[str, int | None] = {}

        def _size(name: str) -> int | None:
            if name not in sizes:
                try:
                    sizes[name] = os.path.getsize(
                        os.path.join(o.path, name)
                    )
                except OSError:
                    sizes[name] = None
            return sizes[name]
        # Files fully consumed DURING this walk, name -> byte extent at
        # consumption time: recorded into the offset JSON so a replayed
        # batch reads exactly the bytes this walk saw even if a rotated
        # file grows afterwards (late append — shouldn't happen with a
        # real server, but determinism should not rest on "shouldn't").
        ends: dict[str, int] = {}
        # Planning decodes state-only but with the USER's on_error: in
        # 'raise' mode a corrupt frame must fail HERE, before the
        # offset WAL advances past it — planning with quarantine would
        # commit an offset range whose executor decode (in raise mode)
        # poisons every task retry behind an already-logged offset
        # (r16 ADVICE).  Residual window, documented: on a checksum-
        # free log, row-image body corruption is invisible to the
        # state-only walk (images are skipped) and still surfaces
        # executor-side only.
        plan_on_error = o.on_error
        while True:
            cur_file = self._cur["file"]
            pos = self._cur["pos"]
            if cur_file == "":
                if not names:
                    break
                self._cur = {"file": names[0], "pos": _DATA_START}
                self._alg = None
                self._tmap = None
                self._seq = 0
                continue
            fpath = os.path.join(o.path, cur_file)
            size = _size(cur_file)
            if size is None:
                break
            if pos < size:
                avail = size - pos
                want = avail
                if budget is not None:
                    want = min(want, budget)
                head = pos <= _DATA_START
                if (
                    head
                    and budget is not None
                    and budget >= avail
                    and names
                    and names[-1] > cur_file
                ):
                    # FAST-FORWARD a fully-budgeted, already-rotated
                    # file (r18): decoder state resets at every file
                    # head and rotated files are immutable, so the
                    # state-only walk adds nothing the executor decode
                    # doesn't redo — and at a deep backlog it is THE
                    # driver-side serial bottleneck (measured x100:
                    # 100 s of budgeted planning walks over 2 GB vs
                    # 0.1 s for the anchor-at-head first walk).  This
                    # matches the FIRST batch, which plans whole
                    # rotated files without walking them — so a
                    # corrupt frame inside such a file surfaces
                    # executor-side in raise mode on both paths, while
                    # mid-file slices (the live tail, the budget
                    # boundary file) keep the walk and its plan-time
                    # raise (r16 ADVICE).  The last file never
                    # fast-forwards: its tail may be torn and the walk
                    # is the hold-back.
                    self._alg = None
                    self._tmap = None
                    self._seq = 0
                    self._cur = {"file": cur_file, "pos": size}
                    budget -= avail
                    if budget <= 0:
                        break
                    continue
                # a window smaller than one frame widens past the
                # budget until one frame decodes: the cap bounds
                # steady-state triggers, never below one frame
                with open(fpath, "rb") as fh:
                    nxt, self._alg, self._tmap, self._seq = _walk_window(
                        fh, pos, size, want, self._alg, self._tmap,
                        self._seq, o.catalog, plan_on_error,
                    )
                advanced = nxt - pos
                self._cur = {"file": cur_file, "pos": nxt}
                if budget is not None:
                    budget -= advanced
                    if budget <= 0:
                        break
                if advanced == 0:
                    # torn tail with no complete frame yet — or a
                    # header-less stub: wait for more bytes
                    if self._maybe_rotate(cur_file, nxt, size, names, ends):
                        continue
                    break
                continue
            if self._maybe_rotate(cur_file, pos, size, names, ends):
                continue
            break
        end = dict(self._cur)
        if ends:
            end["ends"] = ends
        elif (
            self._last_end is not None
            and self._last_end["file"] == end["file"]
            and self._last_end["pos"] == end["pos"]
        ):
            # No new data this trigger: echo the PREVIOUS offset
            # verbatim (including its "ends" key).  Spark compares
            # offsets as JSON — a {file,pos} that drops the committed
            # offset's "ends" reads as "new data" and schedules one
            # spurious empty micro-batch after every
            # rotation-containing batch (r19 review).
            end = self._last_end
        self._last_end = end
        self._trace(f"latestOffset -> {end}")
        self._plan_state[(end["file"], end["pos"])] = (
            self._alg,
            self._tmap,
            self._seq,
        )
        return end

    def _maybe_rotate(
        self,
        cur_file: str,
        pos: int,
        size: int,
        names: list[str],
        ends: dict[str, int],
    ) -> bool:
        """Advance to the successor file iff the current file is fully
        consumed (every byte sits inside a decoded frame — real
        writers emit ROTATE as the final event, so fully-consumed
        means the rotation really happened).  ``names`` is the
        caller's per-trigger directory snapshot; the consumed file's
        byte extent is recorded into ``ends`` (→ the offset JSON) so
        replay reads exactly these bytes."""
        if pos < size:
            return False
        succ = [n for n in names if n > cur_file]
        if not succ:
            return False
        ends[cur_file] = size
        self._cur = {"file": succ[0], "pos": _DATA_START}
        self._alg = None
        self._tmap = None
        self._seq = 0
        return True

    # -- planning ---------------------------------------------------------

    def _range_files(self, s_file: str, e_file: str) -> list[str]:
        """Full paths of the rotated logs in [s_file, e_file], by
        dense-index enumeration — O(files in the batch) existence
        checks instead of a full directory listing (r18 VERDICT #1:
        planning cost must follow the batch, not the backlog).  Falls
        back to the pruned full listing when the boundary names don't
        share a stem/width (mixed directories; an open start), or when
        discovery has not yet CONFIRMED the directory is single-stem
        dense (r19 review: a nested stem like binlog.000001.000002
        matches the rotated pattern and sits between dense neighbors
        — the walk consumes it, so enumeration skipping it would be
        silent data loss; LogDiscovery.dense_verified carries the
        confirmation, and a restart replay that plans before any
        latestOffset simply pays one full listing).  A name missing
        from the dense range is skipped — exactly what the listing
        did."""
        o = self._o
        if s_file and self._disc.dense_verified():
            try:
                s_stem, s_suf = s_file.rsplit(".", 1)
                e_stem, e_suf = e_file.rsplit(".", 1)
                lo, hi = int(s_suf), int(e_suf)
            except ValueError:
                s_stem, e_stem = None, ""
            if s_stem == e_stem and len(s_suf) == len(e_suf) and lo <= hi:
                width = len(s_suf)
                return [
                    p
                    for idx in range(lo, hi + 1)
                    if os.path.isfile(
                        p := os.path.join(
                            o.path, f"{s_stem}.{idx:0{width}d}"
                        )
                    )
                ]
        return [
            p
            for p in _list_log_files(o.path, s_file or None)
            if os.path.basename(p) <= e_file
        ]

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        self._trace(f"partitions {start} -> {end}")
        o = self._o
        if end.get("file", "") == "" or start == end:
            return []
        s_file = start.get("file", "")
        paths = self._range_files(s_file, end["file"])
        out: list[_StreamPartition] = []
        # Byte extents of files fully consumed in the walk that
        # produced `end`: replay must read the bytes THAT walk saw,
        # not today's os.path.getsize (a rotated file that grew after
        # consumption would otherwise make replayed batches
        # non-deterministic).  Old checkpoints (pre-`ends` offsets)
        # fall back to getsize under the rotated-files-are-immutable
        # assumption that was previously implicit.
        ends = end.get("ends", {})
        # whole-file catch-up slices, the only ones that bin-pack:
        # mid-file resume and split slices stay standalone
        whole: list[_StreamPartition] = []
        for p in paths:
            name = os.path.basename(p)
            s = start["pos"] if name == s_file else _DATA_START
            if name == end["file"]:
                e = end["pos"]
            elif name in ends:
                e = ends[name]
                try:
                    now = os.path.getsize(p)
                except OSError:
                    now = e
                if now > e:
                    # a rotated file GREW after the walk consumed it —
                    # outside the rotated-files-are-immutable contract
                    # that `ends` replay and the budgeted fast-forward
                    # rely on; make the skipped tail observable
                    # instead of silent (r18 ADVICE).
                    self._trace(
                        f"consumed file grew after snapshot: {name} "
                        f"{e} -> {now} (tail not replayed)"
                    )
            else:
                e = os.path.getsize(p)
            if s >= e:
                continue
            if s <= _DATA_START:
                if (
                    o.split_bytes is not None
                    and e > o.split_bytes * 2
                ):
                    # catch-up over an oversized file (a complete
                    # historical giant, or the first uncapped drain of
                    # a huge live tail): frame-aligned intra-file
                    # splits so one file does not serialize the batch.
                    # Slices carry file-global seq_base; downstream
                    # per-file assembly (keyed by log_file) is
                    # unaffected by the slicing.
                    out.extend(
                        _split_file(p, o.catalog, o.split_bytes, end=e)
                    )
                    continue
                whole.append(_StreamPartition(p, name, s, e))
            else:
                st = self._plan_state.get((name, s))
                if st is not None:
                    alg, tmap, seq = st
                    out.append(
                        _StreamPartition(
                            p, name, s, e, alg, tmap, seq_base=seq
                        )
                    )
                else:
                    # driver restarted since `s` was planned: the
                    # executor rebuilds state from ITS file's head
                    out.append(
                        _StreamPartition(p, name, s, e, prefix_replay=True)
                    )
        return out + _pack(whole, o.pack_bytes)

    def commit(self, end: dict) -> None:
        key = (end.get("file", ""), end.get("pos", 0))
        self._plan_state = {
            k: v for k, v in self._plan_state.items() if k >= key
        }

    # -- executor ---------------------------------------------------------

    def read(self, partition: _StreamPartition) -> Iterator:
        o = self._o
        for sl in _slices(partition):
            yield _slice_batch(sl, o, o.only_tables, o.only_ops)

    def stop(self) -> None:
        self._plan_state.clear()




# ---------------------------------------------------------------------------
# Archival writer (the WRITE half): envelope rows → real binlog bytes
# ---------------------------------------------------------------------------


@dataclass
class _ArchiveCommit(WriterCommitMessage):
    """One task's encoded file: temp path (None if the partition was
    empty), event count, and the first record's identity for
    deterministic final numbering."""

    temp: str | None
    n_events: int
    first_key: tuple | None
    n_skipped: int = 0


_ARCHIVE_ROW_OPS = {
    "write_rows": WRITE_ROWS_EVENT,
    "update_rows": UPDATE_ROWS_EVENT,
    "delete_rows": DELETE_ROWS_EVENT,
}

# utf8mb4_general_ci — string values round-trip any unicode through the
# charset TLV instead of the legacy latin-1 default
_UTF8MB4 = 45


def _encode_partition(rows, checksum: str | None):
    """Encode an iterator of envelope rows into one self-contained
    binlog byte stream (magic + FDE; a TABLE_MAP with on-wire
    COLUMN_NAME TLVs precedes EVERY rows event, so the archive decodes
    catalog-free and column sets may vary per record — key-absent map
    entries become not-in-image bitmap holes, value-None becomes SQL
    NULL, exactly the envelope's own distinction).  Archived ops:
    query, write/update/delete rows, xid.  Everything else (table_map
    is regenerated; gtid/rotate/rows_query are positional metadata of
    the SOURCE log, meaningless in the archive) is counted as skipped.
    Returns (bytes, n_events, first_key, n_skipped)."""
    w = BinlogWriter(checksum=checksum)
    n = 0
    skipped = 0
    first_key = None
    table_seq = 0
    for row in rows:
        op = row.op
        ts = int(row.ts or 0)
        if first_key is None:
            first_key = (row.log_file, int(row.offset), int(row.row_idx))
        if op == "query":
            w.write_query(
                row.db or "",
                row.sql or "",
                ts=ts,
                thread_id=int(row.thread_id or 0),
                exec_time=int(row.exec_time or 0),
                error_code=int(row.error_code or 0),
            )
        elif op == "xid" and row.xid is not None:
            w.write_xid(int(row.xid), ts=ts)
        elif op in _ARCHIVE_ROW_OPS:
            before = dict(row.before) if row.before is not None else None
            after = dict(row.after) if row.after is not None else None
            cols = sorted(set(before or ()) | set(after or ()))
            if not cols:
                skipped += 1
                continue
            table_seq += 1
            t = TableDef(
                row.db or "",
                row.tbl or "",
                [(TYPE_VARCHAR, 4096)] * len(cols),
                table_id=table_seq,
                default_charset=_UTF8MB4,
                column_names=cols,
            )
            w.write_table_map(t, ts=ts)
            code = _ARCHIVE_ROW_OPS[op]
            if op == "update_rows":
                b = before or {}
                a = after or {}
                w.write_rows(
                    code,
                    t,
                    [(
                        [b[c] for c in cols if c in b],
                        [a[c] for c in cols if c in a],
                    )],
                    present=[c in b for c in cols],
                    present_after=[c in a for c in cols],
                    ts=ts,
                )
            else:
                img = after if op == "write_rows" else before
                img = img or {}
                w.write_rows(
                    code,
                    t,
                    [[img[c] for c in cols if c in img]],
                    present=[c in img for c in cols],
                    ts=ts,
                )
            n += 1
            continue
        else:
            skipped += 1
            continue
        n += 1
    return bytes(w.buf), n, first_key, skipped


class _BinlogArchiveWriter(DataSourceWriter):
    """Batch archival sink: df.write.format("mysql_binlog").save(dir).

    Each task encodes its partition IN ITERATOR ORDER into one
    self-contained file under <dir>/_tmp/; on driver commit the temp
    files are renamed to rotation-numbered names (binlog.%06d,
    continuing from what the directory already holds — append
    semantics; overwrite clears existing logs first), ordered by each
    partition's first (log_file, offset, row_idx).  Abort deletes the
    temps — no torn output is ever visible under a rotated name.

    Use `df.repartition(N, "log_file").sortWithinPartitions("log_file",
    "offset", "row_idx")` upstream for a deterministic archive."""

    def __init__(self, options: dict, overwrite: bool) -> None:
        self._o = _Opts(options)
        self._overwrite = overwrite
        self._checksum = options.get("checksum", "crc32")
        if self._checksum in ("", "none"):
            self._checksum = None

    def write(self, iterator) -> _ArchiveCommit:
        import uuid

        data, n, first_key, skipped = _encode_partition(
            iterator, self._checksum
        )
        if n == 0:
            return _ArchiveCommit(None, 0, None, skipped)
        tmp_dir = os.path.join(self._o.path, "_tmp")
        os.makedirs(tmp_dir, exist_ok=True)
        temp = os.path.join(tmp_dir, f"part-{uuid.uuid4().hex}")
        with open(temp, "wb") as fh:
            fh.write(data)
        return _ArchiveCommit(temp, n, first_key, skipped)

    def _plan(self, messages, clear: bool) -> list[tuple[str, str]]:
        """(temp, final-name) rename plan: rotation numbering continues
        from what the directory holds, task outputs ordered by each
        partition's first (log_file, offset, row_idx)."""
        path = self._o.path
        if clear:
            for p in _list_log_files(path):
                os.unlink(p)
        existing = [
            int(os.path.basename(p).rsplit(".", 1)[1])
            for p in _list_log_files(path)
        ]
        base = max(existing) + 1 if existing else 0
        live = [
            m for m in messages
            if m is not None and m.temp and m.n_events
        ]
        live.sort(key=lambda m: m.first_key)
        if live and base + len(live) - 1 > 999999:
            # The engine's rotated-name contract is a six-digit
            # suffix ordered lexicographically (_ROTATED_LOG_RE, every
            # `name >=` comparison).  A seven-digit name would be
            # invisible to listings AND sort BEFORE binlog.999999 —
            # the next commit would recompute the same base and
            # silently overwrite it.  Refuse loudly instead: at this
            # point the deployment rotates to a fresh directory (the
            # same directory-generation move the failover machinery
            # already versions with `generation=`).
            raise ValueError(
                f"archive directory {path!r} exhausted the six-digit "
                f"rotation namespace at binlog.999999; start a new "
                f"directory (next index would be {base + len(live) - 1})"
            )
        return [
            (m.temp, os.path.join(path, f"binlog.{base + i:06d}"))
            for i, m in enumerate(live)
        ]

    def _finalize(self, messages, clear: bool) -> list[str]:
        plan = self._plan(messages, clear)
        out = []
        for temp, final in plan:
            os.replace(temp, final)
            out.append(final)
        self._cleanup(messages)
        return out

    def _cleanup(self, messages) -> None:
        for m in messages:
            if m is not None and m.temp and os.path.exists(m.temp):
                os.unlink(m.temp)

    def commit(self, messages) -> None:
        self._finalize(messages, clear=self._overwrite)

    def abort(self, messages) -> None:
        self._cleanup(messages)


class _BinlogArchiveStreamWriter(_BinlogArchiveWriter, DataSourceStreamWriter):
    """Streaming archival sink: writeStream.format("mysql_binlog").

    Commit keeps a driver-side manifest (<dir>/_archive_manifest.json)
    of batchId → final files, written as an INTENT log BEFORE the
    renames (r17 — previously the manifest followed the renames, and a
    crash between the two duplicated that batch on replay, the same
    window Spark's file sink closes with _spark_metadata).  Replay of
    a batch first deletes every file its manifest entry names (renamed
    or not — a missing file is fine), re-plans numbering on the
    cleaned directory, re-writes the intent, then renames: a SIGKILL
    at ANY point between two Spark batch commits converges to
    exactly-once output on restart.  Orphaned task temps from a
    killed attempt stay under _tmp/ and are never visible under a
    rotated name."""

    def commit(self, messages, batchId: int) -> None:  # noqa: N803 — API name
        manifest_path = os.path.join(self._o.path, "_archive_manifest.json")
        manifest = {}
        if os.path.exists(manifest_path):
            with open(manifest_path) as fh:
                manifest = json.load(fh)
        # replay cleanup: whatever a previous attempt managed to rename
        for p in manifest.get(str(batchId), ()):
            if os.path.exists(p):
                os.unlink(p)
        plan = self._plan(messages, clear=False)
        # intent BEFORE rename: fsync'd, atomically replaced.  Replay
        # only ever consults the CURRENT batch's entry (Spark replays
        # sequentially from the last uncommitted epoch), so entries
        # more than one batch behind are dead — prune them, or a
        # long-running stream re-reads/re-writes/fsyncs an unbounded
        # manifest on every commit (r19 review).
        manifest = {
            b: files
            for b, files in manifest.items()
            if int(b) >= batchId - 1
        }
        manifest[str(batchId)] = [final for _, final in plan]
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, manifest_path)
        for temp, final in plan:
            os.replace(temp, final)
        self._cleanup(messages)

    def abort(self, messages, batchId: int) -> None:  # noqa: N803 — API name
        self._cleanup(messages)


# ---------------------------------------------------------------------------
# DataSource + registration
# ---------------------------------------------------------------------------


class BinlogDataSource(DataSource):
    """``format("mysql_binlog")`` — batch scan and streaming tail of a
    rotated binlog directory, decoded to the generic envelope.

    Options (all strings; Spark lowercases keys):

    * ``path``        directory of rotated ``binlog.%06d`` files
    * ``only_tables`` ``"db.tbl,..."`` filter-before-decode pushdown
    * ``only_ops``    ``"write_rows,..."`` delta-type pushdown
    * ``on_error``    ``raise`` (default) or ``quarantine``
    * ``catalog``     JSON ``{"db.tbl": ["col", ...]}`` column names
      (default: fixture catalog; ``"{}"`` = wire TLVs / ordinals)
    * ``since_file`` / ``since_offset``  bounded replay (batch: file
      pruning + boundary cut; stream: initial offset)
    * ``since_gtid``  GTID-set resume ("uuid:1-5:7,..." = transactions
      already applied): resolved onto (file, offset) via the
      PREVIOUS_GTIDS snapshots + one state-only walk — survives a
      failover that resets file names, which file+pos cannot
    * ``max_bytes_per_batch``  stream backpressure bound per trigger
    * ``pack_bytes``  small-file bin-packing budget (default 32 MB;
      "0" disables): whole small files / catch-up slices pack into
      ~min(pack_bytes, total/128) tasks so a directory of thousands
      of rotated logs is decode-bound, not task-wave-bound
    * ``ts_file_pruning``  "false" disables the O(1) first-payload-
      timestamp file prune that pushed ts ranges use (the frame-level
      skip stays on — it needs no monotonicity assumption)
    * ``columns``     projection pruning BELOW decode: narrows the
      scan schema to the listed envelope columns (canonical order)
      and, when neither/only one image column is projected, the codec
      width-walks the un-projected row images instead of decoding
      values (Spark's Python DS protocol does not prune columns into
      the reader — probed on 4.1.2 — so the projection arrives as an
      option; same result, declared by the user instead of Catalyst)
    """

    @classmethod
    def name(cls) -> str:
        return "mysql_binlog"

    def schema(self) -> StructType:
        return narrowed_envelope_schema(_Opts(dict(self.options)).columns)

    def reader(self, schema: StructType) -> DataSourceReader:
        return _BinlogBatchReader(dict(self.options))

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _BinlogStreamReader(dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return _BinlogArchiveWriter(dict(self.options), overwrite)

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> DataSourceStreamWriter:
        return _BinlogArchiveStreamWriter(dict(self.options), overwrite)


def register_binlog_source(spark) -> None:
    """Idempotently register ``mysql_binlog`` with this session, and
    enable Python-data-source filter pushdown (a runtime-settable SQL
    conf; without it Spark refuses a reader that implements
    ``pushFilters``).  Sessions built by
    :func:`mysql_cdc_spark.session.get_spark` already carry it."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    # Python data sources cannot declare SupportsTriggerAvailableNow
    # (the JVM PythonMicroBatchStream doesn't implement it), and
    # Spark's fallback for unsupported sources executes availableNow
    # as ONE batch — which a RESTART with a pending batch consumes on
    # the replay, terminating before any new data is read (measured:
    # the SIGKILL e2e test's restart drained zero rows).  The wrapper
    # runs capped multi-batch drains to a start-time snapshot instead;
    # it is safe for exactly this source: latestOffset is a
    # point-in-time directory snapshot and partitions(start, end) is
    # deterministic under replay (rotated-file extents ride in the
    # offset JSON).
    spark.conf.set(
        "spark.sql.streaming.triggerAvailableNowWrapper.enabled", "true"
    )
    spark.dataSource.register(BinlogDataSource)
