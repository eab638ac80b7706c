"""Spark integration for the binlog codec: `binaryFile` scan +
`mapInArrow` decode into the generic MAP-payload envelope (SURVEY
§1.4 — dynamic per-table schemas; the nil-vs-'_' distinction survives
as value-None vs key-absent in the MAP images).

Plan shape: one task per binlog file — decoding a log is inherently
sequential WITHIN a file (events are offset-chained, table-map state
threads through — reference read-binlog, mysql_binlog.clj:707-752),
and embarrassingly parallel ACROSS files; at 100 TB a binlog directory
is thousands of rotated files, so the `binaryFile` scan parallelizes
per file.  The Python decode is Arrow-batched via `mapInArrow` (never
row-at-a-time UDFs).

The writer half (fixture generation from the `events` table) gives the
codec an end-to-end oracle: encode driver-side → decode on executors →
compare against the same derivation done in SQL by DuckDB.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from mysql_cdc_spark.sources.binlog_codec import (
    DELETE_ROWS_EVENT,
    ENVELOPE_OPS,
    TYPE_BIT,
    TYPE_BLOB,
    TYPE_DATE,
    TYPE_DATETIME,
    TYPE_DATETIME2,
    TYPE_DOUBLE,
    TYPE_ENUM,
    TYPE_FLOAT,
    TYPE_INT24,
    TYPE_LONG,
    TYPE_LONGLONG,
    TYPE_NEWDECIMAL,
    TYPE_JSON,
    TYPE_SET,
    TYPE_SHORT,
    TYPE_STRING,
    TYPE_TIME,
    TYPE_TIME2,
    TYPE_TIMESTAMP,
    TYPE_TIMESTAMP2,
    TYPE_TINY,
    TYPE_VARCHAR,
    TYPE_YEAR,
    UPDATE_ROWS_EVENT,
    WRITE_ROWS_EVENT,
    BinlogWriter,
    TableDef,
    decode_binlog,
    stringify_image,
)

if TYPE_CHECKING:
    import pandas as pd
    import pyarrow as pa

# Real column names for the fixture tables — the catalog lookup the
# reference planned but never built (mysql_binlog.clj:505-508 "read
# column names from schema tables"; its JDBC layer falls back to
# ordinals, jdbc.clj:82).
FIXTURE_CATALOG = {
    ("foo", "auto"): ["id", "val", "word"],
    ("bench", "big"): ["id", "val", "word"],
    ("bench", "tags"): ["id", "state", "wide", "flags", "perms"],
    ("bench", "wide"): [
        "id", "t8", "t16", "t24", "t64", "f32", "f64",
        "yr", "d", "dt", "ts", "tm", "bl",
    ],
    ("bench", "docs"): ["id", "doc", "flags", "created", "updated", "took"],
    ("bench", "utf8"): ["id", "name", "tag", "bin", "txt"],
    ("bench", "pdocs"): ["id", "doc", "note"],
    # NOTE: the schema-evolution table lab.acct is deliberately ABSENT:
    # its fixture writes binlog_row_metadata=FULL COLUMN_NAME TLVs and
    # the gate decodes catalog-free (names come off the wire).
}

# (type, metadata) per column: INT, DECIMAL(12,4), VARCHAR(50) — the
# reference's three supported types, in its own bench-table shape
# (create-big-table, mysql_bench.clj:84-97).
FIXTURE_COLUMNS = [
    (TYPE_LONG, None),
    (TYPE_NEWDECIMAL, (12, 4)),
    (TYPE_VARCHAR, 50),
]

# ENUM/SET coverage table (reference read-type :530-536): both ordinal
# widths (5 values → 1 byte, 300 values → 2 bytes) and both bitset
# widths (4 members → 1 byte, 12 members → 2 bytes).
ENUM_SET_COLUMNS = [
    (TYPE_LONG, None),
    (TYPE_ENUM, 5),
    (TYPE_ENUM, 300),
    (TYPE_SET, 4),
    (TYPE_SET, 12),
]

# Wide-type coverage table (BEYOND the reference's decoder, which
# throws on all of these — read-type, mysql_binlog.clj:558): the full
# common MySQL type matrix through the byte path.  fsp choices cover
# zero-, one- and two-byte fractional fields.
WIDE_COLUMNS = [
    (TYPE_LONG, None),          # id
    (TYPE_TINY, None),          # t8
    (TYPE_SHORT, None),         # t16
    (TYPE_INT24, None),         # t24
    (TYPE_LONGLONG, None),      # t64
    (TYPE_FLOAT, None),         # f32
    (TYPE_DOUBLE, None),        # f64
    (TYPE_YEAR, None),          # yr
    (TYPE_DATE, None),          # d
    (TYPE_DATETIME2, 0),        # dt    (fsp 0)
    (TYPE_TIMESTAMP2, 2),       # ts    (fsp 2 → 1 frac byte)
    (TYPE_TIME2, 3),            # tm    (fsp 3 → 2 frac bytes, signed)
    (TYPE_BLOB, 2),             # bl    (2-byte length prefix)
]

# JSON / BIT / legacy-temporal coverage table: the 5.7+ binary-JSON
# document type, BIT(12), and the pre-5.6.4 temporal wire formats.
JSON_BIT_COLUMNS = [
    (TYPE_LONG, None),          # id
    (TYPE_JSON, 4),             # doc   (4-byte length prefix)
    (TYPE_BIT, (4, 1)),         # flags BIT(12): 4 leftover bits + 1 byte
    (TYPE_TIMESTAMP, None),     # created (legacy 4-byte epoch)
    (TYPE_DATETIME, None),      # updated (legacy packed YYYYMMDDHHMMSS)
    (TYPE_TIME, None),          # took    (legacy 3-byte HHMMSS, signed)
]

# Charset coverage table (8.0 DEFAULT_CHARSET TLV): utf8mb4 VARCHAR /
# CHAR / TEXT plus a VARBINARY override (collation 63).  Character
# columns in TLV order: name(0), tag(1), bin(2), txt(3).
UTF8_COLUMNS = [
    (TYPE_LONG, None),                  # id
    (TYPE_VARCHAR, 800),                # name VARCHAR(200) utf8mb4 (4B/char)
    (TYPE_STRING, (TYPE_STRING, 48)),   # tag  CHAR(12) utf8mb4
    (TYPE_VARCHAR, 50),                 # bin  VARBINARY(50)
    (TYPE_BLOB, 2),                     # txt  TEXT utf8mb4
]

BINLOG_ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("log_file", T.StringType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("offset", T.LongType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("server_id", T.LongType(), False),
        T.StructField("xid", T.LongType(), True),
        T.StructField("db", T.StringType(), True),
        T.StructField("tbl", T.StringType(), True),
        T.StructField("op", T.StringType(), False),
        T.StructField("row_idx", T.LongType(), False),
        T.StructField("before", T.MapType(T.StringType(), T.StringType(), True), True),
        T.StructField("after", T.MapType(T.StringType(), T.StringType(), True), True),
        T.StructField("sql", T.StringType(), True),
        # QUERY_EVENT post-header fields (reference read-query,
        # mysql_binlog.clj:368-383); NULL on non-query events.
        T.StructField("thread_id", T.LongType(), True),
        T.StructField("exec_time", T.LongType(), True),
        T.StructField("error_code", T.LongType(), True),
    ]
)

def envelope_records(
    events: list[dict], log_file: str, seq_start: int = 0,
    only_tables: set[tuple[str, str]] | None = None,
    only_ops: set[str] | None = None,
    stringified: bool = False,
) -> tuple[list[dict], int]:
    """Flatten decoded codec events into envelope records (one per row
    image pair; non-row events emit one record).  Returns (records,
    next_seq) so callers that deliver a file's events across several
    batches — the incremental tailer — keep per-file seq continuity.
    The push delivery's record form; the Spark scans use its columnar
    twin `envelope_columns`.

    ``only_tables`` drops row-event records for tables outside the set
    (non-row events always pass).  This is the record-level half of the
    filter-before-decode pushdown: callers that control the decode pass
    the same set to `decode_binlog(..., only_tables=...)` so skipped
    tables never pay image parsing; passing it here as well keeps the
    envelope correct for callers that receive pre-decoded events (the
    push delivery's tailer).  ``only_ops`` is the same record-level
    half for the delta-type pushdown (r16): row-event records whose op
    is outside the set drop; non-row events always pass.  Envelope
    ``seq`` numbers DELIVERED records — under pushdown it is not
    comparable to an unfiltered run's seq; use (log_file, offset,
    row_idx) as the stable identity.

    ``stringified=True`` asserts the caller decoded with
    ``decode_binlog(..., stringify=True)`` — images are already in the
    MAP-envelope string form, so the per-image `stringify_image` walk is
    skipped (r19 §4: one dict build per image, not two).
    """
    out: list[dict] = []
    seq = seq_start
    for ev in events:
        op = ev["op"]
        if op not in ENVELOPE_OPS:
            continue
        if op.endswith("_rows"):
            if (
                only_tables is not None
                and (ev["db"], ev["tbl"]) not in only_tables
            ):
                continue
            if only_ops is not None and op not in only_ops:
                continue
            before = ev["before"] or ()
            after = ev["after"] or ()
            if not stringified:
                before = [stringify_image(r) for r in before]
                after = [stringify_image(r) for r in after]
            n = max(len(before), len(after))
        else:
            before = after = ()
            n = 1
        nb, na = len(before), len(after)
        for ri in range(n):
            out.append({
                "log_file": log_file, "seq": seq, "offset": ev["offset"],
                "ts": ev["ts"], "server_id": ev["server_id"],
                "xid": ev["xid"], "db": ev["db"], "tbl": ev["tbl"],
                "op": op, "row_idx": ri,
                "before": before[ri] if ri < nb else None,
                "after": after[ri] if ri < na else None,
                "sql": ev["sql"],
                "thread_id": ev.get("thread_id"),
                "exec_time": ev.get("exec_time"),
                "error_code": ev.get("error_code"),
            })
        seq += 1
    return out, seq


# A rotated binlog name ends in the server's zero-padded counter
# (binlog.%06d).  The listing filters on this so a stray non-binlog
# file in the directory (an index file, a dump, a half-written temp)
# never sweeps into the replay (r15 ADVICE).
_ROTATED_LOG_RE = re.compile(r"\.\d{6}$")


_ENVELOPE_COLS = (
    "log_file", "seq", "offset", "ts", "server_id", "xid", "db", "tbl",
    "op", "row_idx", "before", "after", "sql", "thread_id", "exec_time",
    "error_code",
)


def envelope_columns(
    events: list[dict], log_file: str, seq_start: int = 0,
    only_tables: set[tuple[str, str]] | None = None,
    only_ops: set[str] | None = None,
    frame_seq: bool = False,
    stringified: bool = False,
) -> tuple[dict[str, list], int]:
    """`envelope_records` in COLUMNAR form (r15 VERDICT #1): one list
    per envelope column, appended in a single pass — no per-record
    dict allocation, and the scans build their Arrow batch from
    dict-of-lists (one typed array per column) instead of re-inferring
    a list-of-dicts.  Content parity
    with `envelope_records` is pinned by test; the record form stays
    for the push delivery (per-event callbacks).

    ``frame_seq=True`` switches `seq` from delivered-record numbering
    to the codec's FRAME index (each event's position in the walk,
    counting frames the pushdown skipped — the codec's seq-slot
    contract): the numbering a db/tbl/op pushdown can never change,
    which is what makes Catalyst filter pushdown in the mysql_binlog
    DataSource semantically transparent.  The returned next_seq still
    counts delivered records.

    ``stringified=True``: see `envelope_records` — images arrived
    pre-stringified from ``decode_binlog(..., stringify=True)``."""
    cols: dict[str, list] = {c: [] for c in _ENVELOPE_COLS}
    (c_log, c_seq, c_off, c_ts, c_sid, c_xid, c_db, c_tbl, c_op, c_ri,
     c_before, c_after, c_sql, c_tid, c_et, c_ec) = (
        cols[c] for c in _ENVELOPE_COLS
    )
    # pre-bound appends: the single-image branch runs once per event
    (a_log, a_seq, a_off, a_ts, a_sid, a_xid, a_db, a_tbl, a_op,
     a_sql, a_tid, a_et, a_ec) = (
        c_log.append, c_seq.append, c_off.append, c_ts.append,
        c_sid.append, c_xid.append, c_db.append, c_tbl.append,
        c_op.append, c_sql.append, c_tid.append, c_et.append,
        c_ec.append,
    )
    seq = seq_start
    for ev in events:
        op = ev["op"]
        if op not in ENVELOPE_OPS:
            continue
        is_rows = op.endswith("_rows")
        if is_rows:
            if (
                only_tables is not None
                and (ev["db"], ev["tbl"]) not in only_tables
            ):
                continue
            if only_ops is not None and op not in only_ops:
                continue
        out_seq = ev["seq"] if frame_seq else seq
        n_common = 1
        if is_rows:
            before = ev["before"] or ()
            after = ev["after"] or ()
            if not stringified:
                before = [stringify_image(r) for r in before]
                after = [stringify_image(r) for r in after]
            nb, na = len(before), len(after)
            n_common = max(nb, na)
            for ri in range(n_common):
                c_ri.append(ri)
                c_before.append(before[ri] if ri < nb else None)
                c_after.append(after[ri] if ri < na else None)
        else:
            c_ri.append(0)
            c_before.append(None)
            c_after.append(None)
        if n_common == 1:
            # single-image events dominate real OLTP logs: plain
            # pre-bound appends, no 1-element list churn
            a_log(log_file)
            a_seq(out_seq)
            a_off(ev["offset"])
            a_ts(ev["ts"])
            a_sid(ev["server_id"])
            a_xid(ev["xid"])
            a_db(ev["db"])
            a_tbl(ev["tbl"])
            a_op(op)
            a_sql(ev["sql"])
            a_tid(ev.get("thread_id"))
            a_et(ev.get("exec_time"))
            a_ec(ev.get("error_code"))
        elif n_common:
            c_log.extend([log_file] * n_common)
            c_seq.extend([out_seq] * n_common)
            c_off.extend([ev["offset"]] * n_common)
            c_ts.extend([ev["ts"]] * n_common)
            c_sid.extend([ev["server_id"]] * n_common)
            c_xid.extend([ev["xid"]] * n_common)
            c_db.extend([ev["db"]] * n_common)
            c_tbl.extend([ev["tbl"]] * n_common)
            c_op.extend([op] * n_common)
            c_sql.extend([ev["sql"]] * n_common)
            c_tid.extend([ev.get("thread_id")] * n_common)
            c_et.extend([ev.get("exec_time")] * n_common)
            c_ec.extend([ev.get("error_code")] * n_common)
        seq += 1
    return cols, seq


def _list_log_files(
    path: str,
    since_log: str | None = None,
    spark: SparkSession | None = None,
) -> list[str]:
    """Driver-side rotation-ordered listing of a binlog directory,
    pruned to files >= `since_log`.  Rotated names are zero-padded
    (binlog.%06d — the real server convention), so lexicographic
    order IS rotation order and the prune is a string comparison.
    This is FILE-LEVEL pruning, the binlog analog of partition
    pruning: a replay resuming at a journaled position must never
    rescan history — skipped files never even enter the Spark scan
    (they are excluded from the load list, not filtered after read).

    With a `spark` session the listing goes through the Hadoop
    FileSystem API, so `since=` works on any URI the binaryFile
    reader can scan (hdfs://, s3a://, file:/ ...) — the same storage
    contract as the since=None path (r15 ADVICE: os.listdir silently
    restricted bounded replay to driver-local directories).  The
    sparkless fallback lists locally.  Only names matching the
    rotated-log pattern (`*.%06d`) are considered.
    """
    if spark is not None:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        pairs = sorted(
            (st.getPath().getName(), st.getPath().toString())
            for st in fs.listStatus(hpath)
            if st.isFile()
        )
    else:
        pairs = sorted(
            (f, os.path.join(path, f))
            for f in os.listdir(path)
            if os.path.isfile(os.path.join(path, f))
        )
    kept = [(n, p) for n, p in pairs if _ROTATED_LOG_RE.search(n)]
    # Rollover guard (r19 review): past binlog.999999 a real server
    # writes binlog.1000000 — a SEVEN-digit suffix the six-digit
    # contract cannot represent (this regex skips it; every `name >=`
    # comparison in the engine mis-orders it BEFORE 999999).  Dropping
    # such a file silently would be data loss, so its presence raises
    # instead: the engine's documented namespace is %06d per
    # directory; split the log history across directories at rollover
    # (the same directory-generation move the failover machinery
    # versions with `generation=`).
    stems = {n.rsplit(".", 1)[0] for n, _ in kept}
    overflow = [
        n
        for n, _ in pairs
        if re.search(r"\.\d{7,}$", n) and n.rsplit(".", 1)[0] in stems
    ]
    if overflow:
        raise ValueError(
            f"{path!r}: rotated-log suffix beyond the six-digit "
            f"namespace ({overflow[:3]}) — lexicographic name order "
            "no longer matches rotation order; split the directory "
            "at rollover"
        )
    pairs = kept
    if since_log is not None:
        pairs = [(n, p) for n, p in pairs if n >= since_log]
    return [p for _, p in pairs]


class LogDiscovery:
    """O(new-files) incremental rotated-log discovery (r18 VERDICT #1).

    A steady-state stream trigger's only job is to notice the ONE file
    the server just rotated to, yet `_list_log_files` pays a full
    directory listStatus + sort on every call — at the target scale
    (millions of retained logs on object storage) that is minutes of
    driver time per trigger to discover one name.  Rotated names are
    dense and zero-padded (`<stem>.%06d`, `_ROTATED_LOG_RE`; a real
    server increments the suffix by exactly one per rotation), so the
    successor namespace is CLOSED-FORM: remember the highest known
    name and probe `<stem>.%0Nd` forward with existence checks until
    the first miss — O(new files + 1) stats, independent of backlog
    size.  This is the same design as the reference's index-file
    lookup (`most_recent_binlog`, src/cdc/mysql_binlog.clj:813-817):
    the server's own namespace is self-describing, so discovery never
    needs a walk.

    Safety rails, each preserving the full-listing semantics exactly:

    * the FIRST refresh (and any refresh after the known set emptied)
      full-lists — initial discovery is O(directory) once, as before;
    * every ``reconcile_every`` calls a full list re-syncs, healing
      anything probing cannot see (an out-of-sequence name appearing
      mid-directory — not a thing real servers do, but cheap
      insurance; ``reconcile_every=0`` disables probing entirely);
    * a directory holding MORE THAN ONE stem (mixed `binlog.*` +
      `mysql-bin.*`) disables probing permanently for this instance —
      a single closed-form successor doesn't exist there;
    * `prune(min_name)` forgets names behind the consumer's cursor so
      the retained set tracks the UNCONSUMED backlog, not history.

    Storage scope: this class (and the streaming DataSource reader
    that owns it) addresses the DRIVER-LOCAL filesystem — os.listdir
    / os.path.isfile; the Python DataSource runs in a worker process
    with no JVM handle, so the Hadoop FS API is out of reach there.
    Remote-URI directories (s3a://, hdfs://) are served by the BATCH
    scan path, whose listing goes through the spark-aware
    `_list_log_files`.  The O(new-files) probe design itself is
    storage-agnostic — an object-store port swaps the two filesystem
    calls for HEAD requests.

    A lowered numbering restart (RESET MASTER writing binlog.000001
    below a consumed binlog.000008) is invisible to probing — and was
    equally invisible to the full listing, whose lexicographic
    successor rule (`_maybe_rotate`: succ > cur) never looks backward;
    that scenario is a new directory/consumer generation by contract
    (see operators/state_table.py failover notes).
    """

    def __init__(self, path: str, reconcile_every: int = 64) -> None:
        self.path = path
        self.reconcile_every = reconcile_every
        self._names: list[str] = []  # sorted known rotated basenames
        self._dense = True  # single-stem directory → probing is sound
        self._calls = 0
        # instrumentation (tools/ds_bench.py discovery rows)
        self.full_lists = 0
        self.probes = 0

    def _full_list(self) -> None:
        self.full_lists += 1
        self._names = sorted(
            os.path.basename(p) for p in _list_log_files(self.path)
        )
        stems = {n.rsplit(".", 1)[0] for n in self._names}
        if len(stems) > 1:
            self._dense = False

    def _probe_forward(self) -> None:
        stem, suffix = self._names[-1].rsplit(".", 1)
        idx, width = int(suffix), len(suffix)
        while True:
            idx += 1
            cand = f"{stem}.{idx:0{width}d}"
            self.probes += 1
            if not os.path.isfile(os.path.join(self.path, cand)):
                return
            self._names.append(cand)

    def refresh(self, min_name: str | None = None) -> list[str]:
        """The sorted rotated basenames currently known (>= min_name),
        re-synced with the directory: a probe in steady state, a full
        list on first call / reconcile / non-dense directories."""
        self._calls += 1
        if (
            not self._names
            or not self._dense
            or self.reconcile_every == 0
            or self._calls % max(self.reconcile_every, 1) == 0
        ):
            self._full_list()
        else:
            self._probe_forward()
        if min_name is not None:
            self.prune(min_name)
        return list(self._names)

    def prune(self, min_name: str) -> None:
        """Forget names behind the cursor (consumed files never come
        back into a walk: the successor rule only moves forward)."""
        if self._names and self._names[0] < min_name:
            self._names = [n for n in self._names if n >= min_name]

    def dense_verified(self) -> bool:
        """True once a full listing has CONFIRMED this directory holds
        a single dense stem — the precondition for ANY closed-form
        successor math (probing here; the planner's dense range
        enumeration).  A nested stem like ``binlog.000001.000002``
        matches the rotated pattern and sits lexicographically
        BETWEEN dense neighbors, so the offset walk consumes it while
        index enumeration would skip it — enumerating without this
        check is silent data loss, not a fast path."""
        return self.full_lists > 0 and self._dense


def normalize_envelope_columns(columns: list[str]) -> list[str]:
    """Validate a projection against the envelope and return it in
    canonical envelope order (shared by both scan protocols — the
    mysql_binlog DataSource's columns= option and
    read_binlog_envelope's columns= parameter)."""
    unknown = sorted(set(columns) - set(_ENVELOPE_COLS))
    if unknown:
        raise ValueError(
            f"unknown envelope columns {unknown}; "
            f"valid: {list(_ENVELOPE_COLS)}"
        )
    keep = set(columns)
    return [c for c in _ENVELOPE_COLS if c in keep]


def images_for_columns(columns: list[str] | None) -> str:
    """Codec image mode implied by a projection: sides the projection
    never reads are width-walked, not materialized."""
    if columns is None:
        return "both"
    b, a = "before" in columns, "after" in columns
    if b and a:
        return "both"
    if b:
        return "before"
    if a:
        return "after"
    return "none"


def narrowed_envelope_schema(columns: list[str] | None) -> T.StructType:
    """The envelope schema restricted to a (normalized) projection."""
    if columns is None:
        return BINLOG_ENVELOPE_SCHEMA
    keep = set(columns)
    return T.StructType(
        [f for f in BINLOG_ENVELOPE_SCHEMA.fields if f.name in keep]
    )


def read_binlog_envelope(
    spark: SparkSession,
    path: str,
    catalog: dict[tuple[str, str], list[str]] | None = None,
    on_error: str = "raise",
    only_tables: set[tuple[str, str]] | None = None,
    since: tuple[str, int] | None = None,
    only_ops: set[str] | None = None,
    images: str = "both",
    columns: list[str] | None = None,
) -> DataFrame:
    """Decode every binlog file under `path` into envelope records
    (one record per row image pair; non-row events emit one record).

    ``only_tables={(db, tbl), ...}`` pushes the table predicate INTO
    the byte decode (filter-before-decode, SURVEY §4): row events for
    other tables never pay image parsing — at 100 TB a per-table
    consumer reads every frame header but decodes only its own rows.

    ``only_ops={"write_rows", ...}`` pushes the DELTA-TYPE predicate
    (R5) the same way (r16): an insert-only consumer skips update/
    delete image parsing inside the codec.  Composes with
    ``only_tables`` (both must pass).

    ``since=(log_file, offset)`` is a bounded replay from a journaled
    position: files BEFORE `log_file` in rotation order are pruned
    DRIVER-SIDE and never enter the scan (the binlog analog of
    partition pruning — a resume at 100 TB must not relist/redecode
    history), and records of the boundary file before `offset` are
    filtered out.  The boundary file is decoded from its start — a
    mid-file seek would arrive without the table-map/checksum state
    those earlier bytes establish (the tailer journals that state for
    true mid-file resume; the batch scan re-derives it from the file
    head).  Composes with ``only_tables``.

    ``images``/``columns`` (r17): the same projection pruning the
    mysql_binlog DataSource exposes as .option("columns", ...), on
    THIS scan protocol — the binaryFile route is the object-store
    path (s3a://, hdfs://), and a 100 TB consumer there needs the
    narrow-aggregate-over-wide-table win just as much.  ``columns``
    narrows the output schema (canonical envelope order); ``images``
    defaults from it (un-projected image sides are width-walked in
    the codec, never materialized).
    """
    if columns is not None:
        if since is not None:
            # the boundary cut filters on (log_file, offset) — they
            # must survive the projection; callers drop them after
            need = {"log_file", "offset"} - set(columns)
            if need:
                raise ValueError(
                    "columns= with since= must include log_file and "
                    f"offset (missing {sorted(need)}) — the boundary "
                    "cut filters on them; drop them after the scan"
                )
        columns = normalize_envelope_columns(columns)
        if images == "both":
            images = images_for_columns(columns)
    out_cols = tuple(columns) if columns is not None else _ENVELOPE_COLS
    out_schema = narrowed_envelope_schema(columns)
    if since is not None:
        paths = _list_log_files(path, since[0], spark)
        if not paths:
            # nothing at or past the resume point: empty envelope over
            # an empty RDD (0 partitions — a list would run a job)
            return spark.createDataFrame(
                spark.sparkContext.emptyRDD(), out_schema
            )
        reader = spark.read.format("binaryFile").load(paths)
    else:
        # pathGlobFilter = the listing-time twin of _list_log_files'
        # rotated-name regex: a real binlog directory always holds
        # stray non-log files (binlog.index at minimum), and without
        # the filter they sweep into the scan and fail the job on bad
        # magic regardless of on_error (r19 review — the since= branch
        # was already filtered; this one was not).
        reader = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.[0-9][0-9][0-9][0-9][0-9][0-9]")
            .load(path)
        )
    files = reader.select("path", "content")
    # binaryFile packs many small logs into one 128 MB split, which
    # would serialize the per-file Python decode onto one core; hash-
    # distributing by path restores one-task-per-file parallelism
    # (measured 4× on the sf0.1 fixtures).  Cost honesty (r19 review):
    # this repartition shuffles the file CONTENT, so at a large
    # backlog it writes the corpus through shuffle disk once — the
    # price of keeping this route storage-agnostic (any URI
    # binaryFile can read, no per-executor filesystem access).  The
    # scale path for local/posix directories is the DataSource route
    # (format("mysql_binlog")), whose greedy bin-packed partitions
    # give one-task-per-file parallelism with NO shuffle.
    files = files.repartition(
        spark.sparkContext.defaultParallelism, "path"
    )
    # None → fixture defaults; an EXPLICIT empty dict means "no
    # catalog at all" (names come from on-wire COLUMN_NAME TLVs or
    # ordinals) — `or` would silently coerce {} to the fixtures.
    cat = FIXTURE_CATALOG if catalog is None else catalog

    def decode_part(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # the DataSource's Arrow builder: typed arrays straight from the
        # envelope lists, no pandas frame (its object-column inference
        # and the pandas→Arrow conversion cost more than the envelope)
        from mysql_cdc_spark.sources.binlog_datasource import _arrow_batch

        for batch in batches:
            parts: dict[str, list] = {c: [] for c in out_cols}
            for fpath, content in zip(
                batch.column("path").to_pylist(),
                batch.column("content").to_pylist(),
            ):
                log_file = fpath.rsplit("/", 1)[-1]
                cols, _ = envelope_columns(
                    decode_binlog(
                        content, cat, on_error=on_error,
                        only_tables=only_tables, only_ops=only_ops,
                        images=images, stringify=True,
                    ),
                    log_file,
                    stringified=True,
                )
                for c in out_cols:
                    parts[c].extend(cols[c])
            yield _arrow_batch(parts, columns)

    env = files.mapInArrow(decode_part, out_schema)
    if since is not None:
        # boundary-file cut: later files pass whole, the resume file
        # passes from the journaled offset (narrow filter, no shuffle)
        from pyspark.sql import functions as F

        env = env.filter(
            (F.col("log_file") > since[0]) | (F.col("offset") >= since[1])
        )
    return env


def typed_changes(
    env: DataFrame, db: str, tbl: str, columns: dict[str, str]
) -> DataFrame:
    """SURVEY §1.4 dynamic→typed bridge: a typed per-table view over
    the generic MAP-payload envelope.  `columns` maps column name →
    Spark type; each image side becomes typed `before_*` / `after_*`
    columns (absent key and SQL NULL both surface as NULL here — the
    distinction lives in the MAP layer for consumers that need it).

    Narrow filter+project — the (db, tbl) predicate prunes before any
    downstream shuffle, and at 100 TB a per-table view reads only its
    table's row events.
    """
    from pyspark.sql import functions as F

    rows = env.filter(
        (F.col("db") == db) & (F.col("tbl") == tbl)
        & F.col("op").isin("write_rows", "update_rows", "delete_rows")
    )
    typed = [
        F.element_at(side, name).cast(dtype).alias(f"{prefix}{name}")
        for side, prefix in ((F.col("before"), "before_"), (F.col("after"), "after_"))
        for name, dtype in columns.items()
    ]
    return rows.select("log_file", "seq", "offset", "op", "row_idx", *typed)


def typed_changes_scan(
    spark: SparkSession,
    path: str,
    db: str,
    tbl: str,
    columns: dict[str, str],
    catalog: dict[tuple[str, str], list[str]] | None = None,
    on_error: str = "raise",
) -> DataFrame:
    """`typed_changes` with the table predicate pushed INTO the byte
    decode (filter-before-decode, SURVEY §4): row events for every
    other table skip image parsing inside the codec instead of being
    decoded and discarded by the DataFrame filter.  The reference
    decodes every used column of every row event and filters after
    (mysql_binlog.clj:592-604) — at 100 TB a per-table typed view
    should pay header-walk cost for foreign tables, not row decode.
    Results are identical to `typed_changes(read_binlog_envelope(...),
    db, tbl, columns)` except envelope `seq` numbering (delivery-order;
    use (log_file, offset, row_idx) as the stable identity)."""
    env = read_binlog_envelope(
        spark, path, catalog, on_error=on_error, only_tables={(db, tbl)}
    )
    return typed_changes(env, db, tbl, columns)


# ---------------------------------------------------------------------------
# Deterministic fixture generation: events.parquet → real binlog bytes
# ---------------------------------------------------------------------------

def _fixture_rows(sf_dir: str) -> pd.DataFrame:
    import pyarrow.parquet as pq

    ev = pq.read_table(f"{sf_dir}/events.parquet", columns=["event_id", "user_id", "event_type"])
    pdf = ev.to_pandas().sort_values("event_id").reset_index(drop=True)
    return pdf


def fixture_val(event_id: int) -> str:
    return f"{event_id % 100000}.{event_id % 10000:04d}"


def fixture_val_before(event_id: int) -> str:
    return f"{(event_id + 1) % 100000}.{(event_id + 3) % 10000:04d}"


# Rotation period for the byte-binlog fixtures: small enough that the
# sf0.01 CORRECTNESS run spans several files — so the oracle gate
# itself exercises multi-file parallel decode (one binaryFile task per
# log) and the tailer's rotation-following over real ROTATE events,
# not just the unit tests.  Envelope seq numbering depends on it:
# global seq = file_index * (4 * ROTATE_EVERY) + seq_in_file.
ROTATE_EVERY = 2_500


def _atomic_gen(out_dir: str, gen):
    """Crash-safe fixture generation: build into a sibling tmp dir,
    then os.replace into place.  An interrupted generation therefore
    never leaves a partially written `out_dir` that a later
    ``glob("binlog.*")`` existence check would silently reuse (the
    stale-fixture-wrong-counts failure mode); the partial tmp dir is
    discarded on the next run.  `gen(tmp_dir)`'s return value is
    passed through."""
    import shutil

    tmp = out_dir.rstrip("/") + ".tmp-gen"
    shutil.rmtree(tmp, ignore_errors=True)
    result = gen(tmp)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return result


# Fixed server UUID for GTID-framed fixtures (gno = event_id + 1, so
# the oracle recomputes the gtid text in closed form).
GTID_SID = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
# The PROMOTED replica's own server UUID (multi-UUID failover
# fixtures): events at/after `promote_at` carry this sid with gno
# restarting at 1 — exactly how a new primary tags its own writes
# while the replicated history keeps the old primary's sid.
GTID_SID_B = "7c915a21-0d04-11e2-a5f1-e4115b180938"


def _peek_previous_gtids(path: str) -> dict | None:
    """Parsed PREVIOUS_GTIDS snapshot from a bounded head read (the
    snapshot, when present, precedes any transaction — real servers
    write it right after the FDE).  None when the head carries no
    snapshot (pre-GTID logs, or a generator that omits it)."""
    from mysql_cdc_spark.sources.binlog_codec import (
        decode_binlog_incremental, parse_gtid_set,
    )

    try:
        with open(path, "rb") as fh:
            head = fh.read(65536)
    except OSError:
        return None
    if len(head) < 4:
        return None
    events, _, _, _ = decode_binlog_incremental(
        head, 4, None, {}, on_error="quarantine", only_ops=frozenset(),
    )
    for ev in events:
        op = ev.get("op")
        if op == "previous_gtids":
            return parse_gtid_set(ev.get("sql") or "")
        if op not in ("format_description", "rotate", "gtid"):
            break  # past the head bookkeeping: no snapshot in this log
    return None


_ANONYMOUS_SID = "00000000-0000-0000-0000-000000000000"


def _reject_anonymous_gtid(sid: str) -> None:
    """A gtid_mode=OFF server writes ANONYMOUS_GTID events (codec op
    "gtid" with an all-zeros sid, gno 0).  Treating them as real GTIDs
    would make every anonymous transaction look already-executed
    ((0,0) enters the set once) and the resume would silently SKIP all
    new work — the one failure mode a resume API must never have
    (r19 review).  Raise instead: GTID-set resume is undefined without
    gtid_mode=ON; use since_file/since_offset on such logs."""
    if sid == _ANONYMOUS_SID:
        raise ValueError(
            "anonymous GTID events in the log (gtid_mode=OFF server): "
            "GTID-set resume is undefined — use since_file/since_offset"
        )


def resolve_gtid_resume(
    dir_path: str, executed: dict, catalog: dict | None = None
) -> tuple[str, int] | None:
    """GTID-set resume (since_gtid=): map "transactions already
    applied" onto the (file, offset) the file+pos machinery needs —
    the resume survives a server failover that resets file names,
    which raw file+pos cannot (the reason GTID replication exists).

    File-level skip: PREVIOUS_GTIDS at each log head snapshots every
    transaction logged BEFORE that file, so the LAST file whose
    snapshot ⊆ executed is the first file that can contain unapplied
    work (public semantics of the executed-set handshake).  Within it,
    a state-only walk (row images skipped) finds the first GTID event
    not in the executed set — the resume offset is that frame's start,
    so the GTID event itself is delivered with its transaction.  Logs
    without snapshots degrade to walking from the first file (correct,
    just unpruned).  Returns None for an empty directory; a directory
    whose FIRST snapshot already contains unapplied transactions
    raises — the requested history is purged (MySQL error 1236's
    condition)."""
    from mysql_cdc_spark.sources.binlog_codec import (
        decode_binlog_incremental, gtid_in_set, gtid_set_subset,
    )

    files = _list_log_files(dir_path)
    if not files:
        return None
    start_idx = 0
    for i, p in enumerate(files):
        prev = _peek_previous_gtids(p)
        if prev is None:
            continue
        if gtid_set_subset(prev, executed):
            start_idx = i
        elif i == 0:
            raise ValueError(
                "since_gtid: the first log's PREVIOUS_GTIDS already "
                "contains transactions outside the executed set — the "
                "required history has been purged from this directory"
            )
        else:
            break  # snapshots only grow; later files start even further
    for p in files[start_idx:]:
        with open(p, "rb") as fh:
            data = fh.read()
        events, _, _, _ = decode_binlog_incremental(
            data, 4, None, catalog or {}, on_error="quarantine",
            only_ops=frozenset(),
        )
        for ev in events:
            if ev.get("op") != "gtid":
                continue
            sid, gno = ev["gtid"].rsplit(":", 1)
            _reject_anonymous_gtid(sid)
            if not gtid_in_set(sid, int(gno), executed):
                return (os.path.basename(p), ev["offset"])
    # everything already applied: resume past the end of the log
    last = files[-1]
    return (os.path.basename(last), os.path.getsize(last))


def executed_gtid_set(dir_path: str, catalog: dict | None = None) -> dict:
    """The executed GTID set of a binlog directory — what a consumer
    records after a scan and hands to ``since_gtid=`` on its NEXT scan
    (possibly against a failed-over server whose file names reset).
    The newest PREVIOUS_GTIDS snapshot already covers every file
    before it, so the walk is bounded: snapshot ∪ the GTID events of
    the files from the snapshot onward (usually just the last file).
    Returns a parsed set ({sid: [(lo, hi)...]}); render with
    :func:`binlog_codec.gtid_set_text`."""
    from mysql_cdc_spark.sources.binlog_codec import (
        decode_binlog_incremental, gtid_set_add,
    )

    files = _list_log_files(dir_path)
    if not files:
        return {}
    start_idx, base = 0, {}
    for i in range(len(files) - 1, -1, -1):
        prev = _peek_previous_gtids(files[i])
        if prev is not None:
            start_idx, base = i, prev
            break
    executed = {sid: list(ivs) for sid, ivs in base.items()}
    for p in files[start_idx:]:
        with open(p, "rb") as fh:
            data = fh.read()
        events, _, _, _ = decode_binlog_incremental(
            data, 4, None, catalog or {}, on_error="quarantine",
            only_ops=frozenset(),
        )
        for ev in events:
            if ev.get("op") != "gtid":
                continue
            sid, gno = ev["gtid"].rsplit(":", 1)
            _reject_anonymous_gtid(sid)
            gtid_set_add(executed, sid, int(gno))
    return executed


def generate_binlog_from_events(
    sf_dir: str,
    out_dir: str,
    rotate_every: int = ROTATE_EVERY,
    corrupt_every: int | None = None,
    checksum: str | None = None,
    gtid: bool = False,
    rows_v2: bool = False,
    payload_zstd: bool = False,
    rows_query: bool = False,
    row_image: str = "full",
    prev_gtids: bool = False,
    event_range: tuple[int, int] | None = None,
    renumber_files: bool = False,
    promote_at: int | None = None,
) -> list[str]:
    """Encode the derived change stream as REAL binlog bytes — the same
    derivation rules as sources/events_cdc.py (db/tbl from user_id
    parity, op from event_type, 4 events per source event), but at the
    byte level: QUERY + TABLE_MAP + ROWS + XID per transaction, files
    rotated every `rotate_every` source events and chained with a
    ROTATE event naming the next log (as real binlogs are).
    ``checksum='crc32'`` writes MySQL ≥5.6.6 CRC32 framing.
    ``payload_zstd`` wraps each transaction's events in a ZSTD
    TRANSACTION_PAYLOAD envelope (8.0.20+
    binlog_transaction_compression=ON framing; embedded events carry
    no checksums and foreign log_pos, exactly as servers store them).

    ``promote_at=P`` models the multi-UUID half of a failover: events
    at/after P carry the NEW primary's own server UUID (GTID_SID_B)
    with gno restarting at 1 — replicated history keeps the old sid —
    and every PREVIOUS_GTIDS snapshot covers both sids.

    ``event_range=(lo, hi)`` + ``renumber_files=True`` model a NEW
    PRIMARY's log directory after a failover: the directory holds only
    events lo..hi-1 (what the promoted replica had replicated / then
    wrote itself), its file names restart at binlog.000000, and — with
    ``prev_gtids`` — the first file's PREVIOUS_GTIDS snapshot is
    1..lo (every transaction executed before this binlog began), which
    is exactly what lets an executed-set consumer resume mid-overlap.

    Idempotent; the directory appears atomically (see _atomic_gen)."""
    return _atomic_gen(
        out_dir,
        lambda d: _generate_binlog_files(
            sf_dir, d, rotate_every, corrupt_every, checksum, gtid, rows_v2,
            payload_zstd, rows_query, row_image, prev_gtids,
            event_range, renumber_files, promote_at,
        ),
    )


def _generate_binlog_files(
    sf_dir: str,
    out_dir: str,
    rotate_every: int,
    corrupt_every: int | None,
    checksum: str | None = None,
    gtid: bool = False,
    rows_v2: bool = False,
    payload_zstd: bool = False,
    rows_query: bool = False,
    row_image: str = "full",
    prev_gtids: bool = False,
    event_range: tuple[int, int] | None = None,
    renumber_files: bool = False,
    promote_at: int | None = None,
) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    pdf = _fixture_rows(sf_dir)
    file_base = 0
    if event_range is not None:
        lo, hi = event_range
        pdf = pdf[(pdf["event_id"] >= lo) & (pdf["event_id"] < hi)]
        if renumber_files:
            file_base = lo  # file numbering restarts at binlog.000000
    # Only the two tables this generator actually writes: the other
    # FIXTURE_CATALOG tables have 5-13 column shapes that do NOT match
    # FIXTURE_COLUMNS, so defining them here would plant TABLE_MAPs
    # that contradict the decode catalog if a future branch ever
    # routed a row to one (r19 review).  table_ids 1 and 2 are
    # byte-identical to the previous full enumeration (foo.auto and
    # bench.big are FIXTURE_CATALOG's first two entries).
    tables = {
        db_tbl: TableDef(db_tbl[0], db_tbl[1], FIXTURE_COLUMNS, table_id=tid + 1)
        for tid, db_tbl in enumerate([("foo", "auto"), ("bench", "big")])
    }
    written: list[str] = []
    writer: BinlogWriter | None = None
    fname = None
    for event_id, user_id, event_type in zip(
        pdf["event_id"], pdf["user_id"], pdf["event_type"]
    ):
        event_id, user_id = int(event_id), int(user_id)
        file_no = (event_id - file_base) // rotate_every
        if writer is None or fname != f"binlog.{file_no:06d}":
            if writer is not None:
                writer.write_rotate(f"binlog.{file_no:06d}")
                with open(os.path.join(out_dir, fname), "wb") as fh:
                    fh.write(writer.getvalue())
                written.append(fname)
            fname = f"binlog.{file_no:06d}"
            writer = BinlogWriter(checksum=checksum)
            if prev_gtids:
                # PREVIOUS_GTIDS right after the FDE (real 5.6+ layout):
                # the executed-set snapshot = every gno logged before
                # this file.  gno = event_id + 1, so a file starting at
                # event_id E snapshots 1..E (empty set on the first
                # log); past a promotion the snapshot carries BOTH
                # sids — old-primary gnos cap at promote_at, the new
                # primary's own count from 1.
                snap: dict = {}
                a_hi = event_id if promote_at is None else min(event_id, promote_at)
                if a_hi > 0:
                    snap[GTID_SID] = [(1, a_hi)]
                if promote_at is not None and event_id > promote_at:
                    snap[GTID_SID_B] = [(1, event_id - promote_at)]
                writer.write_previous_gtids(snap, ts=event_id % (1 << 31))

        db, tbl = ("foo", "auto") if user_id % 2 == 0 else ("bench", "big")
        t = tables[(db, tbl)]
        ts = event_id % (1 << 31)
        row_id = event_id % 97
        val = fixture_val(event_id)
        word = None if event_id % 10 == 0 else str(event_type)
        qualified = f"{db}.{tbl}"

        if event_type in ("signup", "purchase"):
            op, sql = WRITE_ROWS_EVENT, f"INSERT INTO {qualified} (id, value) VALUES (?, ?)"
        elif event_type in ("click", "view"):
            op, sql = UPDATE_ROWS_EVENT, f"UPDATE {qualified} SET value = ? WHERE id = ?"
        else:
            op, sql = DELETE_ROWS_EVENT, f"DELETE FROM {qualified} WHERE id = ?"
        dml_sql = sql  # the row-change statement, pre-DDL override
        if event_id % 50 == 0:
            kdiv = event_id // 50
            ddl_col = f"c{kdiv % 3}"
            sql = (
                f"ALTER TABLE {qualified} ADD COLUMN {ddl_col} INT"
                if kdiv % 2 == 0
                else f"ALTER TABLE {qualified} DROP COLUMN {ddl_col}"
            )

        if gtid:
            # Modern framing: GTID precedes each transaction; gno is
            # the global txn counter (event_id is corpus-unique).  On
            # real 8.0 servers the GTID event stays OUTSIDE any
            # TRANSACTION_PAYLOAD wrapper, so it goes to `writer`
            # regardless of payload_zstd.  Past a promotion the new
            # primary tags its OWN writes with its own sid, gno
            # restarting at 1 (replicated history keeps the old sid).
            if promote_at is not None and event_id >= promote_at:
                writer.write_gtid(GTID_SID_B, event_id - promote_at + 1, ts)
            else:
                writer.write_gtid(GTID_SID, event_id + 1, ts)
        # payload_zstd: the transaction's events are encoded into a
        # scratch writer (no magic/FDE/checksums — the server stores
        # embedded events bare) and ZSTD-wrapped at transaction end.
        if payload_zstd:
            target = BinlogWriter()
            inner_start = target.offset
        else:
            target = writer
        # Non-trivial post-header fields so the oracle checks them:
        # a synthetic session id, a bounded exec time, and a dup-key
        # error code on every 1000th statement.
        target.write_query(
            db, sql, ts,
            thread_id=event_id % 100000,
            exec_time=event_id % 3600,
            error_code=1062 if event_id % 1000 == 0 else 0,
        )
        if rows_query:
            # binlog_rows_query_log_events=ON: servers put the original
            # DML text between the statement QUERY and its TABLE_MAP.
            target.write_rows_query(dml_sql, ts)
        target.write_table_map(t, ts)
        row_event_start = target.offset
        if op == WRITE_ROWS_EVENT:
            # inserts always carry the full image, even under
            # binlog_row_image=minimal
            target.write_rows(op, t, [[row_id, val, word]], ts=ts, v2=rows_v2)
        elif op == UPDATE_ROWS_EVENT:
            if row_image == "minimal":
                # minimal: before-image = PK only, after-image =
                # changed columns only (value changed; id, word not)
                target.write_rows(
                    op, t, [([row_id, None, None], [None, val, None])],
                    present=[True, False, False],
                    present_after=[False, True, False],
                    ts=ts, v2=rows_v2,
                )
            else:
                before = [row_id, fixture_val_before(event_id), word]
                target.write_rows(
                    op, t, [(before, [row_id, val, word])], ts=ts, v2=rows_v2
                )
        elif row_image == "minimal":
            # minimal delete: PK only
            target.write_rows(
                op, t, [[row_id, None, None]],
                present=[True, False, False], ts=ts, v2=rows_v2,
            )
        else:
            target.write_rows(op, t, [[row_id, val, word]], ts=ts, v2=rows_v2)
        if corrupt_every is not None and event_id % corrupt_every == 0:
            # Poison the row-event BODY (header/event_len untouched, so
            # the event chain stays walkable) — the dead-letter fixture.
            from mysql_cdc_spark.sources.binlog_codec import HEADER_LEN

            body_start = row_event_start + HEADER_LEN
            # 0xFE bytes, not 0xFF: the packed-int column count then
            # parses as an 8-byte read of 0xFE…, a ~2^63 column count
            # whose bitmap skip pushes the cursor past the body — a
            # GUARANTEED struct overrun.  (All-0xFF bodies can decode
            # to garbage values without raising.)
            target.buf[body_start:] = b"\xfe" * (len(target.buf) - body_start)
        target.write_xid(event_id, ts)
        if payload_zstd:
            writer.write_transaction_payload(
                bytes(target.getvalue()[inner_start:]), ts, compression_type=0
            )

    if writer is not None:
        with open(os.path.join(out_dir, fname), "wb") as fh:
            fh.write(writer.getvalue())
        written.append(fname)
    return written


def _write_rotated(out_dir: str, event_ids, emit, rotate_every: int = ROTATE_EVERY) -> str:
    """Drive a per-row `emit(writer, event_id)` callback across a
    ROTATE-chained file sequence (one file per `rotate_every` rows,
    each ending in a ROTATE event naming its successor — real binlog
    layout, and the unit of decode parallelism: `binaryFile` runs one
    task per file)."""
    os.makedirs(out_dir, exist_ok=True)
    writer: BinlogWriter | None = None
    fname = None
    for k, event_id in enumerate(event_ids):
        file_no = k // rotate_every
        if writer is None or fname != f"binlog.{file_no:06d}":
            if writer is not None:
                writer.write_rotate(f"binlog.{file_no:06d}")
                with open(os.path.join(out_dir, fname), "wb") as fh:
                    fh.write(writer.getvalue())
            fname = f"binlog.{file_no:06d}"
            writer = BinlogWriter()
        emit(writer, int(event_id))
    if writer is not None:
        with open(os.path.join(out_dir, fname), "wb") as fh:
            fh.write(writer.getvalue())
    return os.path.join(out_dir, "binlog.000000")


def generate_wide_binlog(sf_dir: str, out_dir: str) -> str:
    """Encode an insert-only change stream for `bench.wide` — the
    full-type-matrix coverage table — as real binlog bytes.  Every
    value is a closed-form function of event_id so the DuckDB oracle
    can recompute it without touching the byte path:

        id  = event_id % 97                         (LONG)
        t8  = (event_id % 256) - 128                (TINY, signed)
        t16 = NULL if event_id % 13 = 0
              else ((event_id*7) % 65536) - 32768   (SHORT + NULLs)
        t24 = ((event_id*131) % 2^24) - 2^23        (INT24, signed)
        t64 = (event_id - 5000) * 1000000007        (LONGLONG, signed)
        f32 = (event_id % 2^17) / 64                (FLOAT — exact:
              needs <= 17 mantissa bits < float32's 24)
        f64 = event_id / 1024                       (DOUBLE — exact)
        yr  = 1970 + event_id % 100                 (YEAR)
        d   = 1970-01-01 + (event_id % 20000) days  (DATE)
        dt  = 2020-01-01 00:00:00 + event_id sec    (DATETIME2 fsp 0)
        ts  = 1500000000 + event_id (.frac2)        (TIMESTAMP2 fsp 2)
        tm  = event_id % 7200 - 3600 sec (.frac3)   (TIME2 fsp 3,
              exercising NEGATIVE times / offset-binary sign)
        bl  = NULL if event_id % 17 = 0
              else ascii digits of event_id         (BLOB + NULLs)

    All of these types are beyond the reference decoder's scope
    (read-type, mysql_binlog.clj:558 throws).  Idempotent."""
    import datetime as _dt

    pdf = _fixture_rows(sf_dir)
    t = TableDef("bench", "wide", WIDE_COLUMNS, table_id=11)
    epoch_day = _dt.date(1970, 1, 1)
    dt0 = _dt.datetime(2020, 1, 1)

    def emit(writer: BinlogWriter, e: int) -> None:
        ts = e % (1 << 31)
        v = e % 7200 - 3600
        av = abs(v)
        row = [
            e % 97,
            (e % 256) - 128,
            None if e % 13 == 0 else ((e * 7) % 65536) - 32768,
            ((e * 131) % (1 << 24)) - (1 << 23),
            (e - 5000) * 1000000007,
            (e % (1 << 17)) / 64.0,
            e / 1024.0,
            1970 + e % 100,
            (epoch_day + _dt.timedelta(days=e % 20000)).isoformat(),
            (dt0 + _dt.timedelta(seconds=e)).strftime("%Y-%m-%d %H:%M:%S"),
            f"{1_500_000_000 + e}.{e % 100:02d}",
            f"{'-' if v < 0 else ''}{av // 3600:02d}:{av % 3600 // 60:02d}:{av % 60:02d}.{e * 37 % 1000:03d}",
            None if e % 17 == 0 else str(e).encode("latin-1"),
        ]
        writer.write_table_map(t, ts)
        writer.write_rows(WRITE_ROWS_EVENT, t, [row], ts=ts)
        writer.write_xid(e, ts)

    return _atomic_gen(
        out_dir, lambda d: _write_rotated(d, pdf["event_id"], emit)
    )


def _bjson_small_object(b: bool, k: int, s: str) -> bytes:
    """Hand-built binary-JSON small object {"b": ..., "k": ..., "s": ...}
    per the public json_binary.h layout (keys in MySQL's sorted order:
    by length then bytes; literals/int16 inlined, string by offset).
    Used only to BUILD fixtures — decode goes through the codec's
    independent reader."""
    import struct as _struct

    sb = s.encode()
    keys_at = 2 + 2 + 3 * 4 + 3 * 3     # count+size, key entries, value entries
    val_at = keys_at + 3                # after the 3 one-byte keys
    body = _struct.pack("<HH", 3, val_at + 1 + len(sb))
    for off in (keys_at, keys_at + 1, keys_at + 2):
        body += _struct.pack("<HH", off, 1)
    body += bytes([0x04, 0x01 if b else 0x02, 0x00])      # b: inline literal
    body += bytes([0x05]) + _struct.pack("<h", k)          # k: inline int16
    body += bytes([0x0C]) + _struct.pack("<H", val_at)     # s: string offset
    body += b"bks"
    body += bytes([len(sb)]) + sb
    return bytes([0x00]) + body


def generate_json_bit_binlog(sf_dir: str, out_dir: str) -> str:
    """Encode an insert-only change stream for `bench.docs` — binary
    JSON documents, BIT, and the legacy (pre-5.6.4) temporal wire
    formats — as real binlog bytes (v2 rows framing, as any server new
    enough to emit JSON also uses).  Closed-form values per event_id e:

        id      = e % 97                               (LONG)
        doc     = NULL if e % 11 = 0 else the JSON
                  {"b": e%2=0, "k": e%100, "s": "w"||e%10}   (JSON)
        flags   = e % 4096                             (BIT(12), 2B BE)
        created = 1600000000 + e                       (legacy TIMESTAMP)
        updated = 2020-01-01 00:00:00 + e sec          (legacy DATETIME)
        took    = (e % 7200) - 3600 sec as ±HH:MM:SS   (legacy TIME)

    Every value is recomputable relationally, so the DuckDB oracle
    covers the whole JSON/BIT/legacy-temporal decode path.  Idempotent.
    """
    import datetime as _dt

    pdf = _fixture_rows(sf_dir)
    t = TableDef("bench", "docs", JSON_BIT_COLUMNS, table_id=13)
    dt0 = _dt.datetime(2020, 1, 1)

    def emit(writer: BinlogWriter, e: int) -> None:
        ts = e % (1 << 31)
        v = e % 7200 - 3600
        av = abs(v)
        row = [
            e % 97,
            None if e % 11 == 0 else _bjson_small_object(
                e % 2 == 0, e % 100, f"w{e % 10}"
            ),
            e % 4096,
            1_600_000_000 + e,
            (dt0 + _dt.timedelta(seconds=e)).strftime("%Y-%m-%d %H:%M:%S"),
            f"{'-' if v < 0 else ''}{av // 3600:02d}:{av % 3600 // 60:02d}:{av % 60:02d}",
        ]
        writer.write_table_map(t, ts)
        writer.write_rows(WRITE_ROWS_EVENT, t, [row], ts=ts, v2=True)
        writer.write_xid(e, ts)

    return _atomic_gen(
        out_dir, lambda d: _write_rotated(d, pdf["event_id"], emit)
    )


def generate_utf8_binlog(sf_dir: str, out_dir: str) -> str:
    """Encode an insert-only change stream for `bench.utf8` — the
    charset coverage table — as real binlog bytes whose TABLE_MAP
    carries the 8.0 DEFAULT_CHARSET optional-metadata TLV (default
    collation 255 = utf8mb4_0900_ai_ci, with a collation-63 override
    making `bin` a VARBINARY).  Closed-form values per event_id e:

        id   = e % 97                                   (LONG)
        name = 'é→' || e%100 || '←日本語·' || e%7       (VARCHAR utf8mb4,
               2- and 3-byte sequences in every value)
        tag  = 'grüß' || e%10                           (CHAR(12) utf8mb4)
        bin  = ascii digits of e, hex in the envelope   (VARBINARY)
        txt  = NULL if e%9=0 else 'déjà vu ' || e%13    (TEXT utf8mb4)

    Without charset-aware decode every multi-byte value would surface
    mojibake (latin-1 of utf-8 bytes), so the DuckDB oracle recomputing
    these strings natively is the end-to-end charset proof.  The
    reference decodes hardwired ISO-8859-1 (mysql_binlog.clj:537-544)
    and would fail this fixture.  Idempotent."""
    pdf = _fixture_rows(sf_dir)
    t = TableDef(
        "bench", "utf8", UTF8_COLUMNS, table_id=14,
        default_charset=255, charset_overrides={2: 63},
    )

    def emit(writer: BinlogWriter, e: int) -> None:
        ts = e % (1 << 31)
        row = [
            e % 97,
            f"é→{e % 100}←日本語·{e % 7}",
            f"grüß{e % 10}",
            str(e).encode("ascii"),
            None if e % 9 == 0 else f"déjà vu {e % 13}",
        ]
        writer.write_table_map(t, ts)
        writer.write_rows(WRITE_ROWS_EVENT, t, [row], ts=ts, v2=True)
        writer.write_xid(e, ts)

    return _atomic_gen(
        out_dir, lambda d: _write_rotated(d, pdf["event_id"], emit)
    )


def generate_partial_json_binlog(sf_dir: str, out_dir: str) -> str:
    """Encode a PARTIAL_JSON change stream for `bench.pdocs`
    (PARTIAL_UPDATE_ROWS_EVENT, 8.0 binlog_row_value_options): per
    events row one update whose after-image JSON column is a DIFF
    VECTOR against the before document.  Closed form per event_id e:

        before doc = {"a": e%50, "b": "w"||e%10}
        diffs      = replace $.a -> e%7,
                     (e%2=0 ? remove $.b : replace $.b -> "u"||e%5),
                     insert $.c -> e%3

    so the decoded after document is
        e%2=0: {"a": e%7, "c": e%3}
        else : {"a": e%7, "b": "u"||e%5, "c": e%3}

    recomputable relationally — the oracle proof that diff apply
    reproduces exactly what a full update would have written."""
    pdf = _fixture_rows(sf_dir)
    t = TableDef(
        "bench", "pdocs",
        [(TYPE_LONG, None), (TYPE_JSON, 4), (TYPE_VARCHAR, 50)],
        table_id=15,
    )

    def emit(writer: BinlogWriter, e: int) -> None:
        from mysql_cdc_spark.sources.binlog_codec import (
            JsonDiffs,
            encode_binary_json,
        )

        ts = e % (1 << 31)
        before = encode_binary_json({"a": e % 50, "b": f"w{e % 10}"})
        diffs = [("replace", "$.a", e % 7)]
        if e % 2 == 0:
            diffs.append(("remove", "$.b", None))
        else:
            diffs.append(("replace", "$.b", f"u{e % 5}"))
        diffs.append(("insert", "$.c", e % 3))
        writer.write_table_map(t, ts)
        writer.write_partial_update_rows(
            t, [([e % 97, before, f"n{e % 4}"],
                 [e % 97, JsonDiffs(diffs), f"n{e % 4}"])], ts=ts,
        )
        writer.write_xid(e, ts)

    return _atomic_gen(
        out_dir, lambda d: _write_rotated(d, pdf["event_id"], emit)
    )


def generate_enum_set_binlog(sf_dir: str, out_dir: str) -> str:
    """Encode an insert-only change stream for `bench.tags` — the
    ENUM/SET coverage table — as real binlog bytes.  Per events row:
    TABLE_MAP + WRITE_ROWS + XID with

        state = NULL if event_id % 7 = 0 else 1 + event_id % 5 (ENUM-1B)
        wide  = 1 + event_id % 300                             (ENUM-2B)
        flags = event_id % 16                                  (SET-1B)
        perms = event_id % 4096                                (SET-2B)

    exercising both ENUM ordinal widths, both SET bitset widths, and
    NULL bitmap interaction with ENUM columns.  Idempotent."""
    pdf = _fixture_rows(sf_dir)
    t = TableDef("bench", "tags", ENUM_SET_COLUMNS, table_id=9)

    def emit(writer: BinlogWriter, event_id: int) -> None:
        ts = event_id % (1 << 31)
        state = None if event_id % 7 == 0 else 1 + event_id % 5
        row = [event_id % 97, state, 1 + event_id % 300, event_id % 16, event_id % 4096]
        writer.write_table_map(t, ts)
        writer.write_rows(WRITE_ROWS_EVENT, t, [row], ts=ts)
        writer.write_xid(event_id, ts)

    return _atomic_gen(
        out_dir, lambda d: _write_rotated(d, pdf["event_id"], emit)
    )


def generate_schema_evo_binlog(sf_dir: str, out_dir: str) -> str:
    """Encode a SCHEMA-EVOLUTION change stream for `lab.acct` as real
    binlog bytes (r14 VERDICT #6 — the reference's planned DDL story,
    mysql_binlog.clj:975-976): the first half of the fixture writes a
    2-column table (id LONG, val VARCHAR); at the midpoint one ALTER
    TABLE QUERY event adds `score INT`, and every later transaction
    carries a WIDER TABLE_MAP (bumped table_id, 3 columns) — the
    public protocol's schema-change signal.  Values are closed-form in
    event_id so the oracle recomputes them in SQL:

        id    = event_id % 97
        val   = printf('%d.%04d', event_id%100000, event_id%10000)
        score = NULL if event_id % 10 = 0 else event_id % 1000
                (second half only — the column does not exist before)
    """
    from mysql_cdc_spark.sources.binlog_codec import (
        TYPE_LONG, TYPE_VARCHAR, WRITE_ROWS_EVENT, TableDef,
    )

    pdf = _fixture_rows(sf_dir)
    n = len(pdf)
    # binlog_row_metadata=FULL: both maps carry on-wire COLUMN_NAME
    # TLVs, so the decode side needs NO catalog — names rebind with
    # the schema, exactly as a modern server ships them.
    narrow = TableDef(
        "lab", "acct", [(TYPE_LONG, None), (TYPE_VARCHAR, 50)], table_id=7,
        column_names=["id", "val"],
    )
    wide = TableDef(
        "lab", "acct",
        [(TYPE_LONG, None), (TYPE_VARCHAR, 50), (TYPE_LONG, None)],
        table_id=8,
        column_names=["id", "val", "score"],
    )
    k = 0

    def emit(writer: BinlogWriter, event_id: int) -> None:
        nonlocal k
        ts = event_id % (1 << 32)
        if k == n // 2:
            writer.write_query(
                "lab", "ALTER TABLE acct ADD COLUMN score INT", ts=ts
            )
        row_id = event_id % 97
        val = fixture_val(event_id)
        if k < n // 2:
            writer.write_table_map(narrow, ts=ts)
            writer.write_rows(WRITE_ROWS_EVENT, narrow, [[row_id, val]], ts=ts)
        else:
            score = None if event_id % 10 == 0 else event_id % 1000
            writer.write_table_map(wide, ts=ts)
            writer.write_rows(
                WRITE_ROWS_EVENT, wide, [[row_id, val, score]], ts=ts
            )
        writer.write_xid(event_id, ts=ts)
        k += 1

    def gen(tmp_dir: str) -> None:
        nonlocal k
        k = 0
        _write_rotated(tmp_dir, pdf["event_id"], emit)

    _atomic_gen(out_dir, gen)
    return os.path.join(out_dir, "binlog.000000")


def generate_schema_evo_drop_binlog(sf_dir: str, out_dir: str) -> str:
    """Three-phase schema evolution for `lab.acct` (r15 VERDICT #5 —
    FILE F/`generate_schema_evo_binlog` cover ADD only): phase 0
    (k < n//3) writes 3 columns (id LONG, val VARCHAR, score INT);
    an ALTER DROP COLUMN val emits a NARROWER map (2 columns,
    table_id bumped); an ALTER MODIFY score BIGINT emits a map of the
    SAME width but a WIDER type (LONG 03 → LONGLONG 08) — phase-2
    scores exceed 2^32, so a decoder still bound to the 4-byte codec
    cannot produce them.  All maps carry COLUMN_NAME TLVs (no
    catalog).  Closed-form in event_id for the SQL oracle:

        id    = event_id % 97
        val   = printf('%d.%04d', ...)          (phase 0 only)
        score = NULL if event_id % 10 = 0 else
                event_id % 1000                  (phases 0, 1)
                4_000_000_000 + event_id % 1000  (phase 2)
    """
    from mysql_cdc_spark.sources.binlog_codec import (
        TYPE_LONG, TYPE_LONGLONG, TYPE_VARCHAR, WRITE_ROWS_EVENT, TableDef,
    )

    pdf = _fixture_rows(sf_dir)
    n = len(pdf)
    wide = TableDef(
        "lab", "acct",
        [(TYPE_LONG, None), (TYPE_VARCHAR, 50), (TYPE_LONG, None)],
        table_id=7, column_names=["id", "val", "score"],
    )
    dropped = TableDef(
        "lab", "acct", [(TYPE_LONG, None), (TYPE_LONG, None)],
        table_id=8, column_names=["id", "score"],
    )
    widened = TableDef(
        "lab", "acct", [(TYPE_LONG, None), (TYPE_LONGLONG, None)],
        table_id=9, column_names=["id", "score"],
    )
    b1, b2 = n // 3, (2 * n) // 3
    k = 0

    def emit(writer: BinlogWriter, event_id: int) -> None:
        nonlocal k
        ts = event_id % (1 << 32)
        if k == b1:
            writer.write_query(
                "lab", "ALTER TABLE acct DROP COLUMN val", ts=ts
            )
        elif k == b2:
            writer.write_query(
                "lab", "ALTER TABLE acct MODIFY COLUMN score BIGINT", ts=ts
            )
        row_id = event_id % 97
        score = None if event_id % 10 == 0 else event_id % 1000
        if k < b1:
            writer.write_table_map(wide, ts=ts)
            writer.write_rows(
                WRITE_ROWS_EVENT, wide,
                [[row_id, fixture_val(event_id), score]], ts=ts,
            )
        elif k < b2:
            writer.write_table_map(dropped, ts=ts)
            writer.write_rows(
                WRITE_ROWS_EVENT, dropped, [[row_id, score]], ts=ts
            )
        else:
            if score is not None:
                score += 4_000_000_000
            writer.write_table_map(widened, ts=ts)
            writer.write_rows(
                WRITE_ROWS_EVENT, widened, [[row_id, score]], ts=ts
            )
        writer.write_xid(event_id, ts=ts)
        k += 1

    def gen(tmp_dir: str) -> None:
        nonlocal k
        k = 0
        _write_rotated(tmp_dir, pdf["event_id"], emit)

    _atomic_gen(out_dir, gen)
    return os.path.join(out_dir, "binlog.000000")
