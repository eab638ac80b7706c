"""BinlogTailer tests: incremental turns over a GROWING real-byte
binlog — offset advance, torn-tail retry, table-map carry across
turns, rotation follow (reference cdc-turn/cdc-log-rotation)."""

from __future__ import annotations

import os
import shutil
import uuid

import pytest

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

T3 = TableDef("foo", "auto", [(TYPE_LONG, None), (TYPE_NEWDECIMAL, (12, 4)), (TYPE_VARCHAR, 50)])
CAT = {("foo", "auto"): ["id", "val", "word"]}


@pytest.fixture()
def log_dir():
    d = f"{STREAM_TMP}/test/{uuid.uuid4().hex[:10]}"
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write(log_dir, name, data):
    with open(os.path.join(log_dir, name), "wb") as fh:
        fh.write(data)


def test_incremental_turns_deliver_each_event_once(log_dir):
    w = BinlogWriter()
    w.write_table_map(T3)
    w.write_rows(WRITE_ROWS_EVENT, T3, [[1, "1.0000", "a"]])
    w.write_xid(1)
    _write(log_dir, "binlog.000001", w.getvalue())

    batches = []
    tailer = BinlogTailer(log_dir, "binlog.000001", batches.append, CAT)
    assert tailer.turn() == 3
    assert tailer.turn() == 0              # nothing new → empty turn

    # the log grows: next turn must deliver ONLY the new events,
    # binding rows via the table-map carried from turn 1
    w.write_rows(WRITE_ROWS_EVENT, T3, [[2, "2.0000", "b"]])
    w.write_xid(2)
    _write(log_dir, "binlog.000001", w.getvalue())
    assert tailer.turn() == 2
    flat = [e for b in batches for e in b]
    assert [e["op"] for e in flat] == ["table_map", "write_rows", "xid", "write_rows", "xid"]
    assert flat[3]["after"] == [{"id": 2, "val": "2.0000", "word": "b"}]
    offsets = [e["offset"] for e in flat]
    assert offsets == sorted(set(offsets))  # each event exactly once, in order


def test_torn_tail_retried_next_turn(log_dir):
    w = BinlogWriter()
    w.write_table_map(T3)
    w.write_rows(WRITE_ROWS_EVENT, T3, [[1, "1.0000", "a"]])
    data = w.getvalue()
    _write(log_dir, "binlog.000001", data[:-7])   # writer mid-flight

    batches = []
    tailer = BinlogTailer(log_dir, "binlog.000001", batches.append, CAT)
    assert tailer.turn() == 1                     # only the table_map
    _write(log_dir, "binlog.000001", data)        # write completes
    assert tailer.turn() == 1                     # the held-back row event
    assert batches[-1][0]["op"] == "write_rows"


def test_rotation_follow_resets_state(log_dir):
    w1 = BinlogWriter()
    w1.write_table_map(T3)
    w1.write_rows(WRITE_ROWS_EVENT, T3, [[1, "1.0000", "a"]])
    w1.write_rotate("binlog.000002")
    _write(log_dir, "binlog.000001", w1.getvalue())

    w2 = BinlogWriter()
    w2.write_table_map(T3)
    w2.write_rows(WRITE_ROWS_EVENT, T3, [[2, "2.0000", "b"]])
    _write(log_dir, "binlog.000002", w2.getvalue())

    batches = []
    tailer = BinlogTailer(log_dir, "binlog.000001", batches.append, CAT)
    n = tailer.turn()                      # crosses the rotation
    assert n == 4                          # 2 events per file (tm + row)
    assert tailer.current_log == "binlog.000002"
    flat = [e for b in batches for e in b]
    assert [e["log_file"] for e in flat] == ["binlog.000001"] * 2 + ["binlog.000002"] * 2
    assert flat[-1]["after"] == [{"id": 2, "val": "2.0000", "word": "b"}]


def test_rows_after_rotation_need_fresh_table_map(log_dir):
    """Rotation clears the table-map (reference :904): a row event in
    the new log WITHOUT its own TABLE_MAP must raise."""
    w1 = BinlogWriter()
    w1.write_table_map(T3)
    w1.write_rotate("binlog.000002")
    _write(log_dir, "binlog.000001", w1.getvalue())

    w2 = BinlogWriter()
    w2.write_rows(WRITE_ROWS_EVENT, T3, [[9, "9.0000", "x"]])  # no map!
    _write(log_dir, "binlog.000002", w2.getvalue())

    tailer = BinlogTailer(log_dir, "binlog.000001", lambda b: None, CAT)
    with pytest.raises(ValueError, match="TABLE_MAP"):
        tailer.turn()


def test_turn_io_proportional_to_delta(log_dir):
    """Each turn reads ~only the NEW bytes (reference maps [offset,
    size), with-open-binlog* :696-705) — not the whole file again."""
    w = BinlogWriter()
    w.write_table_map(T3)
    w.write_rows(WRITE_ROWS_EVENT, T3, [[1, "1.0000", "a"]])
    w.write_xid(1)
    _write(log_dir, "binlog.000001", w.getvalue())
    size1 = len(w.getvalue())

    tailer = BinlogTailer(log_dir, "binlog.000001", lambda b: None, CAT)
    tailer.turn()
    assert tailer.last_read_bytes == size1 - 4     # first turn: all but magic

    before_growth = len(w.getvalue())
    w.write_rows(WRITE_ROWS_EVENT, T3, [[2, "2.0000", "b"]])
    w.write_xid(2)
    _write(log_dir, "binlog.000001", w.getvalue())
    delta = len(w.getvalue()) - before_growth

    assert tailer.turn() == 2
    assert tailer.last_read_bytes == delta          # tail-only read
    tailer.turn()
    assert tailer.last_read_bytes == 0              # empty poll reads nothing


def test_rotation_to_missing_file_defers_not_crashes(log_dir):
    """Writer announced the rotation before creating the next file:
    the tailer must deliver what it has and retry next poll, not die
    mid-rotation (advisor finding)."""
    w1 = BinlogWriter()
    w1.write_table_map(T3)
    w1.write_rows(WRITE_ROWS_EVENT, T3, [[1, "1.0000", "a"]])
    w1.write_rotate("binlog.000002")
    _write(log_dir, "binlog.000001", w1.getvalue())

    batches = []
    tailer = BinlogTailer(log_dir, "binlog.000001", batches.append, CAT)
    assert tailer.turn() == 2                       # tm + row; no crash
    assert tailer.current_log == "binlog.000002"    # state advanced

    w2 = BinlogWriter()
    w2.write_table_map(T3)
    w2.write_rows(WRITE_ROWS_EVENT, T3, [[2, "2.0000", "b"]])
    _write(log_dir, "binlog.000002", w2.getvalue())
    assert tailer.turn() == 2                       # next poll picks it up
    flat = [e for b in batches for e in b]
    assert flat[-1]["after"] == [{"id": 2, "val": "2.0000", "word": "b"}]


def test_long_rotation_chain_is_iterative(log_dir):
    """A chain of N back-to-back rotations is followed in ONE turn
    without growing the Python stack (loop, not recursion)."""
    n = 60
    for i in range(1, n):
        w = BinlogWriter()
        w.write_table_map(T3)
        w.write_rows(WRITE_ROWS_EVENT, T3, [[i, f"{i}.0000", "x"]])
        w.write_rotate(f"binlog.{i + 1:06d}")
        _write(log_dir, f"binlog.{i:06d}", w.getvalue())
    w = BinlogWriter()
    w.write_table_map(T3)
    w.write_rows(WRITE_ROWS_EVENT, T3, [[n, f"{n}.0000", "x"]])
    _write(log_dir, f"binlog.{n:06d}", w.getvalue())

    batches = []
    tailer = BinlogTailer(log_dir, "binlog.000001", batches.append, CAT)
    assert tailer.turn() == 2 * n
    assert tailer.current_log == f"binlog.{n:06d}"


def test_tailer_quarantines_poison_and_keeps_tailing(tmp_path):
    """A live tailer in quarantine mode dead-letters a poisoned event
    mid-log and keeps delivering everything after it."""
    from mysql_cdc_spark.sources.binlog_codec import (
        HEADER_LEN,
        WRITE_ROWS_EVENT,
        BinlogWriter,
        TableDef,
    )
    from mysql_cdc_spark.sources.binlog_source import FIXTURE_CATALOG, FIXTURE_COLUMNS
    from mysql_cdc_spark.streaming.binlog_tailer import BinlogTailer

    t = TableDef("foo", "auto", FIXTURE_COLUMNS, table_id=1)
    w = BinlogWriter()
    for i in range(5):
        w.write_table_map(t)
        start = w.offset
        w.write_rows(WRITE_ROWS_EVENT, t, [[i, f"{i}.0000", "w"]])
        if i == 2:
            w.buf[start + HEADER_LEN:] = b"\xfe" * (len(w.buf) - start - HEADER_LEN)
        w.write_xid(i)
    log = tmp_path / "binlog.000000"
    log.write_bytes(w.getvalue())

    got: list[dict] = []
    tailer = BinlogTailer(
        str(tmp_path), "binlog.000000", got.extend,
        catalog=FIXTURE_CATALOG, on_error="quarantine",
    )
    tailer.turn()
    ops = [e["op"] for e in got if e["op"] != "format_description"]
    assert ops.count("quarantine") == 1
    assert ops.count("write_rows") == 4
    assert ops.count("xid") == 5          # every txn still commits
    # raise mode on the same log dies at the poison event
    import pytest

    strict = BinlogTailer(str(tmp_path), "binlog.000000", lambda b: None,
                          catalog=FIXTURE_CATALOG)
    with pytest.raises(ValueError, match="corrupt|columns"):
        strict.turn()


def test_randomized_torn_write_schedule_exactly_once(log_dir):
    """Property: a writer emitting the log in arbitrary chunk sizes —
    every byte boundary a potential torn point, including mid-header,
    mid-magic, and mid-rotate — with the tailer polling after every
    chunk, must deliver every event exactly once, in order, across a
    rotation.  Seeded multi-schedule sweep of the torn-tail + torn-
    head hold-back machinery."""
    import random

    w1 = BinlogWriter()
    expected = []
    for batch in range(5):
        w1.write_table_map(T3, ts=batch)
        rows = [[batch * 10 + i, f"{i}.2500", f"b{batch}w{i}"] for i in range(4)]
        w1.write_rows(WRITE_ROWS_EVENT, T3, rows, ts=batch)
        w1.write_xid(batch, ts=batch)
        expected += [
            ("table_map", None),
            ("write_rows", tuple(r[0] for r in rows)),
            ("xid", None),
        ]
    w1.write_rotate("binlog.000002")
    file1 = w1.getvalue()

    w2 = BinlogWriter()
    w2.write_table_map(T3, ts=99)
    rows2 = [[900 + i, f"{i}.7500", f"z{i}"] for i in range(3)]
    w2.write_rows(WRITE_ROWS_EVENT, T3, rows2, ts=99)
    expected += [
        ("table_map", None),
        ("write_rows", tuple(r[0] for r in rows2)),
    ]
    file2 = w2.getvalue()

    for seed in range(6):
        rng = random.Random(seed)
        d = os.path.join(log_dir, f"s{seed}")
        os.makedirs(d)
        got = []

        def sink(batch):
            for ev in batch:
                if ev["op"] == "write_rows":
                    got.append(
                        ("write_rows", tuple(r["id"] for r in ev["after"]))
                    )
                elif ev["op"] in ("table_map", "xid"):
                    got.append((ev["op"], None))

        tailer = BinlogTailer(d, "binlog.000001", sink, CAT)
        for path, data in ((os.path.join(d, "binlog.000001"), file1),
                           (os.path.join(d, "binlog.000002"), file2)):
            written = 0
            while written < len(data):
                n = rng.randint(1, 37)
                with open(path, "ab") as fh:
                    fh.write(data[written:written + n])
                written += n
                tailer.turn()
        tailer.turn()
        assert got == expected, f"seed {seed}"


def test_randomized_torn_writes_with_crc32_framing(log_dir):
    """The torn-write sweep over a CRC32-framed (MySQL >=5.6.6) log:
    chunk boundaries can now also split the 4-byte CRC trailer, and
    the FDE (which declares the algorithm) itself arrives torn — the
    checksum auto-detect + verify + torn hold-back must compose to
    exactly-once in-order delivery."""
    import random

    w = BinlogWriter(checksum="crc32")
    expected = []
    for batch in range(4):
        w.write_table_map(T3, ts=batch)
        rows = [[batch * 10 + i, f"{i}.2500", f"c{batch}w{i}"] for i in range(3)]
        w.write_rows(WRITE_ROWS_EVENT, T3, rows, ts=batch)
        w.write_xid(batch, ts=batch)
        expected += [
            ("table_map", None),
            ("write_rows", tuple(r[0] for r in rows)),
            ("xid", None),
        ]
    data = w.getvalue()

    for seed in range(6):
        rng = random.Random(1000 + seed)
        d = os.path.join(log_dir, f"c{seed}")
        os.makedirs(d)
        got = []

        def sink(batch):
            for ev in batch:
                if ev["op"] == "write_rows":
                    got.append(
                        ("write_rows", tuple(r["id"] for r in ev["after"]))
                    )
                elif ev["op"] in ("table_map", "xid"):
                    got.append((ev["op"], None))

        tailer = BinlogTailer(d, "binlog.000001", sink, CAT)
        path = os.path.join(d, "binlog.000001")
        written = 0
        while written < len(data):
            n = rng.randint(1, 29)
            with open(path, "ab") as fh:
                fh.write(data[written:written + n])
            written += n
            tailer.turn()
        tailer.turn()
        assert got == expected, f"seed {seed}"
        assert tailer.checksum == "crc32"     # auto-detected from the FDE


def test_random_body_corruption_quarantines_exactly_one_event(log_dir):
    """Fault-injection sweep: flip one random BODY byte of one random
    non-FDE event in a CRC32-framed log (frame lengths stay intact, so
    re-sync is well-defined — the same recovery contract a MySQL
    replica has).  In quarantine mode the damaged event must
    dead-letter and every OTHER event must still arrive in order."""
    import random
    import struct as _struct

    w = BinlogWriter(checksum="crc32")
    for batch in range(3):
        w.write_table_map(T3, ts=batch)
        w.write_rows(
            WRITE_ROWS_EVENT, T3,
            [[batch * 10 + i, f"{i}.2500", f"q{batch}w{i}"] for i in range(3)],
            ts=batch,
        )
        w.write_xid(batch, ts=batch)
    data = bytearray(w.getvalue())

    # index event frames: (start, end) from the chained headers
    frames = []
    pos = 4
    while pos + 19 <= len(data):
        (elen,) = _struct.unpack_from("<I", data, pos + 9)
        frames.append((pos, pos + elen))
        pos += elen
    non_fde = frames[1:]                       # frame 0 is the FDE

    for seed in range(6):
        rng = random.Random(seed)
        start, end = non_fde[rng.randrange(len(non_fde))]
        # body byte past the 19-byte header, before the 4-byte CRC
        flip_at = rng.randrange(start + 19, end - 4)
        corrupted = bytearray(data)
        corrupted[flip_at] ^= 0x5A

        d = os.path.join(log_dir, f"f{seed}")
        os.makedirs(d)
        _write(d, "binlog.000001", bytes(corrupted))
        got = []
        tailer = BinlogTailer(
            d, "binlog.000001",
            lambda b: got.extend(b), CAT, on_error="quarantine",
        )
        tailer.turn()
        quarantined = {e["offset"] for e in got if e["op"] == "quarantine"}
        delivered = {e["offset"] for e in got if e["op"] != "quarantine"}
        # the damaged frame itself always dead-letters
        assert start in quarantined, f"seed {seed}"
        # exactly-once accounting: every non-FDE frame is either
        # delivered or quarantined, never both, never lost
        assert quarantined | delivered == {s for s, _ in non_fde}, f"seed {seed}"
        assert not (quarantined & delivered), f"seed {seed}"
        # collateral quarantine is allowed ONLY for rows events that
        # depended on a damaged table_map (no valid map to decode by)
        collateral = quarantined - {start}
        map_starts = {s for i, (s, _) in enumerate(non_fde) if i % 3 == 0}
        if collateral:
            assert start in map_starts, f"seed {seed}"
            assert all(c > start for c in collateral), f"seed {seed}"
        # order preserved among delivered events
        good_offsets = [e["offset"] for e in got if e["op"] != "quarantine"]
        assert good_offsets == sorted(good_offsets)


def test_mmap_zero_copy_path_and_buffered_fallback(log_dir, monkeypatch):
    """r14 (r13 VERDICT 'missing' #3): turns read the tail through an
    mmap'd [offset, size) memoryview — the reference's
    with-open-binlog* window (mysql_binlog.clj:696-705) — with results
    IDENTICAL to the buffered form, incremental growth between turns
    honored, and a clean fallback when the filesystem refuses mmap."""
    import mmap as _mmap

    w = BinlogWriter()
    w.write_table_map(T3, ts=1)
    w.write_rows(WRITE_ROWS_EVENT, T3, [[1, "1.0000", "a"]], ts=1)
    w.write_xid(1, ts=1)
    _write(log_dir, "binlog.000001", w.getvalue())

    got_mmap: list[dict] = []
    t = BinlogTailer(log_dir, "binlog.000001", got_mmap.extend, CAT)
    assert t.turn() == 3
    assert t.last_read_mmap is True          # zero-copy path taken
    # decoded values are COPIES: usable after the mapping closed
    rows = [e for e in got_mmap if e["op"] == "write_rows"]
    assert rows[0]["after"] == [{"id": 1, "val": "1.0000", "word": "a"}]

    # growth between turns: only the delta is mapped/decoded
    w.write_table_map(T3, ts=2)
    w.write_rows(WRITE_ROWS_EVENT, T3, [[2, "2.0000", "b"]], ts=2)
    w.write_xid(2, ts=2)
    _write(log_dir, "binlog.000001", w.getvalue())
    n_before = len(got_mmap)
    assert t.turn() == 3
    assert t.last_read_mmap is True
    assert [e["op"] for e in got_mmap[n_before:]] == [
        "table_map", "write_rows", "xid",
    ]

    # buffered fallback: same events, byte-identical fields
    def _no_mmap(*a, **k):
        raise OSError("mmap refused (simulated no-mmap filesystem)")

    monkeypatch.setattr(_mmap, "mmap", _no_mmap)
    got_buf: list[dict] = []
    t2 = BinlogTailer(log_dir, "binlog.000001", got_buf.extend, CAT)
    assert t2.turn() == 6
    assert t2.last_read_mmap is False
    assert [(e["op"], e["offset"]) for e in got_buf] == [
        (e["op"], e["offset"]) for e in got_mmap
    ]
    assert [e["after"] for e in got_buf if e["op"] == "write_rows"] == [
        e["after"] for e in got_mmap if e["op"] == "write_rows"
    ]


def test_tailer_pushdown_filters_rows_and_threads_maps(log_dir):
    """only_tables on the LIVE path (r15): a per-table tail skips
    foreign tables' row images at every turn — table-map state still
    threads across turns and rotation, and matching rows decode
    identically to an unfiltered tail."""
    from mysql_cdc_spark.sources.binlog_codec import TableDef as TD

    big = TD("bench", "big", T3.columns, table_id=2)
    cat = {**CAT, ("bench", "big"): ["id", "val", "word"]}
    w = BinlogWriter()
    w.write_table_map(T3)
    w.write_rows(WRITE_ROWS_EVENT, T3, [[1, "1.0000", "a"]])
    w.write_table_map(big)
    w.write_rows(WRITE_ROWS_EVENT, big, [[2, "2.0000", "b"]])
    w.write_xid(1)
    _write(log_dir, "binlog.000001", w.getvalue())

    batches, batches_all = [], []
    tailer = BinlogTailer(
        log_dir, "binlog.000001", batches.append, cat,
        only_tables={("foo", "auto")},
    )
    control = BinlogTailer(log_dir, "binlog.000001", batches_all.append, cat)
    n_push, n_all = tailer.turn(), control.turn()
    assert n_all - n_push == 1              # exactly big's row skipped
    flat = [e for b in batches for e in b]
    rows = [e for e in flat if e["op"] == "write_rows"]
    assert [(r["db"], r["tbl"]) for r in rows] == [("foo", "auto")]
    assert rows[0]["after"] == [{"id": 1, "val": "1.0000", "word": "a"}]
    # non-row events (both table maps, xid) still delivered
    assert sum(e["op"] == "table_map" for e in flat) == 2

    # the log grows with a FOREIGN-table row first, then a matching
    # one: the skip must leave the carried map state correct
    w.write_rows(WRITE_ROWS_EVENT, big, [[3, "3.0000", "c"]])
    w.write_table_map(T3)
    w.write_rows(WRITE_ROWS_EVENT, T3, [[4, "4.0000", "d"]])
    _write(log_dir, "binlog.000001", w.getvalue())
    tailer.turn()
    flat = [e for b in batches for e in b]
    rows = [e for e in flat if e["op"] == "write_rows"]
    assert [r["after"][0]["id"] for r in rows] == [1, 4]
