"""Parallel push catch-up: when a delivery opens on a log whose cursor
file already has successors on disk, each file is tailed by a forked
worker and the parent delivers the workers' windows in log order.  The
surfaced records, the errors and the journaled positions must be those
of a serial run; files the ROTATE chain never reaches are speculative
and leave no trace; and no worker outlives the catch-up."""

from __future__ import annotations

import multiprocessing
import os
import random
import time

import pytest

from mysql_cdc_spark.sources.binlog_codec import (
    DELETE_ROWS_EVENT,
    HEADER_LEN,
    TYPE_LONG,
    TYPE_NEWDECIMAL,
    TYPE_VARCHAR,
    UPDATE_ROWS_EVENT,
    WRITE_ROWS_EVENT,
    BinlogWriter,
    TableDef,
    decode_binlog,
)
from mysql_cdc_spark.sources.binlog_source import envelope_records
from mysql_cdc_spark.streaming import binlog_tailer
from mysql_cdc_spark.streaming.binlog_tailer import BinlogTailer
from mysql_cdc_spark.streaming.push import (
    _DELTA_TO_OP,
    FilteredPushCursor,
    PushDelivery,
)

_COLS = [(TYPE_LONG, None), (TYPE_NEWDECIMAL, (12, 4)), (TYPE_VARCHAR, 4000)]
_T = TableDef("foo", "auto", _COLS)
_BIG = TableDef("bench", "big", _COLS, table_id=2)
_CAT = {("foo", "auto"): ["id", "val", "word"], ("bench", "big"): ["id", "val", "word"]}
_DELTAS = (None, "insert", "update", "update-before", "update-after", "delete")
# Small windows: every file spans several, so a worker sends several.
_WINDOW = 700


@pytest.fixture(autouse=True)
def small_windows(monkeypatch):
    monkeypatch.setattr(binlog_tailer, "WINDOW_BYTES", _WINDOW)


@pytest.fixture
def fan_outs(monkeypatch):
    """The file lists each catch-up fanned out over."""
    seen: list[list[str]] = []
    orig = PushDelivery._catch_up

    def spy(self, files):
        seen.append(list(files))
        return orig(self, files)

    monkeypatch.setattr(PushDelivery, "_catch_up", spy)
    return seen


def _txns(w: BinlogWriter, first: int, n: int, poison_at: int | None = None) -> None:
    """Transactions over both tables with every row op; transaction
    `poison_at` gets a corrupt bench.big row body."""
    for i in range(first, first + n):
        w.write_query("foo", "BEGIN", ts=i)
        for t in (_T, _BIG) if i % 2 else (_BIG, _T):
            w.write_table_map(t, ts=i)
            start = w.offset
            w.write_rows(WRITE_ROWS_EVENT, t,
                         [[i, f"{i}.0000", "a"], [i + 1000, "0.5000", None]], ts=i)
            if i == poison_at and t is _BIG:
                w.buf[start + HEADER_LEN:] = b"\xfe" * (len(w.buf) - start - HEADER_LEN)
        w.write_table_map(_T, ts=i)
        w.write_rows(UPDATE_ROWS_EVENT, _T,
                     [([i, f"{i}.0000", "a"], [i, f"{i}.2500", "b"])], ts=i)
        w.write_table_map(_BIG, ts=i)
        w.write_rows(DELETE_ROWS_EVENT, _BIG, [[i + 1000, "0.5000", None]], ts=i)
        w.write_table_map(_T, ts=i)
        w.write_rows(DELETE_ROWS_EVENT, _T, [[i, f"{i}.2500", "b"]], ts=i)
        w.write_xid(i, ts=i)


def _log(n_files: int, checksum: str | None = None, per_file: int = 4,
         poison: tuple[int, int] | None = None, last_rotates: bool = False) -> list:
    """[(name, bytes)] of a rotation chain binlog.000001 → ...; the last
    file is the live one and has no ROTATE unless `last_rotates`.
    `poison=(file index, txn)` corrupts one foreign-table row body."""
    files = []
    for f in range(n_files):
        w = BinlogWriter(checksum=checksum)
        txn = f * per_file
        _txns(w, txn, per_file,
              poison_at=txn + poison[1] if poison and poison[0] == f else None)
        if f + 1 < n_files or last_rotates:
            w.write_rotate(f"binlog.{f + 2:06d}")
        files.append((f"binlog.{f + 1:06d}", w.getvalue()))
    return files


def _write(path, files) -> None:
    for name, data in files:
        (path / name).write_bytes(data)


def _reference(files, checksum=None, db=None, tbl=None, delta=None) -> list[dict]:
    """A serial decode of the ROTATE chain: `decode_binlog` per file,
    `envelope_records`, then the statement's filter."""
    out = []
    for name, data in files:
        recs, _ = envelope_records(decode_binlog(data, _CAT, checksum=checksum), name)
        out += recs
    if db is None:
        return out
    ops = {_DELTA_TO_OP[delta]} if delta else set(_DELTA_TO_OP.values())
    return [r for r in out if r["db"] == db and r["tbl"] == tbl and r["op"] in ops]


def _open(path, db=None, tbl=None, delta=None, **kw):
    d = PushDelivery(str(path), "binlog.000001", _CAT, **kw)
    cur = FilteredPushCursor(d, db, tbl, delta) if db is not None else d.cursor()
    d.start()
    return cur, d


def _take(cur, n: int, timeout: float = 20.0) -> list[dict]:
    got = []
    while len(got) < n and cur.next(timeout=timeout):
        got.append(cur.current)
    return got


def _assert_no_workers() -> None:
    assert multiprocessing.active_children() == []


@pytest.mark.parametrize("checksum", [None, "crc32"])
@pytest.mark.parametrize("n_files", [3, 6])
def test_catch_up_parity_with_serial_decode(tmp_path, fan_outs, checksum, n_files):
    """Record for record — seq, offset, row_idx, both images — the fanned
    out delivery equals a serial decode, unfiltered and under every
    `_delta_type` spelling, with more files than cores or fewer."""
    files = _log(n_files, checksum)
    _write(tmp_path, files)
    statements = [(None, None, None)] + [("foo", "auto", d) for d in _DELTAS]
    for db, tbl, delta in statements:
        want = _reference(files, checksum, db, tbl, delta)
        cur, d = _open(tmp_path, db, tbl, delta)
        try:
            got = _take(cur, len(want))
            assert got == want, (db, tbl, delta)
            assert not cur.next(timeout=0.2)
            assert d.error is None
        finally:
            d.stop()
    names = [name for name, _ in files]
    assert fan_outs == [names] * len(statements)
    _assert_no_workers()


def test_catch_up_then_live_tail(tmp_path, fan_outs):
    """Appends to the live file after the catch-up arrive through the
    serial turns, numbered as one serial run would number them."""
    files = _log(2, last_rotates=True)
    w = BinlogWriter()
    _txns(w, 8, 4)
    head = w.getvalue()
    _txns(w, 100, 1)
    _write(tmp_path, files + [("binlog.000003", head)])
    cur, d = _open(tmp_path)
    try:
        first = _take(cur, len(_reference(files + [("binlog.000003", head)])))
        with open(tmp_path / "binlog.000003", "ab") as fh:
            fh.write(w.getvalue()[len(head):])
        want = _reference(files + [("binlog.000003", w.getvalue())])
        got = first + _take(cur, len(want) - len(first))
        assert got == want
        assert not cur.next(timeout=0.2)
    finally:
        d.stop()
    assert len(fan_outs) == 1


def test_torn_successor_head_is_held_back(tmp_path, fan_outs):
    """A successor that exists with fewer than 4 bytes ends the chain
    without an error; once written, its records follow in order."""
    files = _log(3)
    _write(tmp_path, files[:2])
    (tmp_path / "binlog.000003").write_bytes(files[2][1][:2])
    cur, d = _open(tmp_path)
    try:
        head = _reference(files[:2])
        assert _take(cur, len(head)) == head
        assert not cur.next(timeout=0.3)
        assert d.error is None and d.tailer.current_log == "binlog.000003"
        (tmp_path / "binlog.000003").write_bytes(files[2][1])
        rest = _reference(files[2:])
        assert _take(cur, len(rest)) == rest
    finally:
        d.stop()
    assert fan_outs[0] == ["binlog.000001", "binlog.000002", "binlog.000003"]


def test_stray_names_off_the_rotate_chain_are_discarded(tmp_path, fan_outs):
    """binlog.000001 rotates to binlog.000003.  The listed binlog.000002
    (a valid log) and binlog.000009 (bad magic) are speculated on but
    the chain never reaches them: none of their records and none of
    their errors surface."""
    files = _log(2)
    w = BinlogWriter()
    _txns(w, 0, 2)
    w.write_rotate("binlog.000003")
    chain = [("binlog.000001", w.getvalue()), ("binlog.000003", files[1][1])]
    _write(tmp_path, chain)
    (tmp_path / "binlog.000002").write_bytes(files[0][1])
    (tmp_path / "binlog.000009").write_bytes(b"NOPE" + b"\x00" * 64)
    cur, d = _open(tmp_path)
    try:
        want = _reference(chain)
        assert _take(cur, len(want)) == want
        assert not cur.next(timeout=0.3)
        assert d.error is None
        assert {r["log_file"] for r in want} == {"binlog.000001", "binlog.000003"}
    finally:
        d.stop()
    assert fan_outs[0] == ["binlog.000001", "binlog.000002", "binlog.000003",
                           "binlog.000009"]
    _assert_no_workers()


def test_frame_larger_than_the_window(tmp_path, fan_outs):
    """A row event several windows long widens its window to the frame,
    in a worker and in the serial tailer alike."""
    files = _log(3)
    w = BinlogWriter()
    w.write_table_map(_T, ts=50)
    w.write_rows(WRITE_ROWS_EVENT, _T, [[50, "50.0000", "z" * 3000]], ts=50)
    w.write_xid(50, ts=50)
    _txns(w, 51, 1)
    w.write_rotate("binlog.000003")
    files[1] = ("binlog.000002", w.getvalue())
    assert len(w.getvalue()) > 4 * _WINDOW
    _write(tmp_path, files)
    want = _reference(files)
    cur, d = _open(tmp_path)
    try:
        assert _take(cur, len(want)) == want
    finally:
        d.stop()
    assert len(fan_outs) == 1

    batches: list[list[dict]] = []
    t = BinlogTailer(str(tmp_path), "binlog.000002", batches.append, _CAT)
    t.turn()
    words = [img["word"] for b in batches for e in b if e["op"] == "write_rows"
             for img in e["after"]]
    assert "z" * 3000 in words
    assert len(batches) > 1                     # one batch per window


def test_windows_are_delivered_while_the_file_decodes(tmp_path):
    """The serial loop hands each window to event_fn before decoding the
    next: the first batch arrives with the offset still inside the file."""
    name, data = _log(1)[0]
    (tmp_path / name).write_bytes(data)
    offsets: list[int] = []
    t = BinlogTailer(str(tmp_path), name, lambda b: offsets.append(t.offset), _CAT)
    t.turn()
    assert len(offsets) > 2
    assert offsets[0] <= 4 + _WINDOW < len(data)
    assert offsets == sorted(offsets) and t.offset == len(data)


def _serial(monkeypatch):
    monkeypatch.setattr(PushDelivery, "_backlog", lambda self: [])


def _run_to_error(path) -> tuple[list[dict], BaseException | None]:
    """Everything the delivery queued before its thread ended, and the
    error it ended with."""
    d = PushDelivery(str(path), "binlog.000001", _CAT, queue_size=10_000).start()
    try:
        d._thread.join(timeout=30)
        assert not d._thread.is_alive()
        got: list[dict] = []
        while not d.queue.empty():
            got += d.queue.get_nowait()[0]
        return got, d.error
    finally:
        d.stop()


def test_poison_in_rotated_file_raises_after_earlier_records(tmp_path, fan_outs,
                                                             monkeypatch):
    """A corrupt body in the second file raises the serial run's
    ValueError, after the first file's records and the second file's
    windows before the poison have been delivered."""
    files = _log(4, poison=(1, 2))
    _write(tmp_path, files)
    got, err = _run_to_error(tmp_path)
    assert err is not None and fan_outs
    clean = _reference(files[:1])
    assert got[:len(clean)] == clean
    assert any(r["log_file"] == "binlog.000002" for r in got)
    assert all(r["log_file"] != "binlog.000003" for r in got)

    with monkeypatch.context() as m:
        _serial(m)
        want, want_err = _run_to_error(tmp_path)
    assert got == want
    assert type(err) is type(want_err) and str(err) == str(want_err)

    # the cursor hands out every queued record before it raises
    cur, d = _open(tmp_path)
    seen: list[dict] = []
    try:
        with pytest.raises(ValueError) as raised:
            while cur.next(timeout=5.0):
                seen.append(cur.current)
    finally:
        d.stop()
    assert seen == got and str(raised.value) == str(err)
    _assert_no_workers()


def test_poison_in_rotated_file_is_quarantined_as_serially(tmp_path, fan_outs,
                                                           monkeypatch):
    files = _log(4, poison=(2, 1))
    _write(tmp_path, files)
    with monkeypatch.context() as m:
        _serial(m)
        cur, d = _open(tmp_path, on_error="quarantine")
        try:
            want = list(cur.drain(idle_timeout=1.0))
        finally:
            d.stop()
    assert not fan_outs
    assert [r["op"] for r in want].count("quarantine") == 1
    assert [r for r in want if r["log_file"] != "binlog.000003"] == \
        _reference(files[:2] + files[3:])

    cur, d = _open(tmp_path, on_error="quarantine")
    try:
        assert _take(cur, len(want)) == want
        assert not cur.next(timeout=0.3)
    finally:
        d.stop()
    assert fan_outs


def test_poison_after_a_file_that_did_not_rotate_is_never_raised(tmp_path, fan_outs):
    """binlog.000002 is the live file (no ROTATE); a listed
    binlog.000003 with a corrupt body is never reached."""
    live = _log(2)
    _write(tmp_path, live)
    (tmp_path / "binlog.000003").write_bytes(_log(3, poison=(2, 0))[2][1])
    cur, d = _open(tmp_path)
    try:
        want = _reference(live)
        assert _take(cur, len(want)) == want
        assert not cur.next(timeout=0.5)
        assert d.error is None
    finally:
        d.stop()
    assert fan_outs[0][-1] == "binlog.000003"
    _assert_no_workers()


@pytest.mark.parametrize("statement", [(None, None, None), ("foo", "auto", "update")])
def test_journal_restart_at_random_consumed_boundaries(tmp_path, statement):
    """Stopped after random batch ends and restarted from its journal,
    a delivery over a 4-file backlog surfaces exactly the records —
    seq included — of one uninterrupted run."""
    files = _log(4, checksum="crc32")
    _write(tmp_path, files)
    db, tbl, delta = statement
    want = _reference(files, "crc32", db, tbl, delta)
    cur, d = _open(tmp_path, db, tbl, delta)
    try:
        assert _take(cur, len(want)) == want
    finally:
        d.stop()

    journal = str(tmp_path / "push.journal")
    for seed in (0, 1, 2):
        if os.path.exists(journal):
            os.remove(journal)
        rng = random.Random(seed)
        got: list[dict] = []
        restarts = 0
        while len(got) < len(want):
            cur, d = _open(tmp_path, db, tbl, delta, journal_path=journal)
            try:
                ends = rng.randint(1, 3)       # batches to consume this run
                while ends and cur.next(timeout=5.0):
                    got.append(cur.current)
                    if cur._pos == len(cur._batch) - 1:
                        ends -= 1
            finally:
                d.stop()
            restarts += 1
            assert restarts < 500
        assert got == want, f"seed {seed}"
        assert restarts > 3


def _children() -> set[int]:
    """Pids whose parent is this process, read from /proc."""
    me = os.getpid()
    kids = set()
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rpartition(")")[2].split()[1]) == me:
            kids.add(int(entry))
    return kids


@pytest.mark.skipif(not os.path.isdir("/proc/self"), reason="no /proc")
def test_stop_mid_catch_up_leaves_no_process(tmp_path):
    """With the consumer idle the parent blocks on the full queue and
    the workers on their pipes; stop() still returns within a second
    and every worker is gone."""
    before = _children()
    files = _log(4, per_file=60)
    _write(tmp_path, files)
    d = PushDelivery(str(tmp_path), "binlog.000001", _CAT, queue_size=1).start()
    try:
        deadline = time.monotonic() + 10
        while not (d.queue.full() and multiprocessing.active_children()):
            assert time.monotonic() < deadline, "catch-up never filled the queue"
            time.sleep(0.01)
        t0 = time.monotonic()
        d.stop()
        assert time.monotonic() - t0 < 1.0
        assert not d._thread.is_alive()
    finally:
        d.stop()
    _assert_no_workers()
    assert _children() <= before
