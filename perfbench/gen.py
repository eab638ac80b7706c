"""Seeded load generator: the change model, its pre-encoded binlog, and
the open-loop appender.

The model is a log of 10-row transactions over two tables, ``foo.auto``
(the table every workload queries) and ``foo.other`` (a foreign table
the filters must skip).  Keys come from ``keys`` ids per table and ops
are drawn 60/30/10 insert/update/delete.  An update or delete carries
the key's current image as its before-image, so replaying the model
gives the latest state a consumer must converge to.

Run as a process, the generator encodes the whole log through
``BinlogWriter`` before anything is timed, writes the backlog, and then
appends only pre-encoded byte slices on an open-loop schedule
(``due_i = t0 + i / rate``) that does not slow when the consumer does:

    python3 perfbench/gen.py --seed 1 --dir LOGDIR --keys 20000 \
        --backlog 4000 --phase 2000:4 --phase 8000:1

It prints one JSON line when the backlog is on disk (with every
transaction's end position), then reads commands from stdin: ``go K T0``
appends phase K with its first transaction due at monotonic time T0
and answers with the phase's lateness; ``quit`` exits.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import dataclass, field

import numpy as np

TXN_ROWS = 10
TABLES = (("foo", "auto"), ("foo", "other"))
COLUMNS = ("id", "val", "word")
CATALOG = {t: list(COLUMNS) for t in TABLES}
CATALOG_JSON = json.dumps({f"{d}.{t}": list(COLUMNS) for d, t in TABLES})
OPS = ("write_rows", "update_rows", "delete_rows")
OP_SHARE = (0.6, 0.3, 0.1)
ROTATE_BYTES = 1 << 20
TS_BASE = 1_700_000_000
_ALPHABET = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


@dataclass
class Model:
    """Row images of every transaction, in log order.

    ``rows[i]`` holds transaction i's rows as tuples
    ``(table_index, op, before, after)`` where an image is an
    ``(id, val, word)`` tuple of strings-as-decoded, or None."""

    rows: list[list[tuple]] = field(default_factory=list)

    def __len__(self) -> int:
        return len(self.rows)

    def matching(self, table: int = 0) -> list[tuple[int, tuple]]:
        """(txn index, row) of every row of one table, in log order."""
        return [(i, r) for i, txn in enumerate(self.rows) for r in txn if r[0] == table]

    def latest_state(self, upto: int | None = None) -> dict[tuple[int, int], tuple]:
        """(table index, id) -> (val, word) after replaying the first
        ``upto`` transactions (all by default)."""
        state: dict[tuple[int, int], tuple] = {}
        for txn in self.rows[:upto]:
            for tbl, op, _before, after in txn:
                if op == "delete_rows":
                    state.pop((tbl, int(_before[0])), None)
                else:
                    state[(tbl, int(after[0]))] = (after[1], after[2])
        return state


def make_model(seed: int, n_txns: int, keys: int) -> Model:
    """The seeded change model: same (seed, n_txns, keys), same rows."""
    rng = np.random.default_rng(seed)
    n = n_txns * TXN_ROWS
    tbl = rng.integers(0, 2, n)
    op = rng.choice(3, n, p=OP_SHARE)
    key = rng.integers(0, keys, n)
    whole = rng.integers(0, 1_000_000, n)
    frac = rng.integers(0, 10_000, n)
    wlen = rng.integers(1, 51, n)
    letters = _ALPHABET[rng.integers(0, 26, int(wlen.sum()))].tobytes().decode()
    cuts = np.concatenate(([0], np.cumsum(wlen)))
    current: dict[tuple[int, int], tuple] = {}
    model = Model()
    k = 0
    for _ in range(n_txns):
        txn = []
        for _ in range(TXN_ROWS):
            t, o, kk = int(tbl[k]), OPS[int(op[k])], int(key[k])
            ident = str(kk)
            after = (ident, f"{int(whole[k])}.{int(frac[k]):04d}",
                     letters[cuts[k]:cuts[k + 1]])
            before = current.get((t, kk), (ident, "0.0000", ""))
            if o == "write_rows":
                txn.append((t, o, None, after))
                current[(t, kk)] = after
            elif o == "update_rows":
                txn.append((t, o, before, after))
                current[(t, kk)] = after
            else:
                txn.append((t, o, before, None))
                current.pop((t, kk), None)
            k += 1
        model.rows.append(txn)
    return model


@dataclass
class EncodedLog:
    """The pre-encoded log: one byte buffer per file and, per
    transaction, the ordered writes ``(file_index, start, end)`` that
    append it.  ``txn_end[i]`` is ``(file_index, byte offset just past
    the transaction's XID)`` — the stream position that covers it."""

    names: list[str]
    files: list[bytes]
    writes: list[list[tuple[int, int, int]]]
    txn_end: list[tuple[int, int]]

    def total_bytes(self) -> int:
        return sum(len(f) for f in self.files)


def encode(model: Model) -> EncodedLog:
    """Encode every transaction through ``BinlogWriter``, rotating to
    a new ``binlog.%06d`` file once a file passes ``ROTATE_BYTES``."""
    from mysql_cdc_spark.sources.binlog_codec import BinlogWriter, TableDef
    from mysql_cdc_spark.sources.binlog_source import FIXTURE_COLUMNS

    defs = [TableDef(d, t, FIXTURE_COLUMNS, table_id=i + 1) for i, (d, t) in enumerate(TABLES)]
    codes = _op_codes()
    names: list[str] = []
    files: list[bytes] = []
    writes: list[list[tuple[int, int, int]]] = []
    ends: list[tuple[int, int]] = []
    w = None
    for i, txn in enumerate(model.rows):
        pending: list[tuple[int, int, int]] = []
        if w is None or w.offset >= ROTATE_BYTES:
            nxt = f"binlog.{len(names):06d}"
            if w is not None:
                start = w.offset
                w.write_rotate(nxt)
                pending.append((len(names) - 1, start, w.offset))
                files.append(w.getvalue())
            w = BinlogWriter()
            names.append(nxt)
            pending.insert(0, (len(names) - 1, 0, w.offset))
        fi = len(names) - 1
        start = w.offset
        ts = TS_BASE + i // 100
        w.write_query("foo", "BEGIN", ts)
        for t, op, before, after in txn:
            d = defs[t]
            w.write_table_map(d, ts)
            if op == "update_rows":
                img = [(_typed(before), _typed(after))]
            else:
                img = [_typed(after if op == "write_rows" else before)]
            w.write_rows(codes[op], d, img, ts=ts)
        w.write_xid(i + 1, ts)
        pending.append((fi, start, w.offset))
        writes.append(pending)
        ends.append((fi, w.offset))
    if w is not None:
        files.append(w.getvalue())
    return EncodedLog(names, files, writes, ends)


def _op_codes() -> dict[str, int]:
    from mysql_cdc_spark.sources.binlog_codec import (
        DELETE_ROWS_EVENT,
        UPDATE_ROWS_EVENT,
        WRITE_ROWS_EVENT,
    )

    return {"write_rows": WRITE_ROWS_EVENT, "update_rows": UPDATE_ROWS_EVENT,
            "delete_rows": DELETE_ROWS_EVENT}


def _typed(img: tuple) -> list:
    return [int(img[0]), img[1], img[2]]


class Appender:
    """Appends pre-encoded transactions to the log directory."""

    def __init__(self, log: EncodedLog, log_dir: str) -> None:
        self.log = log
        self.dir = log_dir
        self._fds: dict[int, int] = {}
        self.next_txn = 0

    def _fd(self, fi: int) -> int:
        fd = self._fds.get(fi)
        if fd is None:
            path = os.path.join(self.dir, self.log.names[fi])
            fd = self._fds[fi] = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        return fd

    def append(self, i: int) -> None:
        for fi, start, end in self.log.writes[i]:
            os.write(self._fd(fi), memoryview(self.log.files[fi])[start:end])
        self.next_txn = i + 1

    def run_open_loop(self, first: int, count: int, rate_txn_s: float, t0: float) -> list[float]:
        """Append ``count`` transactions from ``first``, transaction k
        due at ``t0 + k / rate``; returns each one's lateness in
        seconds (append end minus due time).  Sleeps until close to the
        due time and spins the rest, so lateness measures the
        generator, not the sleep granularity."""
        late = []
        for k in range(count):
            due = t0 + k / rate_txn_s
            gap = due - time.monotonic()
            if gap > 0.002:
                time.sleep(gap - 0.001)
            while time.monotonic() < due:
                pass
            self.append(first + k)
            late.append(time.monotonic() - due)
        return late

    def close(self) -> None:
        for fd in self._fds.values():
            os.close(fd)
        self._fds.clear()


def phase_plan(backlog: int, phases: list[tuple[float, float]]) -> list[tuple[int, int, float]]:
    """(first txn, txn count, txn rate) per live phase; phase k of
    ``rate`` rows/s for ``seconds`` follows the backlog and earlier
    phases in the log."""
    out, first = [], backlog
    for rate_rows, seconds in phases:
        rate_txn = rate_rows / TXN_ROWS
        count = max(1, int(round(rate_txn * seconds)))
        out.append((first, count, rate_txn))
        first += count
    return out


def main(argv: list[str] | None = None) -> int:
    from perfbench.stats import percentile

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--dir", required=True)
    ap.add_argument("--keys", type=int, required=True)
    ap.add_argument("--backlog", type=int, required=True, help="transactions written before start")
    ap.add_argument("--phase", action="append", default=[], help="RATE_ROWS_S:SECONDS")
    args = ap.parse_args(argv)
    phases = [tuple(float(x) for x in p.split(":")) for p in args.phase]
    plan = phase_plan(args.backlog, phases)
    n_txns = plan[-1][0] + plan[-1][1] if plan else args.backlog

    t = time.monotonic()
    model = make_model(args.seed, n_txns, args.keys)
    log = encode(model)
    encode_s = time.monotonic() - t
    os.makedirs(args.dir, exist_ok=True)
    app = Appender(log, args.dir)
    for i in range(args.backlog):
        app.append(i)
    print(json.dumps({
        "ready": True, "encode_s": encode_s, "txns": n_txns,
        "names": log.names, "txn_end": log.txn_end, "plan": plan,
        "bytes": log.total_bytes(),
    }), flush=True)
    try:
        for line in sys.stdin:
            cmd = line.split()
            if not cmd or cmd[0] == "quit":
                break
            k, t0 = int(cmd[1]), float(cmd[2])
            first, count, rate = plan[k]
            if app.next_txn != first:
                raise RuntimeError(f"phase {k} out of order (next txn {app.next_txn}, phase starts at {first})")
            late = app.run_open_loop(first, count, rate, t0)
            print(json.dumps({
                "phase": k, "n": count,
                "late_p99_ms": percentile(late, 99) * 1e3,
                "late_max_ms": max(late) * 1e3,
            }), flush=True)
    finally:
        app.close()
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
