"""push_tail: the reference's hot path — inotify wakes the tailer, which
decodes incrementally into a bounded queue read by a blocking filtered
cursor over ``select * from "foo"."auto"``, opened exactly as a user
opens it, through ``CDCStatement.execute_query_push``.  No Spark job
runs.

Phases: (1) catch-up — fresh cursors drain a pre-written backlog, one
warm-up rep and ``CATCHUP_REPS`` timed ones; (2) one fixed offered rate,
for the lag percentiles; (3) a rate ladder climbed until a step's tail
lag passes ``LAG_LIMIT_MS`` or it leaves a backlog one second after it
ends.  Every matching row must arrive exactly once, in log order, with
the generator's values.

In the traced run every other catch-up rep runs with the hooks paused;
the ratio of the two rates is the tracing overhead.
"""

from __future__ import annotations

import gc
import statistics
import threading
import time

from perfbench import gen
from perfbench.harness import Generator, Result
from perfbench.stats import ladder_max, percentile, step_passes, summarize

SQL = 'select * from "foo"."auto"'
KEYS = 20_000
BACKLOG_TXNS = 2_000
# Each rep's rate falls in one of two modes (about 13k and 17k rows/s
# on a 4-core host); the rate over many reps is steadier than any one.
CATCHUP_REPS = 16
FIXED_ROWS_S = 8_000
# Offered rows/s over both tables.  On a 4-core host HEAD stops between
# 24k and 48k; the top step leaves room for a faster push path.
LADDER_ROWS_S = (8_000, 16_000, 24_000, 32_000, 48_000, 64_000)
LAG_LIMIT_MS = 50.0
DRAIN_GRACE_S = 1.0
GEN_LATE_BOUND_MS = 50.0


def _row(rec: dict) -> tuple:
    b, a = rec["before"], rec["after"]
    return (rec["op"],
            None if b is None else (b["id"], b["val"], b["word"]),
            None if a is None else (a["id"], a["val"], a["word"]))


class _Consumer:
    """Pulls matching rows off one push cursor, stamping each.  Rows
    are checked against the model and dropped phase by phase, so the
    consumer holds no more than one phase of records."""

    def __init__(self, stmt, log_dir: str, expected: list[tuple]) -> None:
        self.cursor, self.delivery = stmt.execute_query_push(SQL, log_dir, catalog=gen.CATALOG)
        self.expected = expected
        self.rows: list[dict] = []
        self.times: list[float] = []
        self.checked = 0
        self.bad = 0

    def pull(self, n_target: int, deadline: float) -> bool:
        cur, rows, times = self.cursor, self.rows, self.times
        now = time.monotonic
        while len(times) < n_target:
            left = deadline - now()
            if left <= 0:
                return False
            if cur.next(timeout=min(left, 0.5)):
                times.append(now())
                rows.append(cur.current)
        return True

    def check(self) -> None:
        """Compare the rows pulled since the last check with the
        model's rows at the same positions, then drop them."""
        want = self.expected[self.checked:self.checked + len(self.rows)]
        self.bad += _mismatches([_row(r) for r in self.rows], want)
        self.checked += len(self.rows)
        self.rows.clear()

    def stop(self) -> None:
        self.delivery.stop()


# Layers the traced run must measure (run.py fails the run otherwise).
LAYERS = ("gen.late_p99_ms", "setup.inputs_s", "binlog_codec.decode_rows_s",
          "binlog_codec.bytes_per_call", "binlog_tailer.turn_ms_p50", "binlog_tailer.turn_ms_p99",
          "binlog_tailer.turns", "binlog_tailer.bytes_per_turn", "push.envelope_ms",
          "push.queue_full_share", "push.cursor_wait_share", "push.useful_decode_ratio",
          "trace.overhead_ratio")


def run(seed: int, seconds: float, tracer, rundir) -> Result:
    from mysql_cdc_spark.api import connect

    res = Result()
    t_setup = time.monotonic()
    fixed_s = max(2.0, 0.3 * seconds)
    step_s = max(0.5, 0.06 * seconds)
    phases = [(FIXED_ROWS_S, fixed_s)] + [(r, step_s) for r in LADDER_ROWS_S]
    log_dir = rundir.sub("binlog")
    g = Generator(seed, log_dir, KEYS, BACKLOG_TXNS, phases)
    try:
        info = g.ready()
        n_txns = info["txns"]
        model = gen.make_model(seed, n_txns, KEYS)
        expected = model.matching(0)
        exp_rows = [(op, b, a) for _, (_, op, b, a) in expected]
        # index (into the matching rows) of each txn's last matching row
        last_row: dict[int, int] = {}
        for k, (i, _) in enumerate(expected):
            last_row[i] = k
        plan = info["plan"]
        n_backlog_rows = sum(1 for i, _ in expected if i < BACKLOG_TXNS)
        gc.freeze()  # the model is long-lived: keep it out of collections
        res.setup_parts["inputs_s"] = time.monotonic() - t_setup
        res.first_timed = time.monotonic()

        conn = connect(f"jdbc:mysql-cdc:{log_dir}", None)
        probe = _Probe(tracer) if tracer is not None else None

        def statement():
            if conn._statement is not None:
                conn._statement.close()
            return conn.create_statement()

        # (1) catch-up reps over the backlog, each on a fresh cursor
        drain_s, untraced_s = [], []
        for rep in range(CATCHUP_REPS + 1):
            traced = probe is not None and rep % 2 == 0
            if probe is not None:
                tracer.trace_id = f"catchup{rep}"
                tracer.resume() if traced else tracer.pause()
            t0 = time.monotonic()
            c = _Consumer(statement(), log_dir, exp_rows)
            if traced:
                probe.attach(c.delivery)
            c.pull(n_backlog_rows, t0 + 60)
            t1 = time.monotonic()
            c.stop()
            if traced:
                probe.detach(t1 - t0)
            c.check()
            res.attempted += n_backlog_rows
            bad = c.bad + n_backlog_rows - c.checked
            if bad:
                res.fail(bad, f"catch-up rep {rep}: {bad} rows missing or wrong")
            if rep:
                (drain_s if traced or probe is None else untraced_s).append(t1 - t0)

        # (2) + (3): one live cursor through the fixed rate and the ladder
        if probe is not None:
            tracer.resume()
        c = _Consumer(statement(), log_dir, exp_rows)
        if probe is not None:
            tracer.trace_id = "live"
            probe.attach(c.delivery)
        live_t0 = time.monotonic()
        c.pull(n_backlog_rows, live_t0 + 60)
        c.check()
        steps, fixed_lags = [], None
        for k, (first, count, rate_txn) in enumerate(plan):
            if tracer is not None:
                tracer.trace_id = f"phase{k}"
            t0 = time.monotonic() + 0.05
            g.go(k, t0)
            phase_txns = range(first, first + count)
            due = {i: t0 + (i - first) / rate_txn for i in phase_txns}
            idx = [last_row[i] for i in phase_txns if i in last_row]
            end_of_phase = t0 + count / rate_txn
            target = idx[-1] + 1 if idx else len(c.times)
            drained = c.pull(target, end_of_phase + DRAIN_GRACE_S)
            if not drained:
                c.pull(target, time.monotonic() + 30)
            # A ladder step the generator could not hold fails the step;
            # the fixed rate's numbers are gated, so there it voids the run.
            late = g.done(GEN_LATE_BOUND_MS if k == 0 else None)["late_p99_ms"]
            c.check()
            lags = [(c.times[last_row[i]] - due[i]) * 1e3
                    for i in phase_txns if i in last_row and last_row[i] < len(c.times)]
            if k == 0:
                fixed_lags, gen_late_ms = lags, late
                continue
            s = summarize(lags)
            steps.append({"rate": LADDER_ROWS_S[k - 1], "lag_p50_ms": s["p50"],
                          "lag_tail_ms": s["tail"] if s["tail"] is not None else max(lags),
                          "drained": drained, "generator_ok": late <= GEN_LATE_BOUND_MS,
                          "n": len(lags)})
            if not step_passes(steps[-1], LAG_LIMIT_MS):
                break
        if probe is not None:
            probe.detach(time.monotonic() - live_t0)
        # anything past the last phase's rows would be a duplicate
        c.pull(len(c.times) + 1, time.monotonic() + 0.2)
        c.stop()
        c.check()
        n_live_expected = sum(1 for i, _ in expected if i < plan[len(steps)][0] + plan[len(steps)][1])
        res.attempted += n_live_expected
        bad = c.bad + abs(n_live_expected - c.checked)
        if bad:
            res.fail(bad, f"live cursor: {bad} rows missing, duplicated, out of order or wrong")
    finally:
        g.close()

    fixed = summarize(fixed_lags)
    catchup = n_backlog_rows * len(drain_s) / sum(drain_s)
    res.metrics = {"throughput_rows_s": (catchup, "rows/s")}
    res.report = {
        "push_catchup_rows_s": (catchup, "rows/s"),
        "push_lag_p50_ms": (fixed["p50"], "ms"),
        f"push_lag_p{fixed['tail_level']:g}_ms": (fixed["tail"], "ms"),
        "push_lag_samples": (fixed["n"], "count"),
        "push_fixed_rate_rows_s": (FIXED_ROWS_S, "rows/s"),
        "push_max_rows_s": (ladder_max(steps, LAG_LIMIT_MS), "rows/s"),
        "gen.late_p99_ms": (gen_late_ms, "ms"),
    }
    for s in steps:
        res.report[f"ladder.{s['rate']}.lag_tail_ms"] = (s["lag_tail_ms"], "ms")
    if probe is not None:
        res.layers.update(probe.layers(tracer))
        res.layers["trace.overhead_ratio"] = (
            n_backlog_rows * len(untraced_s) / sum(untraced_s) / catchup - 1.0)
    return res


def _mismatches(got: list[tuple], want: list[tuple]) -> int:
    """Rows that are missing, extra, out of order or carry wrong values."""
    bad = abs(len(got) - len(want))
    for a, b in zip(got, want):
        if a != b:
            bad += 1
    return bad


class _Probe:
    """Traced-run instruments for the push path: spans around the
    tailer's turn and decode, envelope building and the cursor, plus a
    10 ms sampler of the bounded queue."""

    def __init__(self, tracer) -> None:
        from mysql_cdc_spark.streaming import binlog_tailer, push

        self.tracer = tracer
        tracer.hook(binlog_tailer.BinlogTailer, "turn", "binlog_tailer.turn",
                    after=lambda out, a, kw: {"bytes": a[0].last_read_bytes})
        tracer.hook(binlog_tailer, "decode_binlog_incremental", "binlog_codec.decode_binlog_incremental",
                    after=lambda out, a, kw: {"bytes": len(a[0]), "images": _images(out[0])})
        tracer.hook(push, "envelope_records", "push.envelope_records",
                    after=lambda out, a, kw: {"records": len(out[0])})
        tracer.hook(push.FilteredPushCursor, "next", "push.FilteredPushCursor.next",
                    after=lambda out, a, kw: {"ok": out})
        self.samples = 0
        self.full = 0
        self.wait_s = 0.0
        self.wall_s = 0.0
        self._stop = threading.Event()
        self._thread = None

    def attach(self, delivery) -> None:
        q = delivery.queue
        orig_get = q.get

        def timed_get(*a, **kw):
            t = time.monotonic()
            try:
                return orig_get(*a, **kw)
            finally:
                self.wait_s += time.monotonic() - t

        q.get = timed_get
        self._stop.clear()

        def sample():
            while not self._stop.wait(0.01):
                self.samples += 1
                if q.qsize() >= q.maxsize:
                    self.full += 1

        self._thread = threading.Thread(target=sample, daemon=True)
        self._thread.start()

    def detach(self, wall_s: float) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.wall_s += wall_s

    def layers(self, tracer) -> dict[str, float]:
        dec = tracer.closed("binlog_codec.decode_binlog_incremental")
        dec_s = sum(s[2] - s[1] for s in dec)
        images = sum(s[5].get("images", 0) for s in dec)
        turns = tracer.closed("binlog_tailer.turn")
        turn_ms = [(s[2] - s[1]) * 1e3 for s in turns]
        env_s = sum(tracer.durations("push.envelope_records"))
        surfaced = sum(1 for s in tracer.closed("push.FilteredPushCursor.next") if s[5].get("ok"))
        return {
            "binlog_codec.decode_rows_s": images / dec_s if dec_s else None,
            "binlog_codec.bytes_per_call": statistics.mean(s[5]["bytes"] for s in dec) if dec else None,
            "binlog_tailer.turn_ms_p50": percentile(turn_ms, 50) if turn_ms else None,
            "binlog_tailer.turn_ms_p99": percentile(turn_ms, 99) if turn_ms else None,
            "binlog_tailer.turns": float(len(turns)) if turns else None,
            "binlog_tailer.bytes_per_turn": statistics.mean(s[5]["bytes"] for s in turns) if turns else None,
            "push.envelope_ms": env_s * 1e3 if env_s else None,
            "push.queue_full_share": self.full / self.samples if self.samples else None,
            "push.cursor_wait_share": self.wait_s / self.wall_s if self.wall_s else None,
            "push.useful_decode_ratio": surfaced / images if images else None,
        }


def _images(events: list[dict]) -> int:
    n = 0
    for ev in events:
        if ev["op"].endswith("_rows"):
            n += max(len(ev["before"] or ()), len(ev["after"] or ()))
    return n
