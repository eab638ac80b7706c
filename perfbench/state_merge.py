"""state_merge: the durable production shape.  A
``spark.readStream.format("mysql_binlog")`` stream goes through
``envelope_to_rows`` into ``StateTable.merger()`` by foreachBatch with a
``processingTime="0 seconds"`` trigger.

Phases: (1) catch-up — a fresh stream (new checkpoint, new StateTable)
starts over a pre-written backlog, which its first trigger drains
uncapped; this is done ``WARM_REPS`` + ``CATCHUP_REPS`` times.  The
warm-up rep is set-up: it pays Python worker start and code generation,
which a long-running stream pays once.  (2) The last stream goes on at one
fixed offered rate.  A transaction's lag runs from its due time to the
return of the merger for the first batch whose ``endOffset`` (from
``recentProgress``) covers it.  At the end ``StateTable.current()`` must
equal the model's replayed latest state.

In the traced run the hooks go in before the last catch-up rep; its
drain time over the median of the untraced reps is the tracing
overhead.  The traced run then also checks and traces the batch log
queries of ``batch_query`` over the same log, so their layers are
measured in a workload that BENCHMARK.json lists.
"""

from __future__ import annotations

import gc
import os
import re
import statistics
import time

from perfbench import batch_query, gen
from perfbench.harness import Generator, Result, start_spark
from perfbench.stats import (
    covering_lags,
    percentile,
    stream_position,
    summarize,
)

KEYS = 20_000
BACKLOG_TXNS = 3_000
# The first catch-up pays Python worker start and code generation: it
# is set-up.
WARM_REPS = 1
CATCHUP_REPS = 5
FIXED_ROWS_S = 2_000
N_BUCKETS = 8
GEN_LATE_BOUND_MS = 100.0
COVER_TIMEOUT_S = 90.0
_BUCKET_RE = re.compile(r"_(\d{5})(?:\.|_)")

# Layers the traced run must measure (run.py fails the run otherwise).
LAYERS = ("gen.late_p99_ms", "setup.spark_s", "setup.inputs_s", "setup.warm_s",
          "binlog_datasource.latest_offset_ms", "binlog_datasource.rows_per_trigger",
          "binlog_datasource.backlog_bytes_max", "binlog_datasource.source_task_ms",
          "state_table.merge_ms_p50", "state_table.merge_ms_p99", "state_table.merge_share",
          "state_table.buckets_rewritten", "state_table.buckets_linked", "state_table.rows",
          "state_table.version_bytes", "spark.trigger_ms_p50", "spark.query_planning_ms",
          "spark.wal_commit_ms", "trace.overhead_ratio", *batch_query.QUERY_LAYERS)


def run(seed: int, seconds: float, tracer, rundir) -> Result:
    res = Result()
    fixed_s = max(3.0, 0.5 * seconds)
    log_dir = rundir.sub("binlog")
    t = time.monotonic()
    g = Generator(seed, log_dir, KEYS, BACKLOG_TXNS, [(FIXED_ROWS_S, fixed_s)])
    try:
        spark = start_spark("perfbench-state-merge")
        res.setup_parts["spark_s"] = time.monotonic() - t
        info = g.ready()
        model = gen.make_model(seed, info["txns"], KEYS)
        gc.freeze()
        res.setup_parts["inputs_s"] = info["encode_s"]
        names = info["names"]
        ends = [(names[f], pos) for f, pos in info["txn_end"]]
        first, count, rate_txn = info["plan"][0]

        t = time.monotonic()
        for rep in range(WARM_REPS):
            _Stream(spark, log_dir, rundir, rep).catch_up(ends[BACKLOG_TXNS - 1]).stop()
        res.setup_parts["warm_s"] = time.monotonic() - t
        res.first_timed = time.monotonic()
        drain_s, probe = [], None
        last = WARM_REPS + CATCHUP_REPS - 1
        for rep in range(WARM_REPS, last + 1):
            st = _Stream(spark, log_dir, rundir, rep)
            if tracer is not None and rep == last:
                probe = _Probe(tracer, st.state)
            drain_s.append(st.catch_up(ends[BACKLOG_TXNS - 1]).drain_s)
            if rep < last:
                st.stop()
        catchup = BACKLOG_TXNS * gen.TXN_ROWS * len(drain_s) / sum(drain_s)

        try:
            t0 = time.monotonic() + 0.1
            g.go(0, t0)
            progress = st.await_cover(ends[first + count - 1], t0 + count / rate_txn)
            g.done(GEN_LATE_BOUND_MS)
        finally:
            st.stop()
        done = st.done

        merged = [p for p in progress if p["batchId"] in done]
        batches = [(stream_position(p["sources"][0]["endOffset"]), done[p["batchId"]])
                   for p in merged]
        due = [t0 + k / rate_txn for k in range(count)]
        lags = covering_lags(ends[first:first + count], due, batches)
        missing = sum(1 for x in lags if x is None)
        lag_ms = [x * 1e3 for x in lags if x is not None]

        # exactly the model's latest state, foreign table included
        want = model.latest_state()
        got = {(gen.TABLES.index((r.db, r.tbl)), int(r.id)): r.value
               for r in st.state.current(spark).select("db", "tbl", "id", "value").collect()}
        res.attempted = len(model) + len(want)
        wrong = sum(1 for k, v in want.items() if got.get(k) != v[0]) + len(set(got) - set(want))
        if missing:
            res.fail(missing, f"{missing} txns never covered by a merged batch")
        if wrong:
            res.fail(wrong, f"{wrong} state rows differ from the model's latest state")

        lag = summarize(lag_ms)
        res.metrics = {"throughput_rows_s": (catchup, "rows/s")}
        res.report = {
            "merge_catchup_rows_s": (catchup, "rows/s"),
            **{f"catchup.rep{k + WARM_REPS}_s": (d, "s") for k, d in enumerate(drain_s)},
            "merge_lag_p50_s": (lag["p50"] / 1e3, "s"),
            f"merge_lag_p{lag['tail_level']:g}_s": (lag["tail"] / 1e3, "s"),
            "merge_lag_samples": (lag["n"], "count"),
            "merge_fixed_rate_rows_s": (FIXED_ROWS_S, "rows/s"),
            "merge_batches": (len(batches), "count"),
            "gen.late_p99_ms": (g.late_p99_ms(), "ms"),
        }
        if probe is not None:
            res.layers.update(probe.layers(spark, progress, info, due, first, len(got)))
            res.layers["trace.overhead_ratio"] = drain_s[-1] / statistics.median(drain_s[:-1]) - 1.0
            # set first: measure() keeps the overhead figure it finds
            batch_query.measure(spark, log_dir, model, 0.0, tracer, rundir, res)
    finally:
        g.close()
    return res


class _Stream:
    """One stream from a fresh checkpoint into a fresh StateTable."""

    def __init__(self, spark, log_dir: str, rundir, rep: int) -> None:
        from mysql_cdc_spark.operators.state_table import StateTable, envelope_to_rows

        self.state = StateTable(rundir.sub(f"state{rep}"), f"perfbench_state{rep}",
                                n_buckets=N_BUCKETS)
        merger = self.state.merger()
        self.done: dict[int, float] = {}

        def sink(df, batch_id: int) -> None:
            merger(df, batch_id)
            self.done[batch_id] = time.monotonic()

        stream = (spark.readStream.format("mysql_binlog")
                  .option("catalog", gen.CATALOG_JSON).load(log_dir))
        self.writer = (envelope_to_rows(stream).writeStream.foreachBatch(sink)
                       .option("checkpointLocation", rundir.sub(f"checkpoint{rep}"))
                       .trigger(processingTime="0 seconds"))
        self.query = None
        self.drain_s = None

    def catch_up(self, end: tuple[str, int]) -> "_Stream":
        """Start the stream and wait for the merge that covers ``end``."""
        t0 = time.monotonic()
        self.query = self.writer.start()
        try:
            progress = self.await_cover(end)
        except BaseException:
            self.stop()
            raise
        self.drain_s = self.done[_covering_batch(progress, end)] - t0
        return self

    def await_cover(self, end: tuple[str, int], not_before: float = 0.0) -> list[dict]:
        return _await_cover(self.query, end, self.done, not_before)

    def stop(self) -> None:
        self.query.stop()


def _covering_batch(progress: list[dict], end: tuple[str, int]) -> int | None:
    for p in progress:
        if stream_position(p["sources"][0]["endOffset"]) >= end:
            return p["batchId"]
    return None


def _await_cover(q, end: tuple[str, int], done: dict, not_before: float = 0.0) -> list[dict]:
    """Poll progress until a merged batch covers ``end``."""
    from perfbench.sparkstats import progress_list

    deadline = max(time.monotonic(), not_before) + COVER_TIMEOUT_S
    while time.monotonic() < deadline:
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        progress = progress_list(q)
        b = _covering_batch(progress, end)
        if b is not None and b in done:
            return progress
        time.sleep(0.02)
    raise RuntimeError(f"no batch covered {end} within {COVER_TIMEOUT_S}s")


class _Probe:
    """Traced-run instruments for the durable path: a span around each
    ``StateTable.merge_batch`` that also counts the new version's
    bucket files rewritten vs hardlinked (``st_nlink``), plus Spark's
    progress durations and stage totals."""

    def __init__(self, tracer, state) -> None:
        from mysql_cdc_spark.operators.state_table import StateTable

        self.tracer = tracer
        self.rewritten = 0
        self.linked = 0

        def after(out, args, kwargs):
            st = args[0]
            ptr = st.committed()
            rewritten, linked = _bucket_links(st._vdir(ptr["version"]))
            self.rewritten += rewritten
            self.linked += linked
            return {"rewritten": rewritten, "linked": linked}

        tracer.hook(StateTable, "merge_batch", "state_table.StateTable.merge_batch", after=after)
        self.state = state

    def layers(self, spark, progress, info, due, first, n_rows) -> dict[str, float]:
        from perfbench.sparkstats import stage_list

        data = [p for p in progress if p.get("numInputRows", 0) > 0]
        merges = [d * 1e3 for d in self.tracer.durations("state_table.StateTable.merge_batch")]
        trig = [p["durationMs"].get("triggerExecution", 0) for p in data]

        def med(key: str) -> float | None:
            vals = [p["durationMs"][key] for p in data if key in p["durationMs"]]
            return float(statistics.median(vals)) if vals else None

        sizes = _file_sizes(info)
        base = {n: sum(sizes[:i]) for i, n in enumerate(info["names"])}
        backlog_bytes = _global(info, info["plan"][0][0] - 1, base)
        backlog = 0.0
        for p in data:
            f, pos = stream_position(p["sources"][0]["endOffset"])
            committed = base.get(f, 0) + pos
            t_commit = _mono_of(p, due)
            written = backlog_bytes
            k = sum(1 for d in due if d <= t_commit)
            if k:
                written = _global(info, first + k - 1, base)
            backlog = max(backlog, written - committed)
        vdir = self.state._vdir(self.state.committed()["version"])
        # Source stages: those that read exactly one batch's input rows.
        batch_rows = {p["numInputRows"] for p in data}
        source_ms = sum(st["executorRunTime"] for st in stage_list(spark)
                        if st["inputRecords"] in batch_rows)
        return {
            "binlog_datasource.latest_offset_ms": med("latestOffset"),
            "binlog_datasource.rows_per_trigger": float(statistics.median(
                [p["numInputRows"] for p in data])) if data else None,
            "binlog_datasource.backlog_bytes_max": float(backlog) if data else None,
            "binlog_datasource.source_task_ms": float(source_ms) if source_ms else None,
            "state_table.merge_ms_p50": percentile(merges, 50) if merges else None,
            "state_table.merge_ms_p99": percentile(merges, 99) if merges else None,
            "state_table.merge_share": sum(merges) / sum(trig) if merges and sum(trig) else None,
            "state_table.buckets_rewritten": float(self.rewritten) if merges else None,
            "state_table.buckets_linked": float(self.linked) if merges else None,
            "state_table.rows": float(n_rows),
            "state_table.version_bytes": float(sum(
                os.path.getsize(os.path.join(vdir, f)) for f in os.listdir(vdir))),
            "spark.trigger_ms_p50": med("triggerExecution"),
            "spark.query_planning_ms": med("queryPlanning"),
            "spark.wal_commit_ms": med("walCommit"),
        }


def _bucket_links(vdir: str) -> tuple[int, int]:
    """(buckets whose files were rewritten, buckets hardlinked from the
    previous version) in one state version directory."""
    rewritten, linked = set(), set()
    for fn in os.listdir(vdir):
        if fn.startswith((".", "_")):
            continue
        m = _BUCKET_RE.search(fn)
        b = int(m.group(1)) if m else -1
        (linked if os.stat(os.path.join(vdir, fn)).st_nlink > 1 else rewritten).add(b)
    return len(rewritten - linked), len(linked)


def _file_sizes(info: dict) -> list[int]:
    """Final size of each log file: the end of its last transaction
    (the ROTATE that closes it is not data)."""
    sizes = [0] * len(info["names"])
    for f, pos in info["txn_end"]:
        sizes[f] = max(sizes[f], pos)
    return sizes


def _global(info: dict, txn: int, base: dict) -> int:
    f, pos = info["txn_end"][txn]
    return base[info["names"][f]] + pos


def _mono_of(progress: dict, due: list[float]) -> float:
    """Monotonic time of a progress record (its wall timestamp shifted
    onto this process's monotonic clock)."""
    from datetime import datetime, timezone

    ts = datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    wall = ts.replace(tzinfo=timezone.utc).timestamp()
    dur = progress["durationMs"].get("triggerExecution", 0) / 1e3
    return time.monotonic() - (time.time() - wall) + dur
