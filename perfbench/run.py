"""CDC benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload push_tail --seed 1 --seconds 10 --trace 0

Workloads (README.md in this directory defines every metric):

* ``push_tail``   — live push tail: tailer → bounded queue → filtered cursor
* ``state_merge`` — durable stream: mysql_binlog stream → StateTable MERGE
* ``batch_query`` — batch replay: log queries over a generated binlog
  (run by hand; ``BENCHMARK.json`` lists the first two, and the traced
  ``state_merge`` run measures these queries' layers)

Every run checks the program's outputs.  The report lines name every
figure with its unit; the LAST line is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` carrying the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``, a separate run with spans and Spark's own records on).
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import harness  # noqa: E402  (starts the set-up clock)

WORKLOADS = ("push_tail", "state_merge", "batch_query")

# Gated end-to-end metrics.  Every workload reports each one; what the
# name measures on each workload is in README.md.
END_TO_END = {
    "setup_s": "s",
    "throughput_rows_s": "rows/s",
}

LOG_QUERIES = ("log_scan", "log_pushdown", "log_narrow", "log_binaryfile", "log_txn",
               "log_cursor", "log_archive")

PER_LAYER: dict[str, str] = {
    "setup.spark_s": "s",
    "setup.inputs_s": "s",
    "setup.warm_s": "s",
    "gen.late_p99_ms": "ms",
    "binlog_codec.decode_rows_s": "rows/s",
    "binlog_codec.bytes_per_call": "bytes",
    "binlog_tailer.turn_ms_p50": "ms",
    "binlog_tailer.turn_ms_p99": "ms",
    "binlog_tailer.turns": "count",
    "binlog_tailer.bytes_per_turn": "bytes",
    "push.envelope_ms": "ms",
    "push.queue_full_share": "ratio",
    "push.cursor_wait_share": "ratio",
    "push.useful_decode_ratio": "ratio",
    "binlog_datasource.latest_offset_ms": "ms",
    "binlog_datasource.rows_per_trigger": "rows",
    "binlog_datasource.backlog_bytes_max": "bytes",
    "binlog_datasource.source_task_ms": "ms",
    "state_table.merge_ms_p50": "ms",
    "state_table.merge_ms_p99": "ms",
    "state_table.merge_share": "ratio",
    "state_table.buckets_rewritten": "count",
    "state_table.buckets_linked": "count",
    "state_table.rows": "count",
    "state_table.version_bytes": "bytes",
    "spark.trigger_ms_p50": "ms",
    "spark.query_planning_ms": "ms",
    "spark.wal_commit_ms": "ms",
    "cursor.first_row_ms": "ms",
    "binlog_datasource.pushdown_rows_ratio": "ratio",
    **{f"queries.{q}.{m}": u for q in LOG_QUERIES
       for m, u in (("build_ms", "ms"), ("exec_ms", "ms"), ("cpu_ms", "ms"),
                    ("shuffle_bytes", "bytes"))},
    "trace.spans": "count",
    "trace.overhead_ratio": "ratio",
}

TRACE_OUT = ".perfbench_out"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="CDC benchmark (one workload, one run)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        importlib.import_module("mysql_cdc_spark")
    except ImportError as exc:
        print(f"perfbench: the engine is not importable here: {exc}", file=sys.stderr)
        return 2

    harness.pin_environment()
    harness.adopt_orphans()
    load_start = os.getloadavg()
    workload = importlib.import_module(f"perfbench.{args.workload}")
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
    rundir = harness.RunDir(args.workload)
    try:
        res = workload.run(args.seed, args.seconds, tracer, rundir)
    except harness.GeneratorBehind as exc:
        print(f"perfbench: run not recorded: {exc}", file=sys.stderr)
        return 3
    finally:
        if tracer is not None:
            tracer.unhook_all()
        # Spark's JVM would otherwise outlive this process by seconds,
        # and its Python workers with it.
        leftover = harness.end_processes()
        rundir.remove()
    if leftover:
        print(f"perfbench: had to signal processes {leftover}", file=sys.stderr)

    setup_s = res.first_timed - harness.PROCESS_START
    metrics = {"setup_s": (setup_s, "s"), **res.metrics}
    facts = harness.host_facts(args.seed)
    facts["loadavg_start"] = list(load_start)
    facts["loadavg_end"] = facts.pop("loadavg")
    facts["workload"] = args.workload
    facts["trace"] = args.trace

    if tracer is not None:
        # BENCHMARK.json has one per-layer list for every workload, so a
        # traced run reports all of it.  A workload must measure its own
        # layers (workload.LAYERS); the layers it never calls read 0.
        res.layers.update({f"setup.{k}": v for k, v in res.setup_parts.items()})
        if "gen.late_p99_ms" in res.report:
            res.layers["gen.late_p99_ms"] = res.report["gen.late_p99_ms"][0]
        empty = [n for n in workload.LAYERS if not _measured(res.layers.get(n))]
        if empty:
            print(f"perfbench: layers not measured: {empty}", file=sys.stderr)
            return 4
        unknown = set(res.layers) - set(PER_LAYER)
        if unknown:
            raise RuntimeError(f"undeclared per-layer metrics: {sorted(unknown)}")
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(res.layers)
        layers["trace.spans"] = float(len(tracer.spans))
        out_dir = harness.ROOT / TRACE_OUT
        out_dir.mkdir(exist_ok=True)
        tracer.write(str(out_dir / f"spans-{args.workload}-{args.seed}.jsonl"))
        self_ms = {k: round(v * 1e3, 3) for k, v in sorted(tracer.self_times().items())}
        print("self_ms " + json.dumps(self_ms))
        for name in PER_LAYER:
            if name not in res.layers and not name.startswith("trace."):
                print(f"layer {name} = 0 (not exercised by {args.workload})")
        final = {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in layers.items()}
    else:
        final = {k: {"value": float(metrics[k][0]), "unit": u} for k, u in END_TO_END.items()}

    print("host " + json.dumps(facts))
    for name, (value, unit) in {**metrics, **res.report}.items():
        print(f"metric {name} = {value} {unit}")
    print(f"metric error_rate = {res.failed / max(res.attempted, 1)} ratio")
    if res.setup_parts:
        print("setup " + json.dumps(res.setup_parts))
    for note in res.notes:
        print(f"check-failed {note}")
    print(json.dumps({"correct": res.failed == 0, "attempted": int(res.attempted),
                      "failed": int(res.failed), "metrics": final}))
    return 0


def _measured(value) -> bool:
    return value is not None and math.isfinite(value)


if __name__ == "__main__":
    sys.exit(main())
