"""Multi-core decode scaling (r14 VERDICT #3).

decode_rows_per_sec in bench.py is a single-pipeline number; the
100 TB claim rests on mapInArrow parallelism across binlog FILES
(read_binlog_envelope hash-distributes whole files to tasks).  This
tool measures end-to-end envelope decode rows/s on the x10 multi-file
byte log (400 files, ~200 MB) at 1 / 8 / 32 cores, each in its OWN
subprocess+JVM (core count is a session-construction property), and
reports total and PER-CORE throughput — the number that must hold as
executors are added.

Usage:
  python tools/decode_scaling.py                  # orchestrate 1/8/32
  python tools/decode_scaling.py --worker N DIR   # one measurement
Output (orchestrator): one JSON line.
"""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

X10_EVENTS = str(
    pathlib.Path(__file__).resolve().parent.parent / ".stream_tmp" / "stress" / "organic_x10"
)


def ensure_fixture() -> str:
    from mysql_cdc_spark.queries._shared import _FIXTURE_VERSION, _STREAM_TMP
    from mysql_cdc_spark.sources import binlog_source as bs

    out_dir = pathlib.Path(_STREAM_TMP) / f"binlog_organic_x10_v{_FIXTURE_VERSION}"
    if not any(out_dir.glob("binlog.*")):
        bs.generate_binlog_from_events(X10_EVENTS, str(out_dir))
    return str(out_dir)


def worker(cores: int, fixture: str) -> None:
    import os

    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    from mysql_cdc_spark.session import get_spark
    from mysql_cdc_spark.sources import binlog_source as bs

    spark = get_spark(f"decode-scaling-{cores}")
    spark.sparkContext.setLogLevel("ERROR")
    env = bs.read_binlog_envelope(spark, fixture)
    n_rows = env.count()  # warm (also the row count)
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        bs.read_binlog_envelope(spark, fixture).write.format("noop").mode(
            "overwrite"
        ).save()
        best = min(best, time.perf_counter() - t0)
    print(json.dumps({
        "cores": cores, "rows": n_rows, "wall_sec": round(best, 3),
        "rows_per_sec": int(n_rows / best),
        "rows_per_sec_per_core": int(n_rows / best / cores),
    }), flush=True)


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--worker":
        worker(int(sys.argv[2]), sys.argv[3])
        return
    fixture = ensure_fixture()
    results = []
    for cores in (1, 8, 32):
        proc = subprocess.run(
            [sys.executable, __file__, "--worker", str(cores), fixture],
            capture_output=True, text=True, timeout=1800,
        )
        line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
        if not line:
            raise SystemExit(
                f"worker cores={cores} produced no result:\n{proc.stderr[-2000:]}"
            )
        results.append(json.loads(line[-1]))
    base = results[0]["rows_per_sec"]
    print(json.dumps({
        "fixture": fixture,
        "points": results,
        "scaling_8x": round(results[1]["rows_per_sec"] / base, 2),
        "scaling_32x": round(results[2]["rows_per_sec"] / base, 2),
        "per_core_retention_32": round(
            results[2]["rows_per_sec_per_core"] / base, 2),
    }))


if __name__ == "__main__":
    main()
