"""Streaming state-store scaling ramp (r11 VERDICT #4): grow the
stateful key cardinality 10-100× beyond the fixture's and record, for
the default on-heap provider vs RocksDB:

- drain wall of the declarative latest-state aggregate (a streaming
  groupBy max_by(struct(...), offset) in update mode, the shape
  `cdc_stream_latest_state_agg` registers; 4 micro-batches,
  availableNow, noop sink)
- final state rows + reported state memory (stateOperators metrics)
- summed state commit time across batches
- checkpoint directory size on disk

The r11 A/B ran at fixture-state size only (~couple thousand keys);
this names the cardinality where the default provider actually
degrades — or records honestly that it doesn't within reachable
cardinalities.

Fixture per cardinality K: 4 parquet files (one per micro-batch,
maxFilesPerTrigger=1), each with one update for EVERY key (offset =
batch*K + id), so state holds K entries from batch 1 and every batch
rewrites every key — the worst-case update pattern for the store.

Usage: python tools/state_scale.py [K ...]   (default 10k 100k 500k)
Output: one JSON row per (K, provider).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import time
import uuid
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SCRATCH = Path(__file__).resolve().parent.parent / ".stream_tmp" / "state_scale"
N_BATCHES = 4

_PROVIDERS = {
    "default": None,
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}

# r20 (guide §5, r19 VERDICT #4): RocksDB changelog checkpointing —
# each commit uploads the batch's CHANGELOG instead of snapshotting
# the whole store (snapshots happen async in maintenance).  Measured
# at 50k keys on one instance: commit_ms_total 23.5s -> 8.0s (-66%),
# checkpoint_bytes halved, updates/wall unchanged (the Python
# per-group harness dominates wall; see OPTIMIZATION_r20.md).
CHANGELOG_CONF = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)


def build_fixture(k: int) -> Path:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = SCRATCH / f"src_k{k}"
    if d.exists():
        return d
    d.mkdir(parents=True)
    ids = np.arange(k, dtype=np.int64)
    for b in range(N_BATCHES):
        tbl = pa.table(
            {
                "db": pa.array(["d"] * k),
                "tbl": pa.array(["t"] * k),
                "id": pa.array(ids),
                "offset": pa.array(b * k + ids),
                "value": pa.array((ids % 1000).astype("float64") + b),
                "_delta_type": pa.array(
                    ["insert" if b == 0 else "update-after"] * k
                ),
            }
        )
        pq.write_table(tbl, d / f"batch_{b}.parquet")
    return d


def run_once(
    spark,
    src: Path,
    provider: str | None,
    extra_confs: dict[str, str] | None = None,
) -> dict:
    """Drain the fixture through the declarative latest-state
    aggregate under `provider` (None = the default on-heap store)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    key = "spark.sql.streaming.stateStore.providerClass"
    if provider is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, provider)
    for k, v in (extra_confs or {}).items():
        spark.conf.set(k, v)

    schema = T.StructType(
        [
            T.StructField("db", T.StringType(), False),
            T.StructField("tbl", T.StringType(), False),
            T.StructField("id", T.LongType(), True),
            T.StructField("offset", T.LongType(), False),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("_delta_type", T.StringType(), False),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    transformed = (
        stream.filter(F.col("_delta_type") != "update-before")
        .groupBy("db", "tbl", "id")
        .agg(
            F.expr("max_by(struct(value, _delta_type), offset)").alias("last"),
            F.max("offset").alias("as_of_offset"),
        )
    )
    cp = SCRATCH / f"cp_{uuid.uuid4().hex[:10]}"
    t0 = time.perf_counter()
    q = (
        transformed
        .writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", str(cp))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0

    rows_total = mem_bytes = commit_ms = updates_ms = 0
    for p in q.recentProgress:
        for so in p.get("stateOperators", []):
            rows_total = max(rows_total, so.get("numRowsTotal", 0))
            mem_bytes = max(mem_bytes, so.get("memoryUsedBytes", 0))
            commit_ms += so.get("commitTimeMs", 0)
            updates_ms += so.get("allUpdatesTimeMs", 0)
    du = subprocess.run(
        ["du", "-sb", str(cp)], capture_output=True, text=True
    ).stdout.split("\t")[0]
    shutil.rmtree(cp, ignore_errors=True)
    spark.conf.unset(key)
    for k in extra_confs or {}:
        spark.conf.unset(k)
    return {
        "wall_sec": round(wall, 2),
        "state_rows": rows_total,
        "state_mem_mb": round(mem_bytes / 1e6, 1),
        "commit_ms_total": commit_ms,
        "updates_ms_total": updates_ms,
        "checkpoint_bytes": int(du or 0),
    }


def build_txn_fixture(k: int, holdback: int = 0) -> Path:
    """Fixture for the TRANSACTION-ASSEMBLER ramp (r15 VERDICT #3):
    K concurrent OPEN transactions = K log_file keys, each
    mid-transaction until the last batch's XID (a single file holds
    one open transaction at a time by definition — commit boundaries
    are serial per file; concurrency is across files/servers).

    holdback=0 (in-order): batch b delivers offset b per key; the
    reorder buffer stays empty and state is pure open-transaction
    accumulators — the ramp isolates per-key state carry.

    holdback=B (gapped): batch 0 delivers the anchor (offset 0) plus
    offsets 2..B+1 — a GAP at offset 1 — and batches 1..2 deliver B
    more gapped offsets each, so the single-value holdback buffer
    holds B, 2B, 3B events per key and every batch REWRITES it (the
    O(|buffer|) array round-trip stateful.py:265-276 documents); the
    final batch fills the gap and commits, draining everything.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = SCRATCH / f"txn_k{k}_h{holdback}"
    if d.exists():
        return d
    d.mkdir(parents=True)
    files = np.array([f"f{i:07d}" for i in range(k)])
    ts = np.full(k, 1_700_000_000_000_000, dtype="int64")  # µs epoch

    def write(b: int, offsets: list[tuple[int, str, int | None]]) -> None:
        n = len(offsets)
        tbl = pa.table(
            {
                "log_file": pa.array(np.repeat(files, n)),
                "offset": pa.array(
                    np.tile(np.array([o for o, _, _ in offsets]), k)
                ),
                "op": pa.array(
                    np.tile(np.array([op for _, op, _ in offsets]), k)
                ),
                "xid": pa.array(
                    [x for _ in range(k) for _, _, x in offsets],
                    type=pa.int64(),
                ),
                "ts": pa.array(
                    np.repeat(ts, n), type=pa.timestamp("us")
                ),
            }
        )
        pq.write_table(tbl, d / f"batch_{b}.parquet")

    if holdback == 0:
        for b in range(N_BATCHES - 1):
            write(b, [(b, "write_rows", None)])
        write(N_BATCHES - 1, [(N_BATCHES - 1, "xid", 42)])
    else:
        nxt = 2
        write(0, [(0, "write_rows", None)]
              + [(nxt + j, "write_rows", None) for j in range(holdback)])
        nxt += holdback
        for b in range(1, N_BATCHES - 1):
            write(b, [(nxt + j, "write_rows", None) for j in range(holdback)])
            nxt += holdback
        write(N_BATCHES - 1, [(1, "write_rows", None), (nxt, "xid", 42)])
    return d


def build_txn_deep_fixture(n_per_batch: int, commit_every: int = 100) -> Path:
    """Degenerate single-file fixture (r15 VERDICT watch item c): ONE
    log_file key receives n_per_batch dense in-order events per batch
    (an xid every `commit_every` offsets), so the whole stream
    serializes onto one task by commit-ordering necessity — this
    measures the per-event cost of that serial tail, the bound a
    3000-writes/s reference server must stay under."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = SCRATCH / f"txn_deep_{n_per_batch}_c{commit_every}"
    if d.exists():
        return d
    d.mkdir(parents=True)
    ts = 1_700_000_000_000_000
    for b in range(N_BATCHES):
        offs = np.arange(b * n_per_batch, (b + 1) * n_per_batch, dtype="int64")
        is_xid = (offs % commit_every) == (commit_every - 1)
        tbl = pa.table(
            {
                "log_file": pa.array(np.repeat("f0", n_per_batch)),
                "offset": pa.array(offs),
                "op": pa.array(
                    np.where(is_xid, "xid", "write_rows")
                ),
                "xid": pa.array(
                    [int(o) if x else None for o, x in zip(offs, is_xid)],
                    type=pa.int64(),
                ),
                "ts": pa.array(
                    np.full(n_per_batch, ts, dtype="int64"),
                    type=pa.timestamp("us"),
                ),
            }
        )
        pq.write_table(tbl, d / f"batch_{b}.parquet")
    return d


def run_txn_once(spark, src: Path, provider: str | None) -> dict:
    """One availableNow drain of txn_events_stateful over a txn
    fixture; same metric surface as run_once."""
    from pyspark.sql import types as T

    from mysql_cdc_spark.streaming.stateful import txn_events_stateful

    key = "spark.sql.streaming.stateStore.providerClass"
    if provider is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, provider)
    schema = T.StructType(
        [
            T.StructField("log_file", T.StringType(), False),
            T.StructField("offset", T.LongType(), False),
            T.StructField("op", T.StringType(), False),
            T.StructField("xid", T.LongType(), True),
            T.StructField("ts", T.TimestampType(), False),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    cp = SCRATCH / f"cp_{uuid.uuid4().hex[:10]}"
    t0 = time.perf_counter()
    q = (
        txn_events_stateful(stream)
        .writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", str(cp))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0
    rows_total = mem_bytes = commit_ms = updates_ms = 0
    out_rows = 0
    for p in q.recentProgress:
        out_rows += p.get("sink", {}).get("numOutputRows", 0) or 0
        for so in p.get("stateOperators", []):
            rows_total = max(rows_total, so.get("numRowsTotal", 0))
            mem_bytes = max(mem_bytes, so.get("memoryUsedBytes", 0))
            commit_ms += so.get("commitTimeMs", 0)
            updates_ms += so.get("allUpdatesTimeMs", 0)
    du = subprocess.run(
        ["du", "-sb", str(cp)], capture_output=True, text=True
    ).stdout.split("\t")[0]
    shutil.rmtree(cp, ignore_errors=True)
    spark.conf.unset(key)
    return {
        "wall_sec": round(wall, 2),
        "commits_emitted": int(out_rows),
        "peak_open_state_rows": rows_total,
        "state_mem_mb": round(mem_bytes / 1e6, 1),
        "commit_ms_total": commit_ms,
        "updates_ms_total": updates_ms,
        "checkpoint_bytes": int(du or 0),
    }


def _select_providers(argv: list[str]) -> dict:
    """Resolve --provider= args.  EVERY unknown value is an error even
    when others are valid — '--provider=python_dict --provider=typo'
    must not silently drop the typo and run a narrowed subset (r14
    ADVICE; same silent-widening/narrowing class as the r13 fix)."""
    requested = [a.split("=", 1)[1] for a in argv if a.startswith("--provider=")]
    unknown = [t for t in requested if t not in _PROVIDERS]
    if unknown:
        raise SystemExit(
            f"unknown --provider value(s) {unknown}; "
            f"known: {sorted(_PROVIDERS)}"
        )
    if not requested:
        return dict(_PROVIDERS)
    return {t: _PROVIDERS[t] for t in dict.fromkeys(requested)}


def main() -> None:
    ks = [int(a) for a in sys.argv[1:] if a.isdigit()] or [10_000, 100_000, 500_000]
    # Validate --provider= BEFORE spinning up Spark: a mistyped name
    # must fail in milliseconds, not silently widen a multi-hour ramp
    # to every provider (r13 ADVICE).
    providers = _select_providers(sys.argv)
    from mysql_cdc_spark.session import get_spark

    spark = get_spark("state-scale")
    spark.sparkContext.setLogLevel("ERROR")
    # --txn[=B]: the transaction-assembler ramp (r15 VERDICT #3) —
    # K concurrent OPEN transactions per point; B>0 adds the gapped
    # holdback-buffer stress (B buffered events added per batch).
    # --txn-deep: ONE key, K = events per batch (the serial-tail
    # degenerate case; commits every 100 offsets)
    if "--txn-deep" in sys.argv:
        warm = build_txn_deep_fixture(5_000)
        for prov in providers.values():
            run_txn_once(spark, warm, prov)
        for k in ks:
            src = build_txn_deep_fixture(k)
            for tag, prov in providers.items():
                m = run_txn_once(spark, src, prov)
                m["events_total"] = k * N_BATCHES
                m["events_per_sec_serial"] = int(k * N_BATCHES / m["wall_sec"])
                print(
                    json.dumps({
                        "events_per_batch": k, "provider": tag, **m,
                    }),
                    flush=True,
                )
        return
    txn_args = [a for a in sys.argv if a == "--txn" or a.startswith("--txn=")]
    if txn_args:
        holdback = (
            int(txn_args[0].split("=", 1)[1]) if "=" in txn_args[0] else 0
        )
        warm = build_txn_fixture(1000, holdback)
        for prov in providers.values():
            run_txn_once(spark, warm, prov)
        for k in ks:
            src = build_txn_fixture(k, holdback)
            for tag, prov in providers.items():
                m = run_txn_once(spark, src, prov)
                print(
                    json.dumps({
                        "open_txns": k, "holdback": holdback,
                        "provider": tag, **m,
                    }),
                    flush=True,
                )
        return
    # warm both providers once at tiny K so JIT/provider init is out
    warm = build_fixture(1000)
    for prov in _PROVIDERS.values():
        run_once(spark, warm, prov)
    for k in ks:
        src = build_fixture(k)
        for tag, prov in providers.items():
            m = run_once(spark, src, prov)
            print(json.dumps({"keys": k, "provider": tag, **m}), flush=True)


if __name__ == "__main__":
    main()
