"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end through the noop sink (full
materialization, no driver collect bottleneck) — the same way you'd
measure a production job.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


# Headline queries whose construction is pure Catalyst: no
# cache()/persist, no localCheckpoint, no driver collect, no stream or
# fixture generation (llm_dedup_minhash caches, llm_knn collects its
# query set).  Each is built once in the warm pass and every timed pass
# re-executes that DataFrame -- a plan, never a result: each execution
# recomputes from the parquet inputs.  The rest are rebuilt per pass.
BUILD_ONCE: frozenset[str] = frozenset(
    {
        "cdc_envelope",
        "cdc_select_all",
        "cdc_update_sum",
        "cdc_latest_state",
        "cdc_txn_events",
        "llm_text_stats",
        "ts_asof_join",
        "ts_range_join",
        "sk_hll_user_minutes",
    }
)


def main() -> None:
    load_start = round(os.getloadavg()[0], 2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from mysql_cdc_spark.queries import HEADLINE, QUERIES
    from mysql_cdc_spark.session import get_spark

    spark = get_spark("mysql-cdc-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM (JIT, codegen cache, parquet footers) with one full
    # untimed pass, then measure: steady-state wall time is the number
    # that extrapolates to a long-running cluster job — one-shot
    # timings mostly measure first-touch JIT, which round 2's
    # "board-wide drift" turned out to be.  Two timed passes, best per
    # query, so a noisy-neighbor spike doesn't land in the record.
    built = {}
    for name in HEADLINE:
        df = QUERIES[name](spark, sf_dir)
        if name in BUILD_ONCE:
            built[name] = df
        df.write.format("noop").mode("overwrite").save()

    def timed(name: str) -> float:
        t0 = time.perf_counter()
        df = built[name] if name in built else QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # Both timed passes are kept so the artifact carries its own
    # noise estimate (r17 VERDICT #3: the driver headline swung +5.4%
    # while the same-HEAD quiet run read −6.6% — ambient tenancy).
    # The reported number stays min-of-2; `variance` records the
    # per-query pass spread and the host load at both ends, so a
    # reader can tell drift from regression without a re-run.  Walls
    # are reported, not gated: the plan shapes behind them are pinned
    # host-independently by the plan fingerprints in
    # tests/test_plans.py.
    passes: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(2):
        for name in HEADLINE:
            passes[name].append(timed(name))
    # Load-gated retry (r19 VERDICT "what's wrong" #1 / next-round #2):
    # the r19 driver run recorded 10 spurious "regressions" because a
    # co-tenant burst (load_1m 5 -> 20 mid-run) landed on single
    # queries' reps.  A query whose two reps spread more than 2x was
    # hit by a burst on at least one rep — ONE more timed pass gives
    # the min a burst-free sample without changing the reported
    # statistic (still the min wall).  Bounded at one retry per query
    # so a genuinely loaded host can't loop the bench.
    retried: list[str] = []
    for name in HEADLINE:
        v = passes[name]
        if min(v) > 0 and (max(v) - min(v)) / min(v) > 2.0:
            v.append(timed(name))
            retried.append(name)
    timings = {name: round(min(v), 4) for name, v in passes.items()}
    per_query_spread = {
        name: round((max(v) - min(v)) / min(v), 3)
        for name, v in passes.items()
        if min(v) > 0
    }
    rel_spread = sorted(per_query_spread.values())
    variance = {
        "method": (
            "1 warm pass + min-of-2 timed passes per query"
            " (+1 retry when rep spread > 2x)"
        ),
        "per_query_rel_spread_median": round(
            rel_spread[len(rel_spread) // 2], 3
        ) if rel_spread else None,
        "per_query_rel_spread_max": round(rel_spread[-1], 3) if rel_spread else None,
        # additions (r20): the full per-query spread map and which
        # queries earned a retry pass — so a reader can attribute a
        # high wall to a recorded burst without a re-run.
        "per_query_rel_spread": per_query_spread,
        "retried": retried,
        "load_1m_start": load_start,
    }

    # End-to-end CDC latency (BASELINE.md metric 3): the reference's
    # binlog2−binlog3−binlog4 decomposition — full turn minus pure
    # byte-write minus pure incremental-decode = the streaming
    # delivery layer's per-turn cost (append → sink-visible).
    from mysql_cdc_spark.streaming.latency import measure_latency

    latency = measure_latency(spark, turns=20)

    # Stateful state-store A/B (r10 VERDICT #8): the same stateful
    # streaming drain (latest-state replay as a declarative streaming
    # aggregate, state size ∝ key cardinality) under the default
    # on-heap provider vs the bundled RocksDB provider (the 100-TB
    # state-size story: RocksDB keeps state off-heap/on-disk per
    # executor).  The drain
    # includes fixture scan + stream start overhead on both sides, so
    # the DELTA is the provider cost.
    _key = "spark.sql.streaming.stateStore.providerClass"
    _rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    stateful_ab: dict[str, float] = {}
    for tag, provider in (("default", None), ("rocksdb", _rocks)):
        if provider is None:
            spark.conf.unset(_key)
        else:
            spark.conf.set(_key, provider)
        t0 = time.perf_counter()
        QUERIES["cdc_stream_latest_state_agg"](spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()
        stateful_ab[tag] = round(time.perf_counter() - t0, 4)
    spark.conf.unset(_key)

    # Stateful state at SCALE (r11 VERDICT #4): the same declarative
    # latest-state drain at 50k keys × 4 full-rewrite micro-batches —
    # an order of magnitude past the fixture's key cardinality — per
    # provider, with state rows / reported state memory / checkpoint
    # bytes alongside the wall (tools/state_scale.py runs the full
    # 10k→500k ramp; this row keeps one elevated point tracked
    # round-over-round).
    from tools.state_scale import (
        CHANGELOG_CONF, _PROVIDERS, build_fixture, run_once,
    )

    _src = build_fixture(50_000)
    state_scale = {
        tag: run_once(spark, _src, prov) for tag, prov in _PROVIDERS.items()
    }
    # r20 (guide §5, r19 VERDICT #4): RocksDB + changelog checkpointing
    # — commits upload the batch changelog instead of snapshotting the
    # store (snapshots move to async maintenance).  Tracked as a THIRD
    # variant (additions-only key) so the commit-share reduction is
    # visible round-over-round next to the providers it tunes.
    state_scale["rocksdb_changelog"] = run_once(
        spark, _src, _PROVIDERS["rocksdb"],
        extra_confs={CHANGELOG_CONF: "true"},
    )

    # Decode throughput (BASELINE.md metric 1): envelope events/sec
    # through the full scan→explode→project pipeline (4 events per
    # source row), from the measured envelope wall.
    n_envelope = (
        spark.read.parquet(f"{sf_dir}/events.parquet").count() * 4
    )
    # Scan parallelism (r19 VERDICT "what's wrong" #4): the fixtures
    # are single-row-group parquet files, so every first stage is one
    # task and walls are scheduling-dominated at driver SF.  Reporting
    # the split count makes that legible inside the artifact instead
    # of leaving "why doesn't 32 cores help" to archaeology.
    scan_partitions = {
        t: spark.read.parquet(f"{sf_dir}/{t}.parquet").rdd.getNumPartitions()
        for t in ("events", "documents", "embeddings")
    }
    decode_rows_per_sec = (
        round(n_envelope / timings["cdc_envelope"]) if timings.get("cdc_envelope") else None
    )

    # Pure byte-codec throughput (r10): decode_binlog on a fixed
    # 30k-row byte fixture, best-of-3, no Spark involved.  The
    # Spark-derived decode_rows_per_sec above inherits cdc_envelope's
    # ambient cross-round swing (the r9 "all-time low" was exactly
    # that — see PLANS.md round-10 decode A/B); this number isolates
    # the actual codec hot loop.
    from mysql_cdc_spark.sources.binlog_codec import (
        TYPE_LONG, TYPE_NEWDECIMAL, TYPE_VARCHAR, UPDATE_ROWS_EVENT,
        WRITE_ROWS_EVENT, BinlogWriter, TableDef, decode_binlog,
    )

    t = TableDef(
        "foo", "auto",
        [(TYPE_LONG, None), (TYPE_NEWDECIMAL, (12, 4)), (TYPE_VARCHAR, 50)],
    )
    cat = {("foo", "auto"): ["id", "val", "word"]}
    w = BinlogWriter()
    n_codec_rows = 0
    for batch in range(200):
        w.write_table_map(t, ts=batch)
        rows = [[batch * 100 + i, f"{i}.5000", f"word{i}"] for i in range(100)]
        w.write_rows(WRITE_ROWS_EVENT, t, rows, ts=batch)
        w.write_rows(
            UPDATE_ROWS_EVENT, t,
            [(r, [r[0], f"{i}.7500", f"w{i}"]) for i, r in enumerate(rows[:50])],
            ts=batch,
        )
        w.write_xid(batch, ts=batch)
        n_codec_rows += 150
    fixture = w.getvalue()
    codec_best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        decode_binlog(fixture, cat)
        codec_best = min(codec_best, time.perf_counter() - t0)
    codec_rows_per_sec = round(n_codec_rows / codec_best)

    # Filter-before-decode pushdown (r15 VERDICT #1): envelope decode
    # of the multi-table byte log with foreign-table row images
    # skipped INSIDE the codec, vs decoded-then-filtered.  Full sweep
    # incl. x10 and the headers-only bound: tools/pushdown_bench.py.
    from mysql_cdc_spark.queries._shared import _FIXTURE_VERSION, _STREAM_TMP
    from mysql_cdc_spark.sources import binlog_source as bs

    bl_dir = Path(_STREAM_TMP) / f"binlog_{Path(sf_dir).name}_v{_FIXTURE_VERSION}"
    if not any(bl_dir.glob("binlog.*")):
        bs.generate_binlog_from_events(sf_dir, str(bl_dir))

    def _env_run(only_tables=None, post_filter=False) -> float:
        env = bs.read_binlog_envelope(
            spark, str(bl_dir), only_tables=only_tables
        )
        if post_filter:
            env = env.filter(
                "op NOT IN ('write_rows','update_rows','delete_rows') "
                "OR (db = 'foo' AND tbl = 'auto')"
            )
        t0 = time.perf_counter()
        env.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # 1 warm + best-of-2 per side, reps INTERLEAVED (A,B,A,B,...) so a
    # co-tenant burst hits both sides of the ratio instead of skewing
    # one — a sequential best-of-2 recorded speedup=0.49 under a burst
    # that landed entirely on the pushdown side (true ratio ~1.2).
    pd_filter = pd_push = float("inf")
    for i in range(3):
        f = _env_run(post_filter=True)
        p = _env_run(only_tables={("foo", "auto")})
        if i:
            pd_filter = round(min(pd_filter, f), 4)
            pd_push = round(min(pd_push, p), 4)
    pushdown_decode = {
        "then_filter_sec": pd_filter,
        "pushdown_sec": pd_push,
        "speedup": round(pd_filter / pd_push, 2),
    }

    # The mysql_binlog Python DataSource (r16): the same byte log
    # through format("mysql_binlog") — arrow RecordBatch ingest, one
    # input partition per file.  Tracked next to the mapInArrow
    # envelope wall so a protocol-layer regression is visible in the
    # bench line (full sweep incl. Catalyst pushdown and the streaming
    # drain: tools/ds_bench.py).
    from mysql_cdc_spark.sources.binlog_datasource import (
        register_binlog_source,
    )

    register_binlog_source(spark)
    ds_best = float("inf")
    for i in range(3):  # 1 warm + best-of-2
        df = spark.read.format("mysql_binlog").load(str(bl_dir))
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        if i:
            ds_best = min(ds_best, time.perf_counter() - t0)
    datasource_scan_sec = round(ds_best, 4)

    # r17 scan pushdowns, tracked per round: the columns-pruned narrow
    # aggregate (projection pruning below decode) and the last-10%-by-
    # time range scan (ts file pruning + frame skip).  Regressions in
    # either show up here without waiting for the x100 sweep.
    from pyspark.sql import functions as SF

    def best_of(fn, reps=3):
        best = float("inf")
        for i in range(reps):
            t0 = time.perf_counter()
            fn()
            if i:
                best = min(best, time.perf_counter() - t0)
        return round(best, 4)

    ds_narrow_sec = best_of(
        lambda: spark.read.format("mysql_binlog")
        .option("columns", "log_file,offset,op")
        .load(str(bl_dir))
        .groupBy("op").count()
        .write.format("noop").mode("overwrite").save()
    )
    tmax = (
        spark.read.format("mysql_binlog")
        .option("columns", "ts").load(str(bl_dir))
        .agg(SF.max("ts")).collect()[0][0]
    )
    ds_ts_range_sec = best_of(
        lambda: spark.read.format("mysql_binlog")
        .load(str(bl_dir))
        .filter(f"ts >= {int(tmax * 0.9)}")
        .write.format("noop").mode("overwrite").save()
    )

    # Transaction ASSEMBLY over a real envelope source (r19 VERDICT
    # "what's wrong" #2 / next-round #6): the headline cdc_txn_events
    # binding was provably rewritten to a scan+project for the derived
    # fixture stream, so the general xid-boundary assembler
    # (operators/transactions.py — chunked prefix scan + per-txn
    # groupBy, the machinery that matters at 100 TB) lost its wall
    # number.  This metric runs it over the mysql_binlog DataSource
    # envelope end-to-end (decode -> with_txn -> per-transaction
    # aggregate), 1 warm + best-of-2 through the noop sink.
    # Additions-only: new key, no existing key changed.
    from mysql_cdc_spark.operators.transactions import events_per_transaction

    txn_assembly_sec = best_of(
        lambda: events_per_transaction(
            spark.read.format("mysql_binlog").load(str(bl_dir))
        ).write.format("noop").mode("overwrite").save()
    )

    # Round 1's self-calibrated baseline (6.27s, BENCH_r01) covered
    # exactly these five queries; the headline set has since grown
    # (dedup/KNN/text shapes), so report the like-for-like subtotal
    # alongside the full total to keep round-over-round comparisons
    # apples-to-apples.
    baseline5 = [
        "cdc_envelope", "cdc_select_all", "cdc_update_sum",
        "cdc_latest_state", "cdc_txn_events",
    ]
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "queries": timings,
                "baseline5_total": round(
                    sum(timings[q] for q in baseline5 if q in timings), 4
                ),
                "latency": latency,
                "stateful_state_store_sec": stateful_ab,
                "state_scale_50k": state_scale,
                "decode_rows_per_sec": decode_rows_per_sec,
                "codec_rows_per_sec": codec_rows_per_sec,
                "pushdown_decode": pushdown_decode,
                "datasource_scan_sec": datasource_scan_sec,
                "datasource_narrow_sec": ds_narrow_sec,
                "datasource_ts_range_sec": ds_ts_range_sec,
                "scan_partitions": scan_partitions,
                "txn_assembly_sec": txn_assembly_sec,
                "variance": {**variance, "load_1m_end": round(os.getloadavg()[0], 2)},
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
