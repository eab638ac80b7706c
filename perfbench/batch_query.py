"""batch_query: history analytics from one closed-loop client.

Log queries over a seeded generated log (``LOG_TXNS`` transactions): a
full ``format("mysql_binlog")`` scan, the same scan with db/tbl filters
pushed down, a ``columns=`` narrowed group-by, the binaryFile route
(``read_binlog_envelope``), ``events_per_transaction`` over the
DataSource, and an archive write back through
``df.write.format("mysql_binlog")``; each is checked against the
generator's model.  The reference statement runs through
``CDCStatement.execute_query``'s forward-only cursor, which reads the
events table of the sf0.1 fixture (``data/sf0.1``); its rows are checked
against the DuckDB oracle of the change stream.

One untimed pass runs every query to completion and checks it (it also
warms the JVM); then timed passes repeat until the run's seconds are
spent.  A query's wall is its build (the DataFrame / cursor is
constructed) plus its execution.  In the traced run passes alternate
between paused and live hooks; the ratio of their medians is the
tracing overhead.
"""

from __future__ import annotations

import gc
import shutil
import statistics
import time
from collections import Counter

from perfbench import gen
from perfbench.harness import HERE, Generator, Result, start_spark

LOG_TXNS = 2_000
KEYS = 20_000
MIN_PASSES = 2
SF_DIR = str(HERE / "data" / "sf0.1")
# The engine tags an update's after-image 'update' (its before-image
# 'update-before'); the reference wrote 'update-after'.
CURSOR_SQL = """select * from "foo"."auto" where _delta_type = 'update'"""
CURSOR_ORACLE = """SELECT count(*), sum("offset"), sum(id) FROM rows_dt
WHERE db = 'foo' AND tbl = 'auto' AND _delta_type = 'update'"""
READS = ("log_scan", "log_pushdown", "log_narrow", "log_binaryfile", "log_txn", "log_cursor")

# Layers the traced run must measure (run.py fails the run otherwise).
QUERY_LAYERS = ("cursor.first_row_ms", "binlog_datasource.pushdown_rows_ratio",
                *(f"queries.{q}.{m}" for q in (*READS, "log_archive")
                  for m in ("build_ms", "exec_ms", "cpu_ms", "shuffle_bytes")))
LAYERS = ("setup.spark_s", "setup.inputs_s", "trace.overhead_ratio", *QUERY_LAYERS)


def run(seed: int, seconds: float, tracer, rundir) -> Result:
    res = Result()
    t = time.monotonic()
    log_dir = rundir.sub("binlog")
    g = Generator(seed, log_dir, KEYS, LOG_TXNS, [])
    try:
        spark = start_spark("perfbench-batch-query")
        res.setup_parts["spark_s"] = time.monotonic() - t
        info = g.ready()
        res.setup_parts["inputs_s"] = info["encode_s"]
    finally:
        g.close()
    model = gen.make_model(seed, LOG_TXNS, KEYS)
    gc.freeze()
    res.first_timed = time.monotonic()
    measure(spark, log_dir, model, seconds, tracer, rundir, res)
    return res


def measure(spark, log_dir: str, model: gen.Model, seconds: float, tracer, rundir,
            res: Result) -> None:
    """Check every log query over ``log_dir`` once, untimed, then time
    passes until ``seconds`` are spent; fills ``res``."""
    queries = _log_queries(spark, log_dir, rundir)
    expect = _model_checks(model)
    expect["log_cursor"] = _cursor_oracle()

    # untimed pass: run everything once and check it
    sc = spark.sparkContext
    check_s = {}
    for name, build, _ in queries:
        t0 = time.monotonic()
        sc.setJobGroup(f"check:{name}", f"check:{name}")
        res.attempted += 1
        got = CHECKS[name](build(), spark, rundir)
        if got != expect[name]:
            res.fail(1, f"{name}: {got!r} != expected {expect[name]!r}")
        check_s[name] = time.monotonic() - t0

    # timed passes
    walls: dict[str, list[float]] = {n: [] for n, _, _ in queries}
    build_ms: dict[str, list[float]] = {n: [] for n in walls}
    first_row: list[float] = []
    traced_pass: list[bool] = []
    t_end = time.monotonic() + seconds
    passes = 0
    while passes < MIN_PASSES or time.monotonic() < t_end:
        traced = tracer is not None and passes % 2 == 1
        if tracer is not None:
            tracer.resume() if traced else tracer.pause()
        for name, build, execute in queries:
            if traced:
                sc.setJobGroup(name, name)
                tracer.trace_id = f"{name}#{passes}"
            else:
                sc.setJobGroup(f"pass:{name}", f"pass:{name}")
            t0 = time.monotonic()
            df = _span(tracer if traced else None, f"queries.{name}.build", build)
            t1 = time.monotonic()
            out = _span(tracer if traced else None, f"queries.{name}.exec",
                        lambda: execute(df, rundir))
            t2 = time.monotonic()
            if traced:
                build_ms[name].append((t1 - t0) * 1e3)
                if name == "log_cursor":
                    first_row.append((out - t0) * 1e3)
            else:
                walls[name].append(t2 - t0)
        traced_pass.append(traced)
        passes += 1

    timed = range(len(walls["log_scan"]))
    log_query_s = [sum(walls[n][p] for n in READS) for p in timed]
    pass_s = statistics.median(sum(w[p] for w in walls.values()) for p in timed)
    archive_rows_s = expect["log_scan_records"] / statistics.median(walls["log_archive"])
    # log records per second of one whole pass: every query's wall counts
    pass_rows_s = expect["log_scan_records"] / pass_s
    res.metrics.setdefault("throughput_rows_s", (pass_rows_s, "rows/s"))
    res.report.update({
        "pass_rows_s": (pass_rows_s, "rows/s"),
        "pass_s": (pass_s, "s"),
        "log_query_s": (statistics.median(log_query_s), "s"),
        "archive_rows_s": (archive_rows_s, "rows/s"),
        "passes": (passes, "count"),
        "check_s": (sum(check_s.values()), "s"),
        **{f"check.{n}_s": (v, "s") for n, v in check_s.items()},
        **{f"wall.{n}_s": (statistics.median(w), "s") for n, w in walls.items()},
    })
    if tracer is not None:
        res.layers.update(_layers(spark, tracer, build_ms, first_row, passes // 2))
        traced_s = [sum(d * 1e-3 for d in _pass_totals(tracer, p)) for p in range(passes)
                    if traced_pass[p]]
        res.layers.setdefault("trace.overhead_ratio",
                              statistics.median(traced_s) / statistics.median(log_query_s) - 1.0)


def _pass_totals(tracer, p: int) -> list[float]:
    """Build plus exec span milliseconds of the read queries in pass p."""
    ids = {f"{n}#{p}" for n in READS}
    return [(s[2] - s[1]) * 1e3 for s in tracer.spans
            if s[4] in ids and s[2] is not None and s[3] == -1]


def _span(tracer, name: str, fn):
    if tracer is None:
        return fn()
    with tracer.span(name):
        return fn()


def _noop(df, rundir=None) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cursor_oracle() -> tuple:
    import duckdb

    from mysql_cdc_spark.sources.events_cdc import with_changes

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'")
        n, offsets, ids = con.execute(with_changes(CURSOR_ORACLE)).fetchone()
    finally:
        con.close()
    return int(n), int(offsets), int(ids)


# -- log queries -------------------------------------------------------------

def _log_queries(spark, log_dir: str, rundir) -> list[tuple]:
    from pyspark.sql import functions as F

    from mysql_cdc_spark.api import connect
    from mysql_cdc_spark.operators.transactions import events_per_transaction
    from mysql_cdc_spark.sources.binlog_source import read_binlog_envelope

    def scan(**opts):
        r = spark.read.format("mysql_binlog").option("catalog", gen.CATALOG_JSON)
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load(log_dir)

    def txn():
        # offsets restart per file: order by (file number, offset)
        env = scan().select(
            (F.substring("log_file", -6, 6).cast("bigint") * F.lit(1 << 32) + F.col("offset"))
            .alias("offset"), "xid", "op")
        return events_per_transaction(env)

    conn = connect(f"jdbc:mysql-cdc:{SF_DIR}", spark)

    def cursor():
        if conn._statement is not None:
            conn._statement.close()
        return conn.create_statement().execute_query(CURSOR_SQL)

    def fetch(cur, rundir=None) -> float:
        first = None
        while cur.next():
            if first is None:
                first = time.monotonic()
        return first if first is not None else time.monotonic()

    archives = iter(range(1 << 30))

    def archive(df, rundir) -> None:
        out = rundir.sub(f"archive{next(archives)}")
        shutil.rmtree(out)
        df.write.format("mysql_binlog").mode("append").save(out)

    def collect(df, rundir=None) -> None:
        df.collect()

    return [
        ("log_scan", scan, _noop),
        ("log_pushdown", lambda: scan().filter("db = 'foo' AND tbl = 'auto'"), _noop),
        ("log_narrow", lambda: scan(columns="log_file,offset,op").groupBy("op").count(), collect),
        ("log_binaryfile", lambda: read_binlog_envelope(spark, log_dir, catalog=gen.CATALOG), _noop),
        ("log_txn", txn, _noop),
        ("log_cursor", cursor, fetch),
        ("log_archive", scan, archive),
    ]


def _by_tbl_op(df) -> dict:
    from pyspark.sql import functions as F

    ident = F.coalesce(F.col("after")["id"], F.col("before")["id"]).cast("long")
    rows = df.groupBy("tbl", "op").agg(F.count("*").alias("n"), F.sum(ident).alias("ids")).collect()
    return {(r.tbl, r.op): (r.n, r.ids) for r in rows}


def _check_archive(df, spark, rundir) -> dict:
    out = rundir.sub("archive_check")
    shutil.rmtree(out)
    df.write.format("mysql_binlog").mode("append").save(out)
    back = spark.read.format("mysql_binlog").option("catalog", gen.CATALOG_JSON).load(out)
    got = _by_tbl_op(back.filter("op LIKE '%_rows'"))
    shutil.rmtree(out, ignore_errors=True)
    return got


def _check_cursor(cur, spark, rundir) -> tuple:
    n = offsets = ids = 0
    while cur.next():
        n += 1
        offsets += cur.get_long("offset")
        ids += cur.get_long("id")
    return n, offsets, ids


CHECKS = {
    "log_scan": lambda df, spark, rundir: _by_tbl_op(df),
    "log_pushdown": lambda df, spark, rundir: _by_tbl_op(df),
    "log_narrow": lambda df, spark, rundir: {r.op: r["count"] for r in df.collect()},
    "log_binaryfile": lambda df, spark, rundir: _by_tbl_op(df),
    "log_txn": lambda df, spark, rundir: sorted(Counter(r.n_events for r in df.collect()).items()),
    "log_cursor": _check_cursor,
    "log_archive": _check_archive,
}


def _model_checks(model: gen.Model) -> dict:
    """What each log query must return on the model's log."""
    rows: dict[tuple, list[int]] = {}
    for txn in model.rows:
        for t, op, before, after in txn:
            tbl = gen.TABLES[t][1]
            ident = int((after or before)[0])
            c = rows.setdefault((tbl, op), [0, 0])
            c[0] += 1
            c[1] += ident
    n = len(model)
    per_tbl = Counter()
    for (tbl, _), (cnt, _) in rows.items():
        per_tbl[tbl] += cnt
    full = {k: tuple(v) for k, v in rows.items()}
    full.update({(tbl, "table_map"): (cnt, None) for tbl, cnt in per_tbl.items()})
    full[(None, "query")] = (n, None)
    full[(None, "xid")] = (n, None)
    ops = Counter()
    for (_, op), (cnt, _) in full.items():
        ops[op] += cnt
    return {
        "log_scan": full,
        "log_pushdown": {k: v for k, v in full.items() if k[0] == "auto"},
        "log_narrow": dict(ops),
        "log_binaryfile": full,
        "log_txn": [(2 + 2 * gen.TXN_ROWS, n)],
        "log_archive": {k: v for k, v in full.items() if k[1].endswith("_rows")},
        "log_scan_records": sum(ops.values()),
    }


# -- traced-run layers ---------------------------------------------------------

def _layers(spark, tracer, build_ms, first_row, traced_passes) -> dict[str, float]:
    from perfbench.sparkstats import metric_number, sql_node_metrics, stage_totals

    stages = stage_totals(spark)
    out: dict[str, float | None] = {}
    for name in build_ms:
        st = stages.get(name)
        execs = [d * 1e3 for d in tracer.durations(f"queries.{name}.exec")]
        out[f"queries.{name}.build_ms"] = statistics.median(build_ms[name])
        out[f"queries.{name}.exec_ms"] = statistics.median(execs)
        out[f"queries.{name}.cpu_ms"] = st["executorCpuTime"] / traced_passes if st else None
        out[f"queries.{name}.shuffle_bytes"] = (
            st["shuffleWriteBytes"] / traced_passes if st else None)
    out["cursor.first_row_ms"] = statistics.median(first_row)

    def scan_rows(desc: str) -> float:
        vals = [metric_number(m["value"]) for m in sql_node_metrics(spark, desc)
                if "Scan" in m["node"] and m["metric"] == "number of output rows"]
        return max(vals) if vals else 0.0

    full = scan_rows("log_scan")
    out["binlog_datasource.pushdown_rows_ratio"] = scan_rows("log_pushdown") / full if full else None
    return out
