"""stream query registrations (split from queries.py; registration order is governed by _registry.REGISTRATION_ORDER)."""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from mysql_cdc_spark.operators import aggregates, query, relational, transactions
from mysql_cdc_spark.sources.events_cdc import changes, rows_delta_type, with_changes
from mysql_cdc_spark.operators import sketches, timeseries
from mysql_cdc_spark.queries._registry import register  # noqa: E402
from mysql_cdc_spark.queries._shared import (  # noqa: E402
    _FIXTURE_VERSION,
    _ROW_COLS,
    _STREAM_TMP,
    _drain,
    _head_offset,
    _rows_after,
    _rows_dt,
)



def _stream_env(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The envelope stream as a streaming DataFrame over a materialized
    event-log directory (built once per sf_dir)."""
    from mysql_cdc_spark.streaming import runtime as rt

    log_dir = rt.ensure_event_log(spark, sf_dir, _STREAM_TMP, _FIXTURE_VERSION)
    return rt.open_stream(spark, log_dir)


@register(
    "cdc_stream_select_all",
    with_changes(
        'SELECT "offset", ts, db, tbl, id, value, _delta_type '
        "FROM rows_dt WHERE db = 'foo' AND tbl = 'auto'"
    ),
)
def cdc_stream_select_all(spark, sf_dir):
    """`select * from "foo"."auto"` executed on the STREAMING path
    (file-stream source → same R3/R4 operators → memory sink); the
    oracle is the batch semantics — equivalence proven by hash."""
    return _drain(
        query.select_changes(_stream_env(spark, sf_dir), "foo", "auto", columns=_ROW_COLS)
    )


@register(
    "cdc_stream_windowed",
    with_changes(
        "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, db, "
        "COUNT(*) AS n_events, "
        "CAST(SUM(CASE WHEN op IN ('write_rows','update_rows','delete_rows') THEN 1 ELSE 0 END) AS BIGINT) AS n_row_events "
        "FROM changes GROUP BY 1, 2"
    ),
)
def cdc_stream_windowed(spark, sf_dir):
    """Event-time tumbling-window aggregation on the STREAM (Spark
    `window()` — 1-day buckets align with date_trunc): per-day per-db
    event counts, complete output mode, batch-equivalent by oracle.
    (SURVEY §2.6: windows available via window(ts, ...) when needed.)"""
    env = _stream_env(spark, sf_dir)
    agg = (
        env.groupBy(F.window("ts", "1 day").alias("w"), "db")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(
                F.when(F.col("op").isin("write_rows", "update_rows", "delete_rows"), 1).otherwise(0)
            ).cast("bigint").alias("n_row_events"),
        )
        .select(F.col("w.start").alias("window_start"), "db", "n_events", "n_row_events")
    )
    return _drain(agg, output_mode="complete")


@register(
    "cdc_stream_update_sum",
    with_changes(
        "SELECT db, tbl, "
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value, "
        "COUNT(*) AS n_updates "
        "FROM rows_dt WHERE _delta_type = 'update' GROUP BY db, tbl"
    ),
)
def cdc_stream_update_sum(spark, sf_dir):
    """Streaming aggregation (complete output mode) of the A1 update
    totals — the reference's running consumer aggregate as a stateful
    streaming query, batch-equivalent by oracle."""
    return _drain(
        aggregates.update_sum(rows_delta_type(_stream_env(spark, sf_dir))),
        output_mode="complete",
    )


@register(
    "cdc_stream_join",
    with_changes(
        "SELECT i.id, i.ts AS ins_ts, i.value AS ins_value, "
        "u.ts AS upd_ts, u.value AS upd_value "
        "FROM rows_dt i JOIN rows_dt u ON u.id = i.id "
        "AND i._delta_type = 'insert' AND u._delta_type = 'update' "
        "AND i.db = 'foo' AND i.tbl = 'auto' AND u.db = 'foo' AND u.tbl = 'auto' "
        "AND u.ts >= i.ts AND u.ts <= i.ts + INTERVAL 7 DAY"
    ),
)
def cdc_stream_join(spark, sf_dir):
    """STREAM-STREAM inner join (the last big Structured Streaming
    primitive): each insert joined to the updates that hit the same id
    within 7 days, both sides watermarked so the join state is GC-able
    (Spark buffers each side keyed by id + event-time range; the
    watermark bounds how long an insert waits for updates).  Append
    mode, batch-equivalent by oracle.

    State partitioning is pinned to the DATA scale (r18 VERDICT #6):
    the r15-r18 sweep walls (9.6-21.2 s, bimodal under co-load) were
    measured to be per-partition state-store COMMIT overhead, not
    data — the drain is 2 batches (data + watermark finalize) and a
    stream-stream join keeps 4 HDFS-backed stores per partition, so
    32 partitions pay 2x32x4 store commits per run (instrumented:
    46-76 s summed commitTimeMs at 32 partitions vs 2.2-2.9 s at 8,
    same 800k rows; wall 8-14 s vs 2.7-3.0 s, co-load swinging the
    latency-bound commit fan-out).  A production deployment sizes
    this by join-state volume; 8 partitions is that sizing for the
    sf-scale fixture.  The conf is restored after the synchronous
    drain."""
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    rows = rows_delta_type(_stream_env(spark, sf_dir))
    base = rows.filter((F.col("db") == "foo") & (F.col("tbl") == "auto"))
    ins = (
        base.filter(F.col("_delta_type") == "insert")
        .select("id", F.col("ts").alias("ins_ts"), F.col("value").alias("ins_value"))
        .withWatermark("ins_ts", "1 hour")
    )
    upd = (
        base.filter(F.col("_delta_type") == "update")
        .select(
            F.col("id").alias("uid"),
            F.col("ts").alias("upd_ts"),
            F.col("value").alias("upd_value"),
        )
        .withWatermark("upd_ts", "1 hour")
    )
    joined = ins.join(
        upd,
        (F.col("id") == F.col("uid"))
        & (F.col("upd_ts") >= F.col("ins_ts"))
        & (F.col("upd_ts") <= F.col("ins_ts") + F.expr("INTERVAL 7 DAY")),
    ).select("id", "ins_ts", "ins_value", "upd_ts", "upd_value")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        return _drain(joined, output_mode="append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)


@register(
    "cdc_stream_latest_state_agg",
    with_changes(
        "SELECT db, tbl, id, value, \"offset\" AS as_of_offset FROM ("
        "  SELECT db, tbl, id, value, \"offset\", _delta_type, "
        "         ROW_NUMBER() OVER (PARTITION BY db, tbl, id ORDER BY \"offset\" DESC) AS rn"
        "  FROM rows_dt WHERE _delta_type <> 'update-before'"
        ") WHERE rn = 1 AND _delta_type <> 'delete'"
    ),
)
def cdc_stream_latest_state_agg(spark, sf_dir):
    """Streaming latest-state replay as a declarative aggregate: a
    streaming groupBy max_by(struct(...), offset) in update mode,
    forced through FOUR micro-batches (maxFilesPerTrigger=1) so state
    transfer across batches is exercised — all JVM-side
    HashAggregate-with-state, zero Python in the hot path.  Oracle:
    the batch latest-state semantics.

    This is the one streaming latest-state path (durable tables use
    `StateTable`'s foreachBatch MERGE).  The r12 state-scale ramp
    (PLANS.md) measured the former applyInPandasWithState form's
    per-group Python cost at ~0.9 ms/key/batch — LINEAR in key
    cardinality (181 s at 500k keys) while this form stays flat
    (5.9 s) — so custom Python state is reserved for semantics an
    aggregate cannot express (streaming transaction assembly)."""
    from mysql_cdc_spark.streaming import runtime as rt

    log_dir = rt.ensure_event_log(spark, sf_dir, _STREAM_TMP, _FIXTURE_VERSION)
    stream = rt.open_stream(spark, log_dir, max_files_per_trigger=1)
    rows = rows_delta_type(stream).filter(F.col("_delta_type") != "update-before")
    agg = rows.groupBy("db", "tbl", "id").agg(
        F.expr("max_by(struct(value, _delta_type), offset)").alias("last"),
        F.max("offset").alias("as_of_offset"),
    )
    updates = _drain(agg, output_mode="update")
    # update-mode sink holds one row per (key, batch that advanced
    # it); keep each key's highest-offset image
    return (
        updates.groupBy("db", "tbl", "id")
        .agg(
            F.expr("max_by(last, as_of_offset)").alias("last"),
            F.max("as_of_offset").alias("as_of_offset"),
        )
        .filter(F.col("last._delta_type") != "delete")
        .select("db", "tbl", "id", F.col("last.value").alias("value"), "as_of_offset")
    )


@register(
    "cdc_stream_sessions",
    with_changes(
        ", marked AS ("
        '  SELECT db, ts, "offset", '
        "         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000 "
        "         THEN 1 ELSE 0 END AS new_session FROM changes "
        '  WINDOW w AS (PARTITION BY db ORDER BY ts, "offset")'
        "), numbered AS ("
        # ORDER BY must be TOTAL (ts has 4-way ties per statement): a
        # ts-only ROWS frame assigns tied rows arbitrary session
        # numbers run-to-run.  With the offset tiebreak the boundary
        # row (min offset of its tie group) leads the group, so the
        # whole group lands in one session — matching session_window.
        '  SELECT db, ts, SUM(new_session) OVER (PARTITION BY db ORDER BY ts, "offset" '
        "         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s FROM marked"
        ") SELECT db, MIN(ts) AS session_start, "
        "MAX(ts) + INTERVAL 30 MINUTE AS session_end, "
        "CAST(COUNT(*) AS BIGINT) AS n_events "
        "FROM numbered GROUP BY db, s"
    ),
)
def cdc_stream_sessions(spark, sf_dir):
    """NATIVE streaming session windows (`F.session_window`, 30-minute
    gap, complete mode) over the change stream, per db.  Oracle:
    gap-based sessionization in SQL — note Spark's half-open window
    semantics make a gap of exactly 30:00 start a NEW session (>=, not
    >), and session_end = last event + gap."""
    stream = _stream_env(spark, sf_dir)
    agg = (
        stream.groupBy(F.session_window("ts", "30 minutes").alias("w"), "db")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            "db",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return _drain(agg, output_mode="complete")


@register(
    "cdc_stream_dedup",
    with_changes(
        'SELECT "offset", log_file, ts, server_id, xid, db, tbl, op, '
        'before_id, before_value, after_id, after_value, "sql" AS sql FROM changes'
    ),
)
def cdc_stream_dedup(spark, sf_dir):
    """Streaming deduplication: the source log REPLAYED TWICE (every
    event delivered at least twice — the at-least-once failure mode a
    CDC consumer must survive), streamed through `dropDuplicates` on
    the offset key; the result must hash-match the single-copy
    envelope.  State is one entry per offset; an unbounded deployment
    bounds it with `withWatermark` + dropDuplicatesWithinWatermark
    (late re-deliveries beyond the watermark are the checkpoint's job,
    not the dedup state's)."""
    import pathlib

    from mysql_cdc_spark.streaming import runtime as rt

    dup_dir = pathlib.Path(_STREAM_TMP) / f"dup_{pathlib.Path(sf_dir).name}_v{_FIXTURE_VERSION}"
    if not (dup_dir / "_DUP_DONE").exists():
        env = changes(spark, sf_dir)
        for _ in range(2):  # two full copies of the log
            env.coalesce(4).write.mode("append").parquet(str(dup_dir))
        (dup_dir / "_DUP_DONE").touch()
    stream = rt.open_stream(spark, str(dup_dir)).dropDuplicates(["offset"])
    return _drain(stream).select(
        "offset", "log_file", "ts", "server_id", "xid", "db", "tbl", "op",
        "before_id", "before_value", "after_id", "after_value", "sql",
    )


@register(
    "cdc_stream_join_dim",
    with_changes(
        'SELECT "offset", db, tbl, id, value, c_name, c_mktsegment '
        "FROM rows_dt JOIN customer ON id = c_custkey "
        "WHERE _delta_type = 'insert'"
    ),
)
def cdc_stream_join_dim(spark, sf_dir):
    """STREAM-STATIC join (the third Structured Streaming join mode,
    next to batch cdc_join_dim and stream-stream cdc_stream_join):
    the live change stream enriched against a broadcast batch
    dimension — no stream-side shuffle, no join state, the dimension
    is re-resolvable per micro-batch (slowly-changing dims pick up
    updates between triggers for free)."""
    from mysql_cdc_spark.sources.io import read_table

    rows = rows_delta_type(_stream_env(spark, sf_dir)).filter(
        F.col("_delta_type") == "insert"
    )
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    joined = rows.join(F.broadcast(cust), rows.id == cust.c_custkey).select(
        "offset", "db", "tbl", "id", "value", "c_name", "c_mktsegment"
    )
    return _drain(joined)


def _stream_hll_oracle() -> str:
    from mysql_cdc_spark.sources.events_cdc import CHANGES_CTE

    label = "'id:' || CAST(after_id AS VARCHAR)"
    v = sketches.v52_expr("h")
    regs = (
        f"WITH {CHANGES_CTE}, "
        f"labels AS (SELECT md5({label}) AS h FROM changes "
        "WHERE op IN ('write_rows', 'update_rows', 'delete_rows') AND after_id IS NOT NULL), "
        f"hv AS (SELECT {sketches.bucket_expr('h')} AS bucket, {v} AS v FROM labels), "
        "regs AS (SELECT bucket, MAX(CASE WHEN v = 0 THEN 50 "
        "ELSE LEAST(53 - LENGTH(printf('%b', v)), 50) END) AS m FROM hv GROUP BY bucket)"
    )
    return sketches.hll_estimate_oracle(regs)


@register("cdc_stream_hll", _stream_hll_oracle())
def cdc_stream_hll(spark, sf_dir):
    """STREAMING sketch maintenance: the HLL register table lives as
    streaming aggregation state (groupBy bucket, max rho — at most
    1024 rows of state however long the stream runs), drained complete
    and collapsed to the estimate on demand.  The batch oracle over
    the same label stream must match bit-for-bit: incremental register
    maintenance is exactly as correct as a full recompute."""
    env = _stream_env(spark, sf_dir)
    labels = env.where(
        F.col("op").isin("write_rows", "update_rows", "delete_rows")
        & F.col("after_id").isNotNull()
    ).select(F.expr("md5(concat('id:', cast(after_id as string)))").alias("h"))
    hv = labels.select(
        F.expr(sketches.bucket_expr_spark("h")).cast("bigint").alias("bucket"),
        F.expr(sketches.v52_expr_spark("h")).alias("v"),
    )
    rows = hv.select(
        "bucket", F.expr(sketches.rho_case("v", "bin(v)")).cast("bigint").alias("rho")
    )
    regs_stream = rows.groupBy("bucket").agg(F.max("rho").alias("m"))
    registers = _drain(regs_stream, output_mode="complete")
    return sketches.hll_estimate(registers)


@register(
    "cdc_stream_schema_version",
    with_changes(
        "SELECT db, tbl, \"offset\" AS as_of_offset, n_extra_cols, n_versions FROM ("
        "  SELECT db, tbl, \"offset\", "
        "  CAST(SUM(presence_delta) OVER (PARTITION BY db, tbl ORDER BY \"offset\" "
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_extra_cols, "
        "  CAST(ROW_NUMBER() OVER (PARTITION BY db, tbl ORDER BY \"offset\") AS BIGINT) AS n_versions, "
        "  ROW_NUMBER() OVER (PARTITION BY db, tbl ORDER BY \"offset\" DESC) AS rn_last "
        "  FROM ("
        "    SELECT \"offset\", db, tbl, delta, "
        "    CAST(SUM(delta) OVER w > 0 AS BIGINT) "
        "      - CAST((SUM(delta) OVER w - delta) > 0 AS BIGINT) AS presence_delta "
        "    FROM ("
        "      SELECT \"offset\", db, tbl, "
        "      CASE WHEN regexp_extract(\"sql\", ' (ADD|DROP) COLUMN ', 1) = 'ADD' "
        "           THEN 1 ELSE -1 END AS delta, "
        "      regexp_extract(\"sql\", ' (ADD|DROP) COLUMN (\\w+)', 2) AS col "
        "      FROM changes WHERE op = 'query' AND regexp_matches(\"sql\", '^ALTER TABLE ')"
        "    ) WINDOW w AS (PARTITION BY db, tbl, col ORDER BY \"offset\" "
        "      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        "  )"
        ") WHERE rn_last = 1"
    ),
)
def cdc_stream_schema_version(spark, sf_dir):
    """Live per-table schema versions maintained as custom streaming
    STATE (applyInPandasWithState over the DDL substream, forced
    through multiple micro-batches): net column presence folded
    incrementally, never recomputed from history.  Oracle: the batch
    schema-evolution fold's final row per table."""
    from mysql_cdc_spark.streaming import runtime as rt
    from mysql_cdc_spark.streaming.schema_state import (
        schema_version_stateful,
        table_schema_rollup,
    )

    log_dir = rt.ensure_event_log(spark, sf_dir, _STREAM_TMP, _FIXTURE_VERSION)
    stream = rt.open_stream(spark, log_dir, max_files_per_trigger=1)
    updates = _drain(schema_version_stateful(stream), output_mode="update")
    return table_schema_rollup(updates)


@register(
    "cdc_stream_replication_lag",
    with_changes(
        "SELECT db, tbl, CAST(MAX(\"offset\") AS BIGINT) AS last_offset, "
        "CAST((SELECT MAX(\"offset\") FROM changes) AS BIGINT) AS head_offset, "
        "CAST((SELECT MAX(\"offset\") FROM changes) - MAX(\"offset\") AS BIGINT) AS lag_events, "
        "CAST(COUNT(*) AS BIGINT) AS n_events "
        "FROM changes GROUP BY db, tbl"
    ),
)
def cdc_stream_replication_lag(spark, sf_dir):
    """The lag monitor as a LIVE streaming aggregation: per-table
    (last_offset, n_events) maintained in streaming state
    (complete output mode); the head offset and per-table lag derive
    from the drained state with one tiny batch step — exactly how an
    ops dashboard would consume it.  Oracle: the batch lag monitor."""
    stream = _stream_env(spark, sf_dir)
    per_tbl = _drain(
        stream.groupBy("db", "tbl").agg(
            F.max("offset").cast("bigint").alias("last_offset"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        ),
        output_mode="complete",
    )
    head = per_tbl.agg(F.max("last_offset").cast("bigint").alias("head_offset"))
    return per_tbl.crossJoin(F.broadcast(head)).select(
        "db",
        "tbl",
        "last_offset",
        "head_offset",
        (F.col("head_offset") - F.col("last_offset")).alias("lag_events"),
        "n_events",
    )


@register(
    "cdc_stream_bootstrap",
    with_changes(
        "SELECT db, tbl, id, value, \"offset\" AS as_of_offset FROM ("
        "  SELECT db, tbl, id, value, \"offset\", _delta_type, "
        "         ROW_NUMBER() OVER (PARTITION BY db, tbl, id ORDER BY \"offset\" DESC) AS rn"
        "  FROM rows_dt WHERE _delta_type <> 'update-before'"
        ") WHERE rn = 1 AND _delta_type <> 'delete'"
    ),
)
def cdc_stream_bootstrap(spark, sf_dir):
    """The snapshot-then-stream bootstrap every CDC deployment starts
    with: current state is a BATCH snapshot of history up to the
    switchover offset, plus the tail CDC feed consumed through the
    STREAMING runtime and merged with the bucketed apply_changes
    incremental-maintenance operator.  Oracle: a full-history replay —
    equality proves the switchover loses and duplicates nothing."""
    rows = _rows_after(spark, sf_dir)
    mid = _head_offset(spark, sf_dir) // 2
    snapshot = aggregates.latest_state(rows.filter(F.col("offset") <= mid))
    streamed = _drain(
        rows_delta_type(_stream_env(spark, sf_dir)).filter(F.col("offset") > mid)
    )
    return aggregates.apply_changes(snapshot, streamed)


@register(
    "cdc_stream_txn_events",
    with_changes(
        ", tagged AS (SELECT *, CAST(COALESCE(SUM(CASE WHEN op = 'xid' THEN 1 ELSE 0 END) "
        'OVER (ORDER BY "offset" ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS txn '
        "FROM changes)"
        " SELECT txn, COUNT(*) AS n_events, "
        'MIN("offset") AS first_offset, MAX("offset") AS last_offset, MAX(xid) AS xid, '
        "CAST(MAX(CASE WHEN op = 'update_rows' THEN 1 ELSE 0 END) AS BIGINT) AS has_update "
        "FROM tagged GROUP BY txn"
    ),
)
def cdc_stream_txn_events(spark, sf_dir):
    """STREAMING transaction assembly (r14 VERDICT #2, SURVEY §2.6):
    per-log_file state buffers the open transaction and emits the
    assembled commit in the micro-batch whose XID event completed it;
    abandoned partials GC by event-time (watermark) timeout —
    TXN_GC_GAP_MS past the key's newest event time (pinned in
    tests/test_streaming.py; processing-time timeouts would keep
    availableNow drains alive forever).  Hash-equal to the BATCH cdc_txn_events
    oracle on the same log — the commit index `txn` is assigned over
    the assembled output by first_offset order (presentation-level: a
    window over one row per commit, not over the event stream).
    Reference anchor: mysql_binlog.clj:393-394, :730-733 (serial
    buffer-until-xid); the streaming form adds what the reference
    never had — out-of-order holdback and state GC."""
    from pyspark.sql import Window

    from mysql_cdc_spark.streaming import stateful

    env = _stream_env(spark, sf_dir)
    assembled = _drain(stateful.txn_events_stateful(env), output_mode="append")
    return assembled.select(
        (F.row_number().over(Window.orderBy("first_offset")) - 1)
        .cast("bigint").alias("txn"),
        "n_events", "first_offset", "last_offset", "xid", "has_update",
    )


@register(
    "cdc_stream_merge_table",
    with_changes(
        "SELECT db, tbl, id, value, \"offset\" AS as_of_offset FROM ("
        "  SELECT db, tbl, id, value, \"offset\", _delta_type, "
        "         ROW_NUMBER() OVER (PARTITION BY db, tbl, id ORDER BY \"offset\" DESC) AS rn"
        "  FROM rows_dt WHERE _delta_type <> 'update-before'"
        ") WHERE rn = 1 AND _delta_type <> 'delete'"
    ),
)
def cdc_stream_merge_table(spark, sf_dir):
    """CDC → lakehouse incremental MERGE (r17 VERDICT #1): the change
    stream maintains a QUERYABLE latest-state TABLE via
    ``foreachBatch`` + StateTable (operators/state_table.py) — each
    micro-batch MERGEs into a bucketed copy-on-write state version
    behind an fsync'd pointer, idempotent by batch_id, so a writer
    crash at any point converges to exactly-once state
    (tests/test_state_sigkill.py proves it across a real SIGKILL).
    Forced through four micro-batches (maxFilesPerTrigger=1) so the
    incremental path is actually exercised; the oracle is the full-log
    latest-state replay — equality proves the batch-by-batch MERGE
    loses and duplicates nothing.  This is THE production consumer
    shape the reference's JDBC users polled (a current-state table),
    which the reference itself never materialized
    (mysql_binlog.clj:730-733 hands frames to a callback and keeps no
    table)."""
    import pathlib
    import shutil

    from mysql_cdc_spark.operators.state_table import StateTable
    from mysql_cdc_spark.queries._shared import _gc_scratch, _scratch_name
    from mysql_cdc_spark.streaming import runtime as rt

    log_dir = rt.ensure_event_log(spark, sf_dir, _STREAM_TMP, _FIXTURE_VERSION)
    root = pathlib.Path(_STREAM_TMP)
    _gc_scratch(_STREAM_TMP, "mergetbl")
    name = _scratch_name("mergetbl")
    state = StateTable(str(root / name), name, n_buckets=8)
    rows = rows_delta_type(rt.open_stream(spark, log_dir, max_files_per_trigger=1))
    cp = str(root / (name + "_cp"))
    q = (
        rows.writeStream.foreachBatch(state.merger())
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(1800):
            # a live stream must NOT lose its checkpoint (the finally
            # below) nor be read half-merged: stop it and fail loudly
            q.stop()
            raise RuntimeError("cdc_stream_merge_table: drain timed out")
    finally:
        shutil.rmtree(cp, ignore_errors=True)
    assert state.committed()["batch_id"] >= 3, "multi-batch path not exercised"
    return state.current(spark).select("db", "tbl", "id", "value", "as_of_offset")
