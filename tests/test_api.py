"""Driver/connection/statement surface tests (R10/R12 parity)."""

from __future__ import annotations

import pytest

from mysql_cdc_spark import STREAM_TMP, api


@pytest.fixture(autouse=True)
def reset_singleton():
    api.CDCConnection._instance = None
    yield
    api.CDCConnection._instance = None


def test_accepts_url():
    assert api.accepts_url("jdbc:mysql-cdc:/root/testdata/sf0.001")
    assert not api.accepts_url("jdbc:mysql://host/db")
    with pytest.raises(ValueError):
        api.CDCConnection.connect("jdbc:postgres:x", None)


def test_singleton_connection(spark, sf_dir):
    url = f"jdbc:mysql-cdc:{sf_dir}"
    c1 = api.connect(url, spark)
    c2 = api.connect(url, spark)
    assert c1 is c2                    # CDCDriver.clj:54-59
    c1.close()
    c3 = api.connect(url, spark)
    assert c3 is not c1                # closed → a fresh connection


def test_one_statement_per_connection(spark, sf_dir):
    conn = api.connect(f"jdbc:mysql-cdc:{sf_dir}", spark)
    st = conn.create_statement()
    with pytest.raises(RuntimeError, match="one open statement"):
        conn.create_statement()
    st.close()
    assert conn.create_statement() is not st


def test_execute_query_end_to_end(spark, sf_dir):
    """The reference client flow (JdbcClient.java:39-58): connect →
    statement → executeQuery → iterate rows."""
    conn = api.connect(f"jdbc:mysql-cdc:{sf_dir}", spark)
    cur = conn.create_statement().execute_query(
        "select * from \"foo\".\"auto\" where _delta_type = 'insert'"
    )
    n = 0
    while cur.next():
        assert cur.get_string("_delta_type") == "insert"
        n += 1
    assert n == 224  # sf0.001 insert count (matches entry() smoke)


def test_execute_update_unsupported(spark, sf_dir):
    conn = api.connect(f"jdbc:mysql-cdc:{sf_dir}", spark)
    with pytest.raises(api.UnsupportedOperation):
        conn.create_statement().execute_update("INSERT INTO t VALUES (1)")


def test_read_only_and_catalog(spark, sf_dir):
    conn = api.connect(f"jdbc:mysql-cdc:{sf_dir}", spark)
    assert conn.read_only
    conn.register_views()
    tables = conn.list_tables()
    assert "changes" in tables and "rows_dt" in tables
    got = spark.sql("SELECT count(*) AS n FROM rows_dt").first()["n"]
    assert got > 0


def test_closed_connection_rejects_work(spark, sf_dir):
    conn = api.connect(f"jdbc:mysql-cdc:{sf_dir}", spark)
    st = conn.create_statement()
    conn.close()
    with pytest.raises(RuntimeError):
        st.execute_query('select * from "foo"."auto"')
    with pytest.raises(RuntimeError):
        conn.create_statement()


def test_continuous_query_blocks_then_delivers_new_rows(spark, sf_dir):
    """The reference's continuous-query contract end-to-end through
    the driver API: the cursor drains current inserts, BLOCKS when the
    log is exhausted, and unblocks when new events are appended."""
    import shutil
    import uuid

    from pyspark.sql import functions as F

    from mysql_cdc_spark.sources.events_cdc import changes
    from mysql_cdc_spark.streaming import runtime as rt

    scratch = f"{STREAM_TMP}/test/{uuid.uuid4().hex[:10]}"
    env = changes(spark, sf_dir)
    first = env.filter(F.col("offset") < 2000)
    second = env.filter((F.col("offset") >= 2000) & (F.col("offset") < 4000))
    rt.write_event_log(first, f"{scratch}/log", n_files=1)

    conn = api.connect(f"jdbc:mysql-cdc:{sf_dir}", spark)
    cur, handle = conn.create_statement().execute_query_stream(
        'select * from "foo"."auto"', trigger_seconds=0.3, log_dir=f"{scratch}/log"
    )
    try:
        assert cur.next(timeout=15)             # first row arrives
        n_first = 1
        while cur.next(timeout=2):              # drain what's in the log
            n_first += 1
        assert n_first > 0
        assert not cur.next(timeout=1)          # log exhausted → blocks

        second.coalesce(1).write.mode("append").parquet(f"{scratch}/log")
        assert cur.next(timeout=30)             # unblocks on new data
        assert cur.current["offset"] >= 2000
    finally:
        handle.stop()
        shutil.rmtree(scratch, ignore_errors=True)


def test_stream_stop_unblocks_backpressured_producer(spark):
    """ADVICE r8: with the consumer gone and the bounded queue full,
    the foreachBatch producer spins in its put loop and only exits on
    the closed flag; query.stop() blocks on that in-flight micro-batch.
    The shutdown path must release the cursor BEFORE stopping — modeled
    here with a fake query whose stop() (like the py4j callback
    barrier) cannot return until the producer thread exits."""
    import threading
    import time as _time

    from mysql_cdc_spark.streaming.runtime import QueueStreamingCursor

    cur = QueueStreamingCursor(order_col=None, queue_size=1)
    df = spark.range(3)
    t1 = threading.Thread(target=cur._event_fn, args=(df, 0))
    t1.start(); t1.join(timeout=20)
    assert not t1.is_alive()                    # queue now full
    t2 = threading.Thread(target=cur._event_fn, args=(df, 1))
    t2.start()
    _time.sleep(0.4)
    assert t2.is_alive()                        # blocked on the full queue

    stopped = {"ok": False}

    class _FakeQuery:
        isActive = True

        def stop(self):
            t2.join(timeout=10)                 # py4j barrier analog
            stopped["ok"] = not t2.is_alive()
            self.isActive = False

    cur.query = _FakeQuery()
    # the api._stop_and_clean ordering: release, THEN stop
    cur.release()
    cur.query.stop()
    assert stopped["ok"], "query.stop() deadlocked on a blocked producer"


def test_stream_handle_stop_releases_cursor_and_removes_checkpoint(spark, sf_dir):
    """The api-level wiring of the fix: handle.stop() with an
    unconsumed cursor returns promptly, sets the cursor's closed flag
    (so any blocked producer exits), and removes the per-call
    checkpoint dir."""
    import os
    import shutil
    import time as _time
    import uuid

    from mysql_cdc_spark.sources.events_cdc import changes
    from mysql_cdc_spark.streaming import runtime as rt

    scratch = f"{STREAM_TMP}/test/{uuid.uuid4().hex[:10]}"
    env = changes(spark, sf_dir)
    rt.write_event_log(env.limit(500), f"{scratch}/log", n_files=1)

    api.CDCConnection._instance = None
    conn = api.connect(f"jdbc:mysql-cdc:{sf_dir}", spark)
    cur, handle = conn.create_statement().execute_query_stream(
        'select * from "foo"."auto"', trigger_seconds=0.3,
        log_dir=f"{scratch}/log",
    )
    try:
        deadline = _time.monotonic() + 30
        while cur._queue_depth() == 0 and _time.monotonic() < deadline:
            _time.sleep(0.05)                   # let a batch land, unconsumed
        cp_parent = STREAM_TMP
        cps = {p for p in os.listdir(cp_parent) if p.startswith("cp_cdc_")}
        t0 = _time.monotonic()
        handle.stop()
        assert _time.monotonic() - t0 < 60      # returned, no deadlock
        assert cur._closed.is_set()             # producer released
        cps_after = {p for p in os.listdir(cp_parent) if p.startswith("cp_cdc_")}
        assert len(cps_after) < len(cps) or not cps_after  # checkpoint removed
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_connect_different_source_raises(spark):
    from mysql_cdc_spark import api

    api.CDCConnection._instance = None
    c1 = api.connect("jdbc:mysql-cdc:/root/testdata/sf0.001", spark)
    with pytest.raises(RuntimeError, match="already open"):
        api.connect("jdbc:mysql-cdc:/root/testdata/sf0.01", spark)
    # same source still returns the singleton; after close, reconnect works
    assert api.connect("jdbc:mysql-cdc:/root/testdata/sf0.001", spark) is c1
    c1.close()
    c2 = api.connect("jdbc:mysql-cdc:/root/testdata/sf0.01", spark)
    assert c2.source == "/root/testdata/sf0.01"
    c2.close()
