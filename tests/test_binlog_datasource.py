"""The ``mysql_binlog`` Python DataSource (sources/binlog_datasource.py).

Batch parity is pinned against ``read_binlog_envelope`` (the
binaryFile + mapInPandas path) — same envelope rows, byte-exact.  The
streaming reader's protocol is exercised both manually (driver walk:
torn-tail holdback, mid-file state shipping, rotation, backpressure,
restart prefix-replay) and end-to-end through Structured Streaming
with a checkpointed restart (exactly-once across the kill).
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import uuid

import pytest

from mysql_cdc_spark import STREAM_TMP
from mysql_cdc_spark.sources import binlog_source as bs
from mysql_cdc_spark.sources.binlog_codec import (
    WRITE_ROWS_EVENT,
    BinlogWriter,
    TableDef,
    TYPE_LONG,
    TYPE_VARCHAR,
    decode_binlog,
)
from mysql_cdc_spark.sources.binlog_datasource import (
    _BinlogBatchReader,
    _BinlogStreamReader,
    register_binlog_source,
)

TMP = f"{STREAM_TMP}/ds_tests"

_T = TableDef("foo", "auto", [(TYPE_LONG, None), (TYPE_VARCHAR, 50)], table_id=7)
_CAT_JSON = '{"foo.auto": ["id", "val"]}'
_CAT = {("foo", "auto"): ["id", "val"]}


@pytest.fixture(scope="module")
def fixture_dir(spark, sf_dir) -> str:
    out = f"{TMP}/binlog_batch_v2"
    if not any(pathlib.Path(out).glob("binlog.*")):
        # rotate often enough that sf0.001 produces several files —
        # rotation/pruning paths need a multi-file directory
        bs.generate_binlog_from_events(
            sf_dir, out, rotate_every=250, checksum="crc32"
        )
    register_binlog_source(spark)
    return out


def _txn(w: BinlogWriter, i: int) -> None:
    w.write_query("foo", "BEGIN")
    w.write_table_map(_T)
    w.write_rows(WRITE_ROWS_EVENT, _T, [[i, f"v{i}"]])
    w.write_xid(100 + i)


def _rows(batches) -> list[dict]:
    out: list[dict] = []
    for b in batches:
        out.extend(b.to_pylist())
    return out


def _key(rows: list[dict]) -> list[str]:
    # seq is batch-local on the stream path; identity is
    # (log_file, offset, row_idx) per the envelope contract
    return sorted(
        json.dumps({k: v for k, v in r.items() if k != "seq"},
                   sort_keys=True, default=str)
        for r in rows
    )



def _part_paths(parts) -> list[str]:
    """All file paths in a partition plan, whatever the partition kind
    (whole files, packed small-file bins, or split slices)."""
    from mysql_cdc_spark.sources.binlog_datasource import (
        _PackedStreamPartition,
    )

    out = []
    for p in parts:
        if isinstance(p, _PackedStreamPartition):
            out.extend(s.path for s in p.slices)
        else:
            out.append(p.path)
    return out


# ---------------------------------------------------------------------------
# batch
# ---------------------------------------------------------------------------


class TestBatch:
    def test_envelope_parity(self, spark, fixture_dir):
        # seq semantics differ by design: the DataSource emits the
        # codec FRAME index (pushdown-invariant), the mapInPandas path
        # emits delivered-record numbering — everything else matches
        # byte-exactly
        ds = spark.read.format("mysql_binlog").load(fixture_dir)
        ref = bs.read_binlog_envelope(spark, fixture_dir)
        assert ds.schema == ref.schema
        assert (
            sorted(ds.drop("seq").collect())
            == sorted(ref.drop("seq").collect())
        )

    def test_filter_pushdown_is_transparent(self, spark, fixture_dir):
        # the Catalyst-pushdown contract: df.filter(cond) must equal a
        # client-side filter of the full scan EXACTLY — including seq,
        # which only holds because seq is the codec frame index (a
        # skipped frame still consumes its slot)
        cond = "db = 'foo' AND tbl = 'auto' AND op = 'write_rows'"
        full = spark.read.format("mysql_binlog").load(fixture_dir).collect()
        pushed = (
            spark.read.format("mysql_binlog").load(fixture_dir)
            .filter(cond).collect()
        )
        client = [
            r for r in full
            if r.db == "foo" and r.tbl == "auto" and r.op == "write_rows"
        ]
        assert sorted(pushed) == sorted(client)
        ref = bs.read_binlog_envelope(spark, fixture_dir).filter(cond)
        assert (
            sorted((r.log_file, r.offset, r.row_idx) for r in pushed)
            == sorted((r.log_file, r.offset, r.row_idx) for r in ref.collect())
        )

    def test_filter_keeps_non_row_semantics(self, spark, fixture_dir):
        # db='foo' alone (no tbl) cannot form only_tables pairs; and
        # even when pushed, Spark re-evaluates — xid/query rows with
        # db=NULL/other must not leak through
        ds = spark.read.format("mysql_binlog").load(fixture_dir)
        ref = bs.read_binlog_envelope(spark, fixture_dir)
        for cond in ("db = 'foo'", "op = 'xid'", "op IN ('xid','query')"):
            assert (
                sorted(ds.filter(cond).drop("seq").collect())
                == sorted(ref.filter(cond).drop("seq").collect())
            ), cond

    def test_log_file_prune(self, spark, fixture_dir):
        files = sorted(
            os.path.basename(p) for p in pathlib.Path(fixture_dir).glob("binlog.*")
        )
        assert len(files) >= 2, "fixture must rotate"
        reader = _BinlogBatchReader({"path": fixture_dir})
        from pyspark.sql.datasource import GreaterThanOrEqual

        kept = list(reader.pushFilters([GreaterThanOrEqual(("log_file",), files[1])]))
        assert len(kept) == 1  # partial pushdown: filter still returned
        parts = reader.partitions()
        assert sorted(
            os.path.basename(p) for p in _part_paths(parts)
        ) == files[1:]

    def test_only_tables_option_parity(self, spark, fixture_dir):
        ds = (
            spark.read.format("mysql_binlog")
            .option("only_tables", "foo.auto")
            .load(fixture_dir)
        )
        ref = bs.read_binlog_envelope(spark, fixture_dir, only_tables={("foo", "auto")})
        assert (
            sorted(ds.drop("seq").collect())
            == sorted(ref.drop("seq").collect())
        )

    def test_since_parity(self, spark, fixture_dir):
        files = sorted(
            os.path.basename(p) for p in pathlib.Path(fixture_dir).glob("binlog.*")
        )
        boundary = files[len(files) // 2]
        fsize = os.path.getsize(os.path.join(fixture_dir, boundary))
        cut = fsize // 2
        ds = (
            spark.read.format("mysql_binlog")
            .option("since_file", boundary)
            .option("since_offset", str(cut))
            .load(fixture_dir)
        )
        ref = bs.read_binlog_envelope(spark, fixture_dir, since=(boundary, cut))
        assert (
            sorted(ds.drop("seq").collect())
            == sorted(ref.drop("seq").collect())
        )

    def test_since_past_everything_is_empty(self, spark, fixture_dir):
        ds = (
            spark.read.format("mysql_binlog")
            .option("since_file", "binlog.999999")
            .load(fixture_dir)
        )
        assert ds.count() == 0

    def test_since_past_everything_envelope_is_jobless(
        self, spark, fixture_dir
    ):
        """The binaryFile route's past-the-end resume builds its empty
        envelope over an empty RDD: the narrowed schema, and no
        partition for an action to schedule."""
        cols = ["log_file", "offset", "op", "after"]
        env = bs.read_binlog_envelope(
            spark, fixture_dir, since=("binlog.999999", 4), columns=cols
        )
        assert env.schema == bs.narrowed_envelope_schema(
            bs.normalize_envelope_columns(cols)
        )
        assert env.columns == cols
        assert env.rdd.getNumPartitions() == 0
        assert env.count() == 0

    def test_source_runner_import_is_pandas_free(self):
        """Spark's streaming-source runner imports this module in a
        fresh interpreter per query; pandas (~0.3 s) must not ride
        along — only the binaryFile decode needs it, on executors."""
        import subprocess
        import sys

        root = pathlib.Path(__file__).resolve().parent.parent
        out = subprocess.run(
            [
                sys.executable, "-c",
                "import sys\n"
                "import mysql_cdc_spark.sources.binlog_datasource\n"
                "print('pandas' in sys.modules)",
            ],
            cwd=root, capture_output=True, text=True, check=True,
        )
        assert out.stdout.strip() == "False", out.stderr


# ---------------------------------------------------------------------------
# stream protocol (manual drive — deterministic, no Spark runtime)
# ---------------------------------------------------------------------------


@pytest.fixture()
def live_dir(tmp_path) -> str:
    d = tmp_path / "live"
    d.mkdir()
    return str(d)


class TestStreamProtocol:
    def test_torn_tail_holdback_then_resume(self, live_dir):
        w = BinlogWriter(checksum="crc32")
        for i in range(5):
            _txn(w, i)
        full = bytes(w.buf)
        with open(f"{live_dir}/binlog.000000", "wb") as fh:
            fh.write(full[:300])  # cut mid-frame

        r = _BinlogStreamReader({"path": live_dir, "catalog": _CAT_JSON})
        start = r.initialOffset()
        end1 = r.latestOffset()
        assert end1["pos"] < 300  # held back to the last complete frame
        rows1 = _rows(
            b for p in r.partitions(start, end1) for b in [*r.read(p)]
        )
        r.commit(end1)

        with open(f"{live_dir}/binlog.000000", "wb") as fh:
            fh.write(full)
        end2 = r.latestOffset()
        assert end2["pos"] == len(full)
        parts = r.partitions(end1, end2)
        # mid-file slice ships the checksum + table-map state
        assert parts[0].start == end1["pos"]
        assert parts[0].alg == "crc32" and parts[0].tmap is not None
        rows2 = _rows(b for p in parts for b in [*r.read(p)])

        expect = decode_binlog(full, _CAT)
        cols, _ = bs.envelope_columns(expect, "binlog.000000")
        assert len(rows1) + len(rows2) == len(cols["op"])

    def test_rotation_and_restart_prefix_replay(self, live_dir):
        w = BinlogWriter(checksum="crc32")
        for i in range(3):
            _txn(w, i)
        with open(f"{live_dir}/binlog.000000", "wb") as fh:
            fh.write(bytes(w.buf[: len(w.buf) // 2]))
        r = _BinlogStreamReader({"path": live_dir, "catalog": _CAT_JSON})
        start = r.initialOffset()
        end1 = r.latestOffset()
        r.commit(end1)

        w.write_rotate("binlog.000001")
        with open(f"{live_dir}/binlog.000000", "wb") as fh:
            fh.write(bytes(w.buf))
        w2 = BinlogWriter(checksum="crc32")
        for i in range(3, 5):
            _txn(w2, i)
        with open(f"{live_dir}/binlog.000001", "wb") as fh:
            fh.write(bytes(w2.buf))

        end2 = r.latestOffset()
        assert end2["file"] == "binlog.000001"
        rows_live = _rows(b for p in r.partitions(end1, end2) for b in [*r.read(p)])

        # driver restart: fresh reader, same checkpointed range — the
        # mid-file slice flips to prefix_replay and yields identical rows
        r2 = _BinlogStreamReader({"path": live_dir, "catalog": _CAT_JSON})
        parts = r2.partitions(end1, end2)
        assert any(p.prefix_replay for p in parts)
        rows_replay = _rows(b for p in parts for b in [*r2.read(p)])
        assert _key(rows_replay) == _key(rows_live)

    def test_backpressure_bound_and_union(self, live_dir):
        # the cap bounds STEADY-STATE triggers; the first trigger after
        # a (re)start deliberately drains the backlog uncapped (a capped
        # blind first walk could regress behind a restored checkpoint)
        w = BinlogWriter(checksum="crc32")
        _txn(w, 0)
        with open(f"{live_dir}/binlog.000000", "wb") as fh:
            fh.write(bytes(w.buf))

        r = _BinlogStreamReader(
            {"path": live_dir, "catalog": _CAT_JSON, "max_bytes_per_batch": "256"}
        )
        cur = r.initialOffset()
        rows: list[dict] = []
        batches = 0

        def drain_once(cur):
            nonlocal rows, batches
            nxt = r.latestOffset()
            if nxt == cur:
                return cur, False
            rows += _rows(b for p in r.partitions(cur, nxt) for b in [*r.read(p)])
            r.commit(nxt)
            batches += 1
            return nxt, True

        cur, moved = drain_once(cur)  # first trigger: backlog, uncapped
        assert moved and batches == 1

        # live appends: 7 more txns + rotation + a second file
        for i in range(1, 8):
            _txn(w, i)
        w.write_rotate("binlog.000001")
        with open(f"{live_dir}/binlog.000000", "wb") as fh:
            fh.write(bytes(w.buf))
        w2 = BinlogWriter(checksum="crc32")
        for i in range(8, 11):
            _txn(w2, i)
        with open(f"{live_dir}/binlog.000001", "wb") as fh:
            fh.write(bytes(w2.buf))

        while True:
            cur, moved = drain_once(cur)
            if not moved:
                break
            assert batches < 100
        assert batches > 4  # the cap split the steady-state drain

        e0 = decode_binlog(bytes(w.buf), _CAT)
        e1 = decode_binlog(bytes(w2.buf), _CAT)
        c0, _ = bs.envelope_columns(e0, "binlog.000000")
        c1, _ = bs.envelope_columns(e1, "binlog.000001")
        assert len(rows) == len(c0["op"]) + len(c1["op"])

    def test_empty_dir_then_first_file(self, live_dir):
        r = _BinlogStreamReader({"path": live_dir, "catalog": _CAT_JSON})
        start = r.initialOffset()
        assert start == {"file": "", "pos": 4}
        assert r.latestOffset() == start
        assert r.partitions(start, start) == []

        w = BinlogWriter()
        _txn(w, 1)
        with open(f"{live_dir}/binlog.000000", "wb") as fh:
            fh.write(bytes(w.buf))
        end = r.latestOffset()
        assert end["file"] == "binlog.000000" and end["pos"] == len(w.buf)
        rows = _rows(b for p in r.partitions(start, end) for b in [*r.read(p)])
        assert [x["op"] for x in rows] == ["query", "table_map", "write_rows", "xid"]

    def test_pushdown_options_on_stream(self, live_dir):
        other = TableDef("bar", "other", [(TYPE_LONG, None)], table_id=9)
        w = BinlogWriter(checksum="crc32")
        _txn(w, 1)
        w.write_query("bar", "BEGIN")
        w.write_table_map(other)
        w.write_rows(WRITE_ROWS_EVENT, other, [[5]])
        w.write_xid(500)
        with open(f"{live_dir}/binlog.000000", "wb") as fh:
            fh.write(bytes(w.buf))
        r = _BinlogStreamReader(
            {"path": live_dir, "catalog": _CAT_JSON, "only_tables": "foo.auto"}
        )
        start = r.initialOffset()
        end = r.latestOffset()
        rows = _rows(b for p in r.partitions(start, end) for b in [*r.read(p)])
        row_events = [x for x in rows if x["op"].endswith("_rows")]
        assert {(x["db"], x["tbl"]) for x in row_events} == {("foo", "auto")}
        # non-row events always pass (partial pushdown contract)
        assert sum(1 for x in rows if x["op"] == "xid") == 2

    def test_capped_trigger_seq_is_file_global(self, live_dir):
        # r16 ADVICE: slice-local seq collided when a capped trigger
        # cut a file mid-way.  The driver walk now threads seq_base, so
        # every slice emits the FILE-GLOBAL frame index — identical to
        # one uncapped whole-file decode.
        w = BinlogWriter(checksum="crc32")
        _txn(w, 0)
        with open(f"{live_dir}/binlog.000000", "wb") as fh:
            fh.write(bytes(w.buf))
        r = _BinlogStreamReader(
            {"path": live_dir, "catalog": _CAT_JSON,
             "max_bytes_per_batch": "256"}
        )
        cur = r.initialOffset()
        rows: list[dict] = []
        nxt = r.latestOffset()  # first trigger: uncapped backlog drain
        rows += _rows(b for p in r.partitions(cur, nxt) for b in [*r.read(p)])
        r.commit(nxt)
        cur = nxt
        for i in range(1, 20):
            _txn(w, i)
        with open(f"{live_dir}/binlog.000000", "wb") as fh:
            fh.write(bytes(w.buf))
        capped_batches = 0
        while True:
            nxt = r.latestOffset()
            if nxt == cur:
                break
            rows += _rows(
                b for p in r.partitions(cur, nxt) for b in [*r.read(p)]
            )
            r.commit(nxt)
            cur = nxt
            capped_batches += 1
        assert capped_batches > 3  # the cap genuinely sliced the file
        ref = decode_binlog(bytes(w.buf), _CAT)
        cols, _ = bs.envelope_columns(ref, "binlog.000000", frame_seq=True)
        expect = dict(zip(cols["offset"], cols["seq"]))
        got = {x["offset"]: x["seq"] for x in rows if x["row_idx"] == 0}
        assert got == expect  # file-global, collision-free
        assert len({x["seq"] for x in rows}) == len(
            {x["offset"] for x in rows}
        )

    def test_budget_below_one_frame_widens_not_stalls(self, live_dir):
        # r16 ADVICE: a budget smaller than one event frame used to
        # break the walk without advancing — every later trigger
        # repeated identically and the stream stalled forever.  The
        # walk now widens past the budget until one frame decodes.
        w = BinlogWriter(checksum="crc32")
        _txn(w, 0)
        with open(f"{live_dir}/binlog.000000", "wb") as fh:
            fh.write(bytes(w.buf))
        r = _BinlogStreamReader(
            {"path": live_dir, "catalog": _CAT_JSON,
             "max_bytes_per_batch": "8"}
        )
        cur = r.initialOffset()
        cur = r.latestOffset()  # uncapped first drain
        r.commit(cur)
        for i in range(1, 4):
            _txn(w, i)
        with open(f"{live_dir}/binlog.000000", "wb") as fh:
            fh.write(bytes(w.buf))
        seen = 0
        for _ in range(64):  # far more triggers than frames
            nxt = r.latestOffset()
            if nxt == cur:
                break
            assert nxt["pos"] > cur["pos"]  # ≥ one frame per trigger
            seen += len(_rows(
                b for p in r.partitions(cur, nxt) for b in [*r.read(p)]
            ))
            r.commit(nxt)
            cur = nxt
        else:
            pytest.fail("stream did not drain: stalled under tiny budget")
        assert cur["pos"] == len(w.buf)
        assert seen == 4 * 3  # query/table_map/write_rows/xid per txn

    def test_raise_mode_fails_at_planning_not_behind_offset(self, live_dir):
        # r16 ADVICE: planning walked with quarantine while executors
        # decoded with the user's on_error — in raise mode the offset
        # WAL advanced past a poison frame that then failed every task
        # retry.  Planning now uses the user's on_error: raise fails
        # BEFORE the offset advances; quarantine still drains past.
        w = BinlogWriter(checksum="crc32")
        for i in range(3):
            _txn(w, i)
        data = bytearray(w.buf)
        ref = decode_binlog(bytes(w.buf), _CAT)
        poison = next(e for e in ref if e["op"] == "write_rows")
        data[poison["offset"] + 21] ^= 0xFF  # flip a body byte → CRC fails
        with open(f"{live_dir}/binlog.000000", "wb") as fh:
            fh.write(bytes(data))

        r = _BinlogStreamReader({"path": live_dir, "catalog": _CAT_JSON})
        r.initialOffset()
        with pytest.raises(ValueError, match="CRC32|corrupt"):
            r.latestOffset()

        rq = _BinlogStreamReader(
            {"path": live_dir, "catalog": _CAT_JSON, "on_error": "quarantine"}
        )
        start = rq.initialOffset()
        end = rq.latestOffset()
        assert end["pos"] == len(data)  # quarantine drains past poison
        rows = _rows(b for p in rq.partitions(start, end) for b in [*rq.read(p)])
        assert sum(1 for x in rows if x["op"] == "quarantine") == 1

    def test_rotated_file_extent_pinned_in_offset(self, live_dir):
        # The walk records each fully-consumed file's byte extent into
        # the offset JSON; replay plans against THAT extent, so a late
        # append to a rotated file can never change a committed batch.
        w = BinlogWriter(checksum="crc32")
        _txn(w, 0)
        with open(f"{live_dir}/binlog.000000", "wb") as fh:
            fh.write(bytes(w.buf))
        r = _BinlogStreamReader({"path": live_dir, "catalog": _CAT_JSON})
        r.initialOffset()
        start = r.latestOffset()  # consume file 0's current tail
        r.commit(start)

        # live rotation: file 0 gains a txn + ROTATE, file 1 appears
        _txn(w, 1)
        w.write_rotate("binlog.000001")
        with open(f"{live_dir}/binlog.000000", "wb") as fh:
            fh.write(bytes(w.buf))
        size0 = len(w.buf)
        w2 = BinlogWriter(checksum="crc32")
        _txn(w2, 5)
        with open(f"{live_dir}/binlog.000001", "wb") as fh:
            fh.write(bytes(w2.buf))

        end = r.latestOffset()  # one walk crosses the rotation
        assert end["file"] == "binlog.000001"
        assert end.get("ends") == {"binlog.000000": size0}
        rows_live = _rows(
            b for p in r.partitions(start, end) for b in [*r.read(p)]
        )

        # late append to the ROTATED file (no real server does this;
        # determinism must not depend on that)
        with open(f"{live_dir}/binlog.000000", "ab") as fh:
            fh.write(bytes(w2.buf[4:]))
        r2 = _BinlogStreamReader({"path": live_dir, "catalog": _CAT_JSON})
        parts = r2.partitions(start, end)
        f0 = [p for p in parts if p.log_file == "binlog.000000"]
        assert len(f0) == 1 and f0[0].end == size0  # pinned extent
        rows_replay = _rows(b for p in parts for b in [*r2.read(p)])
        assert _key(rows_replay) == _key(rows_live)

    def test_table_map_state_pickles_without_plans(self, live_dir):
        import pickle

        from mysql_cdc_spark.sources.binlog_codec import (
            decode_binlog_incremental,
        )

        w = BinlogWriter()
        _txn(w, 1)
        _, _, tmap, _ = decode_binlog_incremental(bytes(w.buf), 4, None, _CAT)
        assert tmap is not None
        # warm the unpicklable per-shape plan cache, then ship
        from mysql_cdc_spark.sources.binlog_codec import _image_plan

        _image_plan(tmap, b"\x03")
        clone = pickle.loads(pickle.dumps(tmap))
        assert (clone.db, clone.table, clone.col_types) == (
            tmap.db,
            tmap.table,
            tmap.col_types,
        )
        assert "_img_plans" not in clone.__dict__


# ---------------------------------------------------------------------------
# stream end-to-end (Structured Streaming + checkpointed restart)
# ---------------------------------------------------------------------------


class TestStreamEndToEnd:
    def test_available_now_drain_matches_batch(self, spark, fixture_dir):
        register_binlog_source(spark)
        name = "ds_e2e_" + uuid.uuid4().hex[:6]
        cp = f"{TMP}/cp_{name}"
        try:
            q = (
                spark.readStream.format("mysql_binlog")
                .load(fixture_dir)
                .writeStream.format("memory")
                .queryName(name)
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            got = [r.asDict() for r in spark.table(name).collect()]
            ref = [
                r.asDict()
                for r in bs.read_binlog_envelope(spark, fixture_dir).collect()
            ]
            assert _key(got) == _key(ref)
        finally:
            shutil.rmtree(cp, ignore_errors=True)

    def test_checkpoint_restart_exactly_once(self, spark, tmp_path):
        register_binlog_source(spark)
        live = str(tmp_path / "live")
        os.makedirs(live)
        w = BinlogWriter(checksum="crc32")
        for i in range(4):
            _txn(w, i)
        with open(f"{live}/binlog.000000", "wb") as fh:
            fh.write(bytes(w.buf))

        name = "ds_restart_" + uuid.uuid4().hex[:6]
        cp = f"{TMP}/cp_{name}"
        sink = f"{TMP}/sink_{name}"

        def drain():
            # a FILE sink: the memory sink cannot recover from a
            # checkpoint, and recovery is the point of this test
            q = (
                spark.readStream.format("mysql_binlog")
                .option("catalog", _CAT_JSON)
                .load(live)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            return [r.asDict() for r in spark.read.parquet(sink).collect()]

        try:
            first = drain()
            assert len(first) == 16  # 4 txns × 4 envelope events

            # append mid-file + rotate + second file, then RESTART from
            # the checkpoint: only the new range may appear
            for i in range(4, 6):
                _txn(w, i)
            w.write_rotate("binlog.000001")
            with open(f"{live}/binlog.000000", "wb") as fh:
                fh.write(bytes(w.buf))
            w2 = BinlogWriter(checksum="crc32")
            for i in range(6, 8):
                _txn(w2, i)
            with open(f"{live}/binlog.000001", "wb") as fh:
                fh.write(bytes(w2.buf))

            both = drain()  # restart from the same checkpoint
            # 2 new txns × 4 events in each file (rotate is not an
            # envelope op) appended to the sink — nothing re-delivered
            assert len(both) == 32

            # exactly-once: sink contents == full batch decode, no
            # duplicates across the restart — checked against the
            # authoritative batch read
            ref = [
                r.asDict()
                for r in bs.read_binlog_envelope(
                    spark, live, catalog=_CAT
                ).collect()
            ]
            assert _key(both) == _key(ref)
        finally:
            shutil.rmtree(cp, ignore_errors=True)
            shutil.rmtree(sink, ignore_errors=True)


# ---------------------------------------------------------------------------
# archival writer (the WRITE half)
# ---------------------------------------------------------------------------


class TestArchiveWriter:
    def _roundtrip_cols(self, df):
        keep = ("query", "write_rows", "update_rows", "delete_rows", "xid")
        return sorted(
            str(r)
            for r in df.filter(df.op.isin(*keep))
            .select(
                "op", "db", "tbl", "before", "after", "xid", "sql",
                "thread_id", "exec_time", "error_code", "ts",
            )
            .collect()
        )

    def test_batch_roundtrip_multifile(self, spark, fixture_dir, tmp_path):
        arch = str(tmp_path / "arch")
        os.makedirs(arch)
        env = spark.read.format("mysql_binlog").load(fixture_dir)
        (
            env.repartition(4, "log_file")
            .sortWithinPartitions("log_file", "offset", "row_idx")
            .write.format("mysql_binlog")
            .mode("overwrite")
            .save(arch)
        )
        files = sorted(p.name for p in pathlib.Path(arch).glob("binlog.*"))
        assert files == [f"binlog.{i:06d}" for i in range(len(files))]
        assert len(files) >= 2  # multi-file source → multi-file archive
        back = spark.read.format("mysql_binlog").option("catalog", "{}").load(arch)
        assert self._roundtrip_cols(back) == self._roundtrip_cols(env)
        # no torn temp output left behind
        assert not list(pathlib.Path(arch, "_tmp").glob("part-*"))

    def test_append_continues_numbering_overwrite_clears(
        self, spark, fixture_dir, tmp_path
    ):
        arch = str(tmp_path / "arch2")
        os.makedirs(arch)
        env = spark.read.format("mysql_binlog").load(fixture_dir).limit(200)
        env.repartition(1).write.format("mysql_binlog").mode("append").save(arch)
        n1 = len(list(pathlib.Path(arch).glob("binlog.*")))
        env.repartition(1).write.format("mysql_binlog").mode("append").save(arch)
        files = sorted(p.name for p in pathlib.Path(arch).glob("binlog.*"))
        assert len(files) == 2 * n1
        assert files == [f"binlog.{i:06d}" for i in range(len(files))]
        env.repartition(1).write.format("mysql_binlog").mode("overwrite").save(arch)
        assert len(list(pathlib.Path(arch).glob("binlog.*"))) == n1

    def test_absent_vs_null_preserved(self, spark, tmp_path):
        # minimal-image semantics must survive the archive: key-absent
        # (not in image) vs value-None (SQL NULL) round-trip distinctly
        from mysql_cdc_spark.sources.binlog_datasource import (
            _encode_partition,
        )
        from pyspark.sql import Row

        rows = [
            Row(
                log_file="x", seq=0, offset=10, ts=5, server_id=1, xid=None,
                db="d", tbl="t", op="update_rows", row_idx=0,
                before={"id": "7"},              # PK only (minimal image)
                after={"id": "7", "val": None},  # explicit SQL NULL
                sql=None, thread_id=None, exec_time=None, error_code=None,
            )
        ]
        data, n, _, _ = _encode_partition(iter(rows), "crc32")
        assert n == 1
        events = decode_binlog(data, {})
        upd = next(e for e in events if e["op"] == "update_rows")
        assert upd["before"] == [{"id": "7"}]  # val ABSENT
        assert upd["after"] == [{"id": "7", "val": None}]  # val NULL

    def test_stream_archive_and_replay_idempotency(
        self, spark, fixture_dir, tmp_path
    ):
        arch = str(tmp_path / "arch_stream")
        os.makedirs(arch)
        cp = str(tmp_path / "cp")
        env = spark.readStream.format("mysql_binlog").load(fixture_dir)
        q = (
            env.writeStream.format("mysql_binlog")
            .option("path", arch)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        back = spark.read.format("mysql_binlog").option("catalog", "{}").load(arch)
        ref = spark.read.format("mysql_binlog").load(fixture_dir)
        assert self._roundtrip_cols(back) == self._roundtrip_cols(ref)

        # simulate a replayed batch: drive the stream writer's commit
        # twice with the same batchId — the manifest must converge to
        # one copy, not append a second
        from mysql_cdc_spark.sources.binlog_datasource import (
            _BinlogArchiveStreamWriter,
            _encode_partition,
        )

        before_files = sorted(
            p.name for p in pathlib.Path(arch).glob("binlog.*")
        )
        rows = ref.limit(8).collect()
        for _ in range(2):  # same batchId twice
            w = _BinlogArchiveStreamWriter({"path": arch}, overwrite=False)
            msg = w.write(iter(rows))
            w.commit([msg], 999)
        files = sorted(p.name for p in pathlib.Path(arch).glob("binlog.*"))
        assert len(files) == len(before_files) + 1  # one copy, not two


# ---------------------------------------------------------------------------
# oversized-file intra-file splits (split_bytes)
# ---------------------------------------------------------------------------


class TestSplitBytes:
    @pytest.fixture()
    def big_file_dir(self, tmp_path) -> str:
        d = tmp_path / "big"
        d.mkdir()
        w = BinlogWriter(checksum="crc32")
        for i in range(400):
            _txn(w, i)
        (d / "binlog.000000").write_bytes(bytes(w.buf))
        return str(d)

    def test_split_parity_with_whole_file(self, spark, big_file_dir):
        from mysql_cdc_spark.sources.binlog_datasource import (
            _BinlogBatchReader,
            _StreamPartition,
        )

        register_binlog_source(spark)
        whole = (
            spark.read.format("mysql_binlog")
            .option("catalog", _CAT_JSON)
            .load(big_file_dir)
        )
        split = (
            spark.read.format("mysql_binlog")
            .option("catalog", _CAT_JSON)
            .option("split_bytes", "4096")
            .load(big_file_dir)
        )
        # slices carry seq_base: seq is FILE-GLOBAL under splits, so
        # parity holds including seq
        assert (
            sorted(split.collect()) == sorted(whole.collect())
        )
        reader = _BinlogBatchReader(
            {"path": big_file_dir, "catalog": _CAT_JSON, "split_bytes": "4096"}
        )
        parts = reader.partitions()
        assert len(parts) > 4  # genuinely split
        assert all(isinstance(p, _StreamPartition) for p in parts)
        # slices tile the file exactly: contiguous, frame-aligned
        assert parts[0].start == 4
        for a, b in zip(parts, parts[1:]):
            assert a.end == b.start
        # mid-file slices ship decoder state
        assert parts[1].alg == "crc32" and parts[1].tmap is not None

    def test_split_with_pushdown_and_since(self, spark, big_file_dir):
        register_binlog_source(spark)
        cond = "db = 'foo' AND tbl = 'auto' AND op = 'write_rows'"
        whole = (
            spark.read.format("mysql_binlog")
            .option("catalog", _CAT_JSON)
            .load(big_file_dir)
            .filter(cond)
        )
        split = (
            spark.read.format("mysql_binlog")
            .option("catalog", _CAT_JSON)
            .option("split_bytes", "4096")
            .load(big_file_dir)
            .filter(cond)
        )
        assert (
            sorted(split.collect()) == sorted(whole.collect())
        )
        cut = os.path.getsize(f"{big_file_dir}/binlog.000000") // 2
        whole_s = (
            spark.read.format("mysql_binlog")
            .option("catalog", _CAT_JSON)
            .option("since_file", "binlog.000000")
            .option("since_offset", str(cut))
            .load(big_file_dir)
        )
        split_s = (
            spark.read.format("mysql_binlog")
            .option("catalog", _CAT_JSON)
            .option("since_file", "binlog.000000")
            .option("since_offset", str(cut))
            .option("split_bytes", "4096")
            .load(big_file_dir)
        )
        assert (
            sorted(split_s.collect()) == sorted(whole_s.collect())
        )

    def test_frame_larger_than_window_widens(self, tmp_path):
        from mysql_cdc_spark.sources.binlog_datasource import _split_file

        d = tmp_path / "giant"
        d.mkdir()
        wide = TableDef(
            "foo", "big", [(TYPE_LONG, None), (TYPE_VARCHAR, 60000)],
            table_id=3,
        )
        w = BinlogWriter(checksum="crc32")
        _txn(w, 1)
        w.write_query("foo", "BEGIN")
        w.write_table_map(wide)
        w.write_rows(WRITE_ROWS_EVENT, wide, [[9, "y" * 9000]])  # > window
        w.write_xid(500)
        _txn(w, 2)
        p = d / "binlog.000000"
        p.write_bytes(bytes(w.buf))
        slices = _split_file(str(p), _CAT, 512)
        assert slices[-1].end == len(w.buf)  # full coverage
        for a, b in zip(slices, slices[1:]):
            assert a.end == b.start
        events = []
        from mysql_cdc_spark.sources.binlog_datasource import _decode_slice

        for s in slices:
            events += _decode_slice(s, _CAT, "raise", None, None)
        ref = decode_binlog(bytes(w.buf), _CAT)
        assert [(e["op"], e["offset"]) for e in events] == [
            (e["op"], e["offset"]) for e in ref
        ]

    def test_stream_catchup_splits_middle_files(self, spark, tmp_path):
        # a deep backlog with an oversized COMPLETE file: the catch-up
        # batch splits it; the live tail file stays one ordered slice
        from mysql_cdc_spark.sources.binlog_datasource import (
            _BinlogStreamReader,
        )

        d = tmp_path / "backlog"
        d.mkdir()
        w = BinlogWriter(checksum="crc32")
        for i in range(200):
            _txn(w, i)
        w.write_rotate("binlog.000001")
        (d / "binlog.000000").write_bytes(bytes(w.buf))
        w2 = BinlogWriter(checksum="crc32")
        for i in range(200, 205):
            _txn(w2, i)
        (d / "binlog.000001").write_bytes(bytes(w2.buf))

        r = _BinlogStreamReader(
            {"path": str(d), "catalog": _CAT_JSON, "split_bytes": "4096"}
        )
        start = r.initialOffset()
        end = r.latestOffset()
        parts = r.partitions(start, end)
        mid = [p for p in parts if p.log_file == "binlog.000000"]
        tail = [p for p in parts if p.log_file == "binlog.000001"]
        assert len(mid) > 2  # oversized middle file genuinely split
        assert len(tail) == 1  # live tail: one in-order slice
        rows = _rows(b for p in parts for b in [*r.read(p)])
        e0 = decode_binlog(bytes(w.buf), _CAT)
        e1 = decode_binlog(bytes(w2.buf), _CAT)
        c0, _ = bs.envelope_columns(e0, "binlog.000000")
        c1, _ = bs.envelope_columns(e1, "binlog.000001")
        assert len(rows) == len(c0["op"]) + len(c1["op"])
        got = sorted((x["log_file"], x["offset"], x["row_idx"]) for x in rows)
        exp = sorted(
            list(zip(c0["log_file"], c0["offset"], c0["row_idx"]))
            + list(zip(c1["log_file"], c1["offset"], c1["row_idx"]))
        )
        assert got == exp


# ---------------------------------------------------------------------------
# projection pruning (columns= option → images pushdown below decode)
# ---------------------------------------------------------------------------


class TestColumnsPruning:
    def test_narrow_schema_and_parity(self, spark, fixture_dir):
        full = spark.read.format("mysql_binlog").load(fixture_dir)
        narrow = (
            spark.read.format("mysql_binlog")
            .option("columns", "log_file,seq,offset,db,tbl,op,row_idx")
            .load(fixture_dir)
        )
        assert narrow.columns == [
            "log_file", "seq", "offset", "db", "tbl", "op", "row_idx",
        ]
        assert (
            sorted(narrow.collect())
            == sorted(full.select(*narrow.columns).collect())
        )

    @pytest.mark.parametrize("img_col", ["before", "after"])
    def test_single_image_side_parity(self, spark, fixture_dir, img_col):
        # projecting ONE image side width-walks the other; values on
        # the kept side must be byte-identical to the full decode
        full = spark.read.format("mysql_binlog").load(fixture_dir)
        one = (
            spark.read.format("mysql_binlog")
            .option("columns", f"log_file,offset,row_idx,op,{img_col}")
            .load(fixture_dir)
        )
        assert (
            sorted(one.collect())
            == sorted(full.select(*one.columns).collect())
        )

    def test_pruned_scan_with_filters_and_since(self, spark, fixture_dir):
        # pruning composes with Catalyst pushFilters and bounded replay
        files = sorted(
            os.path.basename(p)
            for p in pathlib.Path(fixture_dir).glob("binlog.*")
        )
        boundary = files[len(files) // 2]
        cut = os.path.getsize(os.path.join(fixture_dir, boundary)) // 2
        cond = "db = 'foo' AND tbl = 'auto' AND op = 'write_rows'"
        full = (
            spark.read.format("mysql_binlog")
            .option("since_file", boundary)
            .option("since_offset", str(cut))
            .load(fixture_dir)
            .filter(cond)
        )
        narrow = (
            spark.read.format("mysql_binlog")
            .option("columns", "log_file,offset,row_idx,op,db,tbl")
            .option("since_file", boundary)
            .option("since_offset", str(cut))
            .load(fixture_dir)
            .filter(cond)
        )
        assert (
            sorted(narrow.collect())
            == sorted(full.select(*narrow.columns).collect())
        )

    def test_stream_pruned_parity(self, spark, fixture_dir, tmp_path):
        narrow_cols = "log_file,seq,offset,op,xid"
        stream = (
            spark.readStream.format("mysql_binlog")
            .option("columns", narrow_cols)
            .load(fixture_dir)
        )
        sink = str(tmp_path / "sink")
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        got = spark.read.parquet(sink)
        full = spark.read.format("mysql_binlog").load(fixture_dir)
        assert (
            sorted(got.collect())
            == sorted(full.select(*got.columns).collect())
        )

    def test_unknown_column_is_an_error(self, spark, fixture_dir):
        with pytest.raises(Exception, match="unknown envelope columns"):
            (
                spark.read.format("mysql_binlog")
                .option("columns", "offset,nope")
                .load(fixture_dir)
                .collect()
            )


# ---------------------------------------------------------------------------
# r17 pushFilters surface: IsNotNull → only_ops, offset/ts ranges
# ---------------------------------------------------------------------------


class TestRangeAndNotNullPushdown:
    CONDS = [
        "after IS NOT NULL",
        "before IS NOT NULL",
        "sql IS NOT NULL",
        "xid IS NOT NULL",
        "before IS NOT NULL AND after IS NOT NULL",
    ]

    @pytest.mark.parametrize("cond", CONDS)
    def test_isnotnull_transparency(self, spark, fixture_dir, cond):
        # pushed IsNotNull intersects into only_ops; the scan must
        # equal a client-side filter of the full scan EXACTLY
        full = spark.read.format("mysql_binlog").load(fixture_dir)
        pushed = (
            spark.read.format("mysql_binlog").load(fixture_dir).filter(cond)
        )
        assert (
            sorted(pushed.collect()) == sorted(full.filter(cond).collect())
        ), cond

    def test_isnotnull_routes_into_codec_skip(self, fixture_dir):
        from pyspark.sql.datasource import IsNotNull

        r = _BinlogBatchReader({"path": fixture_dir})
        kept = list(r.pushFilters([IsNotNull(("after",))]))
        assert len(kept) == 1  # partial: returned to Spark
        assert r._effective_ops() == {"write_rows", "update_rows"}
        r2 = _BinlogBatchReader({"path": fixture_dir})
        list(r2.pushFilters([IsNotNull(("xid",))]))
        assert r2._effective_ops() == frozenset()  # no row image decodes

    def test_offset_range_transparency(self, spark, fixture_dir):
        # pick bounds that are NOT frame-aligned on purpose: the
        # straddling frame at the upper bound must still be delivered
        full = spark.read.format("mysql_binlog").load(fixture_dir)
        some = sorted(
            r.offset for r in full.select("offset").limit(500).collect()
        )
        lo, hi = some[len(some) // 4] + 3, some[3 * len(some) // 4] + 7
        for cond in (
            f"offset >= {lo}",
            f"offset <= {hi}",
            f"offset > {lo} AND offset < {hi}",
            f"offset >= {lo} AND offset <= {hi} AND op = 'write_rows'",
        ):
            pushed = (
                spark.read.format("mysql_binlog")
                .load(fixture_dir).filter(cond)
            )
            assert (
                sorted(pushed.collect())
                == sorted(full.filter(cond).collect())
            ), cond

    def test_ts_range_transparency_and_file_prune(self, spark, fixture_dir):
        # fixture ts = event_id (monotone across the rotated sequence),
        # so the file-level prune assumption holds by construction
        full = spark.read.format("mysql_binlog").load(fixture_dir)
        tmax = full.agg({"ts": "max"}).collect()[0][0]
        lo, hi = tmax // 3, 2 * tmax // 3
        for cond in (
            f"ts >= {lo}",
            f"ts <= {hi}",
            f"ts >= {lo} AND ts <= {hi}",
        ):
            pushed = (
                spark.read.format("mysql_binlog")
                .load(fixture_dir).filter(cond)
            )
            assert (
                sorted(pushed.collect())
                == sorted(full.filter(cond).collect())
            ), cond
            nofp = (
                spark.read.format("mysql_binlog")
                .option("ts_file_pruning", "false")
                .load(fixture_dir).filter(cond)
            )
            assert (
                sorted(nofp.collect())
                == sorted(full.filter(cond).collect())
            ), cond

    def test_ts_prune_drops_files_driver_side(self, fixture_dir):
        from pyspark.sql.datasource import LessThanOrEqual

        files = sorted(pathlib.Path(fixture_dir).glob("binlog.*"))
        assert len(files) >= 3
        # upper bound below the LAST file's first event timestamp must
        # prune that file from the plan entirely
        from mysql_cdc_spark.sources.binlog_datasource import _file_head_ts

        last_first = _file_head_ts(str(files[-1]))[0]
        r = _BinlogBatchReader({"path": fixture_dir})
        list(r.pushFilters([LessThanOrEqual(("ts",), last_first - 1)]))
        parts = r.partitions()
        names = {os.path.basename(p) for p in _part_paths(parts)}
        assert os.path.basename(str(files[-1])) not in names
        assert os.path.basename(str(files[0])) in names

    def test_offset_hi_bounds_the_read(self, spark, fixture_dir):
        # composition: offset hi + columns pruning + op pushdown
        full = spark.read.format("mysql_binlog").load(fixture_dir)
        cond = "offset <= 2000 AND op = 'write_rows'"
        narrow = (
            spark.read.format("mysql_binlog")
            .option("columns", "log_file,offset,op,row_idx")
            .load(fixture_dir)
            .filter(cond)
        )
        assert (
            sorted(narrow.collect())
            == sorted(full.filter(cond).select(*narrow.columns).collect())
        )


# ---------------------------------------------------------------------------
# r17: GTID-set resume (since_gtid=)
# ---------------------------------------------------------------------------


class TestSinceGtid:
    SID = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    SID2 = "aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee"

    def test_gtid_set_algebra(self):
        from mysql_cdc_spark.sources.binlog_codec import (
            gtid_in_set, gtid_set_subset, parse_gtid_set,
        )

        g = parse_gtid_set(f"{self.SID}:1-5:7:9-12,{self.SID2}:3")
        assert g[self.SID] == [(1, 5), (7, 7), (9, 12)]
        assert gtid_in_set(self.SID, 5, g) and gtid_in_set(self.SID, 7, g)
        assert not gtid_in_set(self.SID, 6, g)
        assert not gtid_in_set(self.SID2, 4, g)
        # adjacent/overlapping intervals merge
        assert parse_gtid_set(f"{self.SID}:1-3:4-6:6-8")[self.SID] == [(1, 8)]
        sub = parse_gtid_set(f"{self.SID}:2-4:10")
        assert gtid_set_subset(sub, g)
        assert not gtid_set_subset(g, sub)
        assert gtid_set_subset({}, g) and gtid_set_subset({}, {})
        assert not gtid_set_subset(sub, {})

    def _gtid_log(self, d: str, n: int = 12, rotate: int = 4) -> None:
        """n transactions, PREVIOUS_GTIDS at every head, rotation every
        `rotate` txns.  gno = i + 1."""
        w = None
        fname = None
        for i in range(n):
            fno = i // rotate
            name = f"binlog.{fno:06d}"
            if name != fname:
                if w is not None:
                    w.write_rotate(name)
                    with open(f"{d}/{fname}", "wb") as fh:
                        fh.write(bytes(w.buf))
                fname = name
                w = BinlogWriter(checksum="crc32")
                w.write_previous_gtids(
                    {self.SID: [(1, i)]} if i else {}
                )
            w.write_gtid(self.SID, i + 1)
            _txn(w, i)
        with open(f"{d}/{fname}", "wb") as fh:
            fh.write(bytes(w.buf))

    def test_resolution_skips_files_and_lands_on_gtid(self, tmp_path):
        from mysql_cdc_spark.sources.binlog_codec import parse_gtid_set
        from mysql_cdc_spark.sources.binlog_source import (
            _peek_previous_gtids, resolve_gtid_resume,
        )

        d = str(tmp_path)
        self._gtid_log(d)
        assert _peek_previous_gtids(f"{d}/binlog.000000") == {}
        assert _peek_previous_gtids(f"{d}/binlog.000001") == {
            self.SID: [(1, 4)]
        }
        # applied 1-6 → resume inside file 1 (its snapshot 1-4 ⊆ set,
        # file 2's snapshot 1-8 is not) at the gtid frame of gno 7
        f, pos = resolve_gtid_resume(d, parse_gtid_set(f"{self.SID}:1-6"))
        assert f == "binlog.000001"
        evs = decode_binlog(
            open(f"{d}/{f}", "rb").read(), _CAT, on_error="quarantine"
        )
        landed = next(e for e in evs if e["offset"] == pos)
        assert landed["op"] == "gtid" and landed["gtid"].endswith(":7")
        # everything applied → resume past the end of the last file
        f2, pos2 = resolve_gtid_resume(d, parse_gtid_set(f"{self.SID}:1-12"))
        assert f2 == "binlog.000002"
        assert pos2 == os.path.getsize(f"{d}/{f2}")
        # gaps in the executed set resume at the FIRST unapplied txn
        f3, pos3 = resolve_gtid_resume(
            d, parse_gtid_set(f"{self.SID}:1-2:4-12")
        )
        assert f3 == "binlog.000000"
        evs0 = decode_binlog(
            open(f"{d}/{f3}", "rb").read(), _CAT, on_error="quarantine"
        )
        landed3 = next(e for e in evs0 if e["offset"] == pos3)
        assert landed3["gtid"].endswith(":3")

    def test_purged_history_raises(self, tmp_path):
        from mysql_cdc_spark.sources.binlog_codec import parse_gtid_set
        from mysql_cdc_spark.sources.binlog_source import (
            resolve_gtid_resume,
        )

        d = str(tmp_path)
        self._gtid_log(d)
        os.unlink(f"{d}/binlog.000000")  # purge the first log
        # applied 1-2 needs gno 3-4 from the purged file
        with pytest.raises(ValueError, match="purged"):
            resolve_gtid_resume(d, parse_gtid_set(f"{self.SID}:1-2"))

    def test_snapshotless_log_degrades_to_full_walk(self, tmp_path):
        from mysql_cdc_spark.sources.binlog_codec import parse_gtid_set
        from mysql_cdc_spark.sources.binlog_source import (
            resolve_gtid_resume,
        )

        d = str(tmp_path)
        w = BinlogWriter(checksum="crc32")
        for i in range(5):
            w.write_gtid(self.SID, i + 1)
            _txn(w, i)
        with open(f"{d}/binlog.000000", "wb") as fh:
            fh.write(bytes(w.buf))
        f, pos = resolve_gtid_resume(d, parse_gtid_set(f"{self.SID}:1-3"))
        assert f == "binlog.000000"
        evs = decode_binlog(open(f"{d}/{f}", "rb").read(), _CAT)
        landed = next(e for e in evs if e["offset"] == pos)
        assert landed["op"] == "gtid" and landed["gtid"].endswith(":4")

    def test_batch_since_gtid_equals_since_file_pos(self, spark, tmp_path):
        d = str(tmp_path / "g")
        os.makedirs(d)
        self._gtid_log(d)
        register_binlog_source(spark)
        from mysql_cdc_spark.sources.binlog_codec import parse_gtid_set
        from mysql_cdc_spark.sources.binlog_source import (
            resolve_gtid_resume,
        )

        f, pos = resolve_gtid_resume(d, parse_gtid_set(f"{self.SID}:1-6"))
        by_gtid = (
            spark.read.format("mysql_binlog")
            .option("catalog", _CAT_JSON)
            .option("since_gtid", f"{self.SID}:1-6")
            .load(d)
        )
        by_pos = (
            spark.read.format("mysql_binlog")
            .option("catalog", _CAT_JSON)
            .option("since_file", f)
            .option("since_offset", str(pos))
            .load(d)
        )
        got = sorted(by_gtid.collect())
        assert got == sorted(by_pos.collect())
        assert len(got) > 0
        # first delivered row is the unapplied transaction's GTID
        first = min(got, key=lambda r: (r.log_file, r.offset))
        assert first.op == "gtid" and first.sql.endswith(":7")
        with pytest.raises(Exception, match="mutually exclusive"):
            (
                spark.read.format("mysql_binlog")
                .option("since_gtid", f"{self.SID}:1-6")
                .option("since_file", f)
                .load(d)
                .collect()
            )

    def test_stream_since_gtid_initial_offset(self, tmp_path):
        d = str(tmp_path / "gs")
        os.makedirs(d)
        self._gtid_log(d)
        r = _BinlogStreamReader(
            {"path": d, "catalog": _CAT_JSON,
             "since_gtid": f"{self.SID}:1-6"}
        )
        start = r.initialOffset()
        assert start["file"] == "binlog.000001"
        end = r.latestOffset()
        rows = _rows(b for p in r.partitions(start, end) for b in [*r.read(p)])
        ops = [x["sql"] for x in rows if x["op"] == "gtid"]
        assert ops and ops[0].endswith(":7")  # resumes at gno 7
        assert all(int(g.rsplit(":", 1)[1]) >= 7 for g in ops)

    def test_stream_catchup_splits_the_end_file_too(self, tmp_path):
        # r17 (r16 VERDICT #6): the first catch-up trigger's END file
        # used to stay one serial slice; with split_bytes it now fans
        # out like the batch path, with file-global seq
        from mysql_cdc_spark.sources.binlog_datasource import (
            _BinlogStreamReader,
        )

        d = tmp_path / "bigend"
        d.mkdir()
        w = BinlogWriter(checksum="crc32")
        for i in range(300):
            _txn(w, i)
        (d / "binlog.000000").write_bytes(bytes(w.buf))

        r = _BinlogStreamReader(
            {"path": str(d), "catalog": _CAT_JSON, "split_bytes": "4096"}
        )
        start = r.initialOffset()
        end = r.latestOffset()
        parts = r.partitions(start, end)
        assert len(parts) > 4  # the single backlog file genuinely split
        for a, b in zip(parts, parts[1:]):
            assert a.end == b.start  # contiguous frame-aligned tiling
        rows = _rows(b for p in parts for b in [*r.read(p)])
        ref = decode_binlog(bytes(w.buf), _CAT)
        cols, _ = bs.envelope_columns(ref, "binlog.000000", frame_seq=True)
        assert len(rows) == len(cols["op"])
        # seq is file-global across slices — byte-identical to a
        # whole-file decode, not slice-local
        got = sorted((x["offset"], x["row_idx"], x["seq"]) for x in rows)
        want = sorted(zip(cols["offset"], cols["row_idx"], cols["seq"]))
        assert got == want

    def test_gtid_set_add_and_text(self):
        from mysql_cdc_spark.sources.binlog_codec import (
            gtid_set_add, gtid_set_text, parse_gtid_set,
        )

        g: dict = {}
        for gno in (3, 1, 2, 7, 5, 6, 10):
            gtid_set_add(g, self.SID, gno)
        assert g[self.SID] == [(1, 3), (5, 7), (10, 10)]
        gtid_set_add(g, self.SID, 4)  # bridges (1,3) and (5,7)
        assert g[self.SID] == [(1, 7), (10, 10)]
        gtid_set_add(g, self.SID, 6)  # member: no-op
        assert g[self.SID] == [(1, 7), (10, 10)]
        text = gtid_set_text(g)
        assert text == f"{self.SID}:1-7:10"
        assert parse_gtid_set(text) == g

    def test_executed_set_round_trips_into_resume(self, tmp_path):
        # the handoff: scan a directory, record its executed set,
        # resume with it → nothing replays (resume lands at log end);
        # scan HALF, record, resume → exactly the other half
        from mysql_cdc_spark.sources.binlog_codec import gtid_set_text
        from mysql_cdc_spark.sources.binlog_source import (
            executed_gtid_set, resolve_gtid_resume,
        )

        d = str(tmp_path)
        self._gtid_log(d)  # 12 txns, snapshots at heads, rotate 4
        full = executed_gtid_set(d)
        assert full == {self.SID: [(1, 12)]}
        f, pos = resolve_gtid_resume(d, full)
        assert f == "binlog.000002" and pos == os.path.getsize(f"{d}/{f}")

        # consumer that has applied only the first two files' txns
        import shutil

        half = str(tmp_path / "half")
        os.makedirs(half)
        for n in ("binlog.000000", "binlog.000001"):
            shutil.copy(f"{d}/{n}", f"{half}/{n}")
        applied = executed_gtid_set(half)
        assert applied == {self.SID: [(1, 8)]}
        f2, pos2 = resolve_gtid_resume(d, applied)
        assert f2 == "binlog.000002"
        evs = decode_binlog(
            open(f"{d}/{f2}", "rb").read(), _CAT, on_error="quarantine"
        )
        landed = next(e for e in evs if e["offset"] == pos2)
        assert landed["op"] == "gtid" and landed["gtid"].endswith(":9")
        assert gtid_set_text(applied) == f"{self.SID}:1-8"


class TestPacking:
    def test_small_files_pack_and_parity(self, spark, fixture_dir):
        reader = _BinlogBatchReader({"path": fixture_dir})
        parts = reader.partitions()
        n_files = len(list(pathlib.Path(fixture_dir).glob("binlog.*")))
        assert len(parts) < n_files  # genuinely packed
        unpacked = _BinlogBatchReader(
            {"path": fixture_dir, "pack_bytes": "0"}
        ).partitions()
        assert len(unpacked) == n_files
        packed_df = (
            spark.read.format("mysql_binlog").load(fixture_dir)
        )
        plain_df = (
            spark.read.format("mysql_binlog")
            .option("pack_bytes", "0")
            .load(fixture_dir)
        )
        assert sorted(packed_df.collect()) == sorted(plain_df.collect())

    def test_pack_respects_budget_and_order(self, tmp_path):
        d = tmp_path / "many"
        d.mkdir()
        sizes = {}
        for k in range(10):
            w = BinlogWriter(checksum="crc32")
            for i in range(5):
                _txn(w, k * 5 + i)
            name = f"binlog.{k:06d}"
            (d / name).write_bytes(bytes(w.buf))
            sizes[name] = len(w.buf)
        one = sizes["binlog.000000"]
        reader = _BinlogBatchReader(
            {"path": str(d), "pack_bytes": str(one * 3)}
        )
        parts = reader.partitions()
        from mysql_cdc_spark.sources.binlog_datasource import (
            _PackedStreamPartition,
        )

        assert 3 <= len(parts) <= 5
        got = _part_paths(parts)
        assert [os.path.basename(p) for p in got] == sorted(sizes)
        for p in parts:
            if isinstance(p, _PackedStreamPartition):
                assert sum(sizes[s.log_file] for s in p.slices) <= one * 3

    def test_pack_composes_with_since_and_filters(self, spark, fixture_dir):
        files = sorted(
            os.path.basename(p)
            for p in pathlib.Path(fixture_dir).glob("binlog.*")
        )
        boundary = files[len(files) // 2]
        cut = os.path.getsize(os.path.join(fixture_dir, boundary)) // 2
        cond = "db = 'foo' AND op = 'write_rows'"
        a = (
            spark.read.format("mysql_binlog")
            .option("since_file", boundary)
            .option("since_offset", str(cut))
            .load(fixture_dir)
            .filter(cond)
        )
        b = (
            spark.read.format("mysql_binlog")
            .option("pack_bytes", "0")
            .option("since_file", boundary)
            .option("since_offset", str(cut))
            .load(fixture_dir)
            .filter(cond)
        )
        assert sorted(a.collect()) == sorted(b.collect())


class TestStreamPacking:
    def test_deep_backlog_packs_and_parity(self, tmp_path):
        from mysql_cdc_spark.sources.binlog_datasource import (
            _PackedStreamPartition,
        )

        d = tmp_path / "deep"
        d.mkdir()
        writers = []
        for k in range(30):
            w = BinlogWriter(checksum="crc32")
            for i in range(3):
                _txn(w, k * 3 + i)
            if k < 29:
                w.write_rotate(f"binlog.{k + 1:06d}")
            (d / f"binlog.{k:06d}").write_bytes(bytes(w.buf))
            writers.append(w)

        # explicit small pack budget so the tiny fixture genuinely packs
        one = os.path.getsize(d / "binlog.000000")
        r = _BinlogStreamReader(
            {"path": str(d), "catalog": _CAT_JSON,
             "pack_bytes": str(one * 8)}
        )
        start = r.initialOffset()
        end = r.latestOffset()
        parts = r.partitions(start, end)
        assert any(isinstance(p, _PackedStreamPartition) for p in parts)
        assert len(parts) < 30  # genuinely fewer tasks than files
        rows = _rows(b for p in parts for b in [*r.read(p)])
        expect = 0
        for k, w in enumerate(writers):
            evs = decode_binlog(bytes(w.buf), _CAT)
            cols, _ = bs.envelope_columns(evs, f"binlog.{k:06d}")
            expect += len(cols["op"])
        assert len(rows) == expect
        # identity intact per file
        assert len({(x["log_file"], x["offset"], x["row_idx"]) for x in rows}) == expect

    def test_mid_file_resume_slice_never_packs(self, live_dir):
        from mysql_cdc_spark.sources.binlog_datasource import (
            _PackedStreamPartition, _StreamPartition,
        )

        w = BinlogWriter(checksum="crc32")
        _txn(w, 0)
        with open(f"{live_dir}/binlog.000000", "wb") as fh:
            fh.write(bytes(w.buf))
        r = _BinlogStreamReader(
            {"path": live_dir, "catalog": _CAT_JSON, "pack_bytes": "1000000"}
        )
        r.initialOffset()
        mid = r.latestOffset()
        r.commit(mid)
        for i in range(1, 4):
            _txn(w, i)
        with open(f"{live_dir}/binlog.000000", "wb") as fh:
            fh.write(bytes(w.buf))
        end = r.latestOffset()
        parts = r.partitions(mid, end)
        assert len(parts) == 1
        assert isinstance(parts[0], _StreamPartition)
        assert not isinstance(parts[0], _PackedStreamPartition)
        assert parts[0].start == mid["pos"]  # mid-file slice standalone


class TestBinaryFileRoutePruning:
    """read_binlog_envelope (the binaryFile / object-store protocol)
    carries the same images/columns pruning as the DataSource — the
    two scan routes must agree narrowed exactly as they do full."""

    def test_columns_parity_with_datasource(self, spark, fixture_dir):
        cols = ["log_file", "offset", "db", "tbl", "op", "row_idx"]
        bf = bs.read_binlog_envelope(spark, fixture_dir, columns=cols)
        assert bf.columns == cols
        ds = (
            spark.read.format("mysql_binlog")
            .option("columns", ",".join(cols))
            .load(fixture_dir)
        )
        assert sorted(bf.collect()) == sorted(ds.collect())

    def test_single_image_side(self, spark, fixture_dir):
        cols = ["log_file", "offset", "op", "row_idx", "after"]
        bf = bs.read_binlog_envelope(spark, fixture_dir, columns=cols)
        full = bs.read_binlog_envelope(spark, fixture_dir)
        assert (
            sorted(bf.collect())
            == sorted(full.select(*cols).collect())
        )

    def test_since_requires_cut_columns(self, spark, fixture_dir):
        with pytest.raises(ValueError, match="must include log_file"):
            bs.read_binlog_envelope(
                spark, fixture_dir,
                since=("binlog.000000", 4), columns=["op"],
            )
        ok = bs.read_binlog_envelope(
            spark, fixture_dir,
            since=("binlog.000001", 4),
            columns=["log_file", "offset", "op"],
        )
        assert ok.count() > 0


class TestReviewRegressions:
    """r17 review findings, pinned."""

    def test_offset_bound_below_magic_is_empty_not_error(
        self, spark, fixture_dir
    ):
        for cond in ("offset = 0", "offset <= 2", "offset < 3"):
            got = (
                spark.read.format("mysql_binlog")
                .load(fixture_dir)
                .filter(cond)
                .collect()
            )
            assert got == [], cond  # no frame starts below the magic

    def test_ts_hi_prune_keeps_artifact_rows(self, spark, tmp_path):
        # previous_gtids rows surface in the envelope and are often
        # written with bookkeeping ts (0 here); an upper-bound prune
        # keyed on payload ts alone would drop the file — and with it
        # rows the re-filter keeps.  Transparency must hold.
        d = tmp_path / "art"
        d.mkdir()
        SID = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
        w = BinlogWriter(checksum="crc32")
        w.write_previous_gtids({SID: [(1, 3)]})  # ts = 0
        for i in range(3):
            w.write_query("foo", "BEGIN", ts=5000 + i)
            w.write_table_map(_T, ts=5000 + i)
            w.write_rows(WRITE_ROWS_EVENT, _T, [[i, f"v{i}"]], ts=5000 + i)
            w.write_xid(100 + i, ts=5000 + i)
        (d / "binlog.000000").write_bytes(bytes(w.buf))
        register_binlog_source(spark)
        cond = "ts <= 100"  # below every payload ts, above the artifact's
        pruned = (
            spark.read.format("mysql_binlog")
            .option("catalog", _CAT_JSON)
            .load(str(d)).filter(cond).collect()
        )
        plain = (
            spark.read.format("mysql_binlog")
            .option("catalog", _CAT_JSON)
            .option("ts_file_pruning", "false")
            .load(str(d)).filter(cond).collect()
        )
        assert sorted(pruned) == sorted(plain)
        assert len(pruned) == 1 and pruned[0].op == "previous_gtids"

    def test_isnotnull_sql_does_not_hide_quarantine_rows(
        self, spark, tmp_path
    ):
        # checksum-FREE log with a corrupt row body: quarantine rows
        # carry the reason in sql, so 'sql IS NOT NULL' must return
        # them — the IsNotNull→only_ops mapping is disabled for
        # sql/xid under on_error=quarantine
        d = tmp_path / "q"
        d.mkdir()
        w = BinlogWriter()  # no CRC framing: body corruption is real
        _txn(w, 0)
        data = bytearray(w.buf)
        ref = decode_binlog(bytes(w.buf), _CAT)
        poison = next(e for e in ref if e["op"] == "write_rows")
        # corrupt the declared column-count varint inside the body
        data[poison["offset"] + 19 + 8] = 0xC7
        (d / "binlog.000000").write_bytes(bytes(data))
        register_binlog_source(spark)
        rows = (
            spark.read.format("mysql_binlog")
            .option("catalog", _CAT_JSON)
            .option("on_error", "quarantine")
            .load(str(d))
            .filter("sql IS NOT NULL")
            .collect()
        )
        assert any(r.op == "quarantine" for r in rows), rows


class TestStreamPackBudget:
    """r17 VERDICT #6: max_bytes_per_batch and pack_bytes now BOTH
    shape catch-up triggers — prove the interaction: a capped trigger
    packs only within its own budgeted extent, a trigger over zero
    files never deadlocks, and budget ≥ backlog drains in one packed
    trigger (the x100 17.1 s drain shape; ds_bench's
    datasource_stream / datasource_stream_capped rows carry the
    walls)."""

    def _files(self, d: str, n: int, txns: int = 4) -> list[bytes]:
        blobs = []
        for f in range(n):
            w = BinlogWriter(checksum="crc32")
            for i in range(txns):
                _txn(w, f * txns + i)
            if f < n - 1:
                w.write_rotate(f"binlog.{f + 1:06d}")
            blob = bytes(w.buf)
            with open(f"{d}/binlog.{f:06d}", "wb") as fh:
                fh.write(blob)
            blobs.append(blob)
        return blobs

    def test_zero_files_trigger_never_deadlocks(self, tmp_path):
        d = str(tmp_path / "empty")
        os.makedirs(d)
        r = _BinlogStreamReader(
            {"path": d, "catalog": _CAT_JSON, "max_bytes_per_batch": "1024"}
        )
        cur = r.initialOffset()
        for _ in range(3):  # repeated empty triggers stay no-ops
            nxt = r.latestOffset()
            assert nxt == cur or nxt.get("file", "") == ""
            assert r.partitions(cur, nxt) == []
            cur = nxt

    def test_budget_ge_backlog_single_packed_trigger(self, tmp_path):
        """Uncapped (first-walk) catch-up over many small files: ONE
        trigger whose whole-file slices bin-pack — fewer partitions
        than files, full parity with the batch decode."""
        d = str(tmp_path / "bulk")
        os.makedirs(d)
        n_files = 12
        blobs = self._files(d, n_files)
        r = _BinlogStreamReader(
            {"path": d, "catalog": _CAT_JSON, "pack_bytes": "4096"}
        )
        start = r.initialOffset()
        end = r.latestOffset()
        assert end["file"] == f"binlog.{n_files - 1:06d}"  # one trigger
        parts = r.partitions(start, end)
        assert len(parts) < n_files, "small files did not pack"
        rows = _rows(b for p in parts for b in [*r.read(p)])
        want = sum(
            len(bs.envelope_columns(decode_binlog(blob, _CAT), "f")[0]["op"])
            for blob in blobs
        )
        assert len(rows) == want

    def test_capped_triggers_pack_within_budget_and_drain(self, tmp_path):
        """Steady-state capped triggers over a 12-file backlog: every
        trigger's packed partitions stay inside THAT trigger's offset
        extent, progress is monotone (no stall, no repeat), and the
        union of all triggers equals the full decode exactly once."""
        from mysql_cdc_spark.sources.binlog_datasource import (
            _PackedStreamPartition,
            _StreamPartition,
        )

        d = str(tmp_path / "capped")
        os.makedirs(d)
        # seed one tiny file so the UNCAPPED first walk consumes little
        w0 = BinlogWriter(checksum="crc32")
        _txn(w0, 0)
        w0.write_rotate("binlog.000001")
        with open(f"{d}/binlog.000000", "wb") as fh:
            fh.write(bytes(w0.buf))
        budget = 4096
        r = _BinlogStreamReader(
            {
                "path": d,
                "catalog": _CAT_JSON,
                "max_bytes_per_batch": str(budget),
                "pack_bytes": "2048",
            }
        )
        cur = r.initialOffset()
        cur = r.latestOffset()  # uncapped first walk: the seed file
        r.commit(cur)
        # now the backlog lands: 12 more small files
        blobs = []
        for f in range(1, 13):
            w = BinlogWriter(checksum="crc32")
            for i in range(4):
                _txn(w, 100 * f + i)
            if f < 12:
                w.write_rotate(f"binlog.{f + 1:06d}")
            blob = bytes(w.buf)
            with open(f"{d}/binlog.{f:06d}", "wb") as fh:
                fh.write(blob)
            blobs.append(blob)

        rows: list[dict] = []
        triggers = 0
        saw_packed = False
        while triggers < 100:
            nxt = r.latestOffset()
            if (nxt["file"], nxt["pos"]) == (cur["file"], cur["pos"]):
                break
            # monotone progress: (file, pos) strictly advances
            assert (nxt["file"], nxt["pos"]) > (cur["file"], cur["pos"])
            parts = r.partitions(cur, nxt)
            for p in parts:
                members = (
                    p.slices if isinstance(p, _PackedStreamPartition) else [p]
                )
                if isinstance(p, _PackedStreamPartition):
                    saw_packed = True
                for m in members:
                    assert isinstance(m, _StreamPartition)
                    # every slice lies inside THIS trigger's extent
                    assert cur["file"] <= m.log_file <= nxt["file"]
                    if m.log_file == nxt["file"]:
                        assert m.end <= nxt["pos"]
                    if m.log_file == cur["file"]:
                        assert m.start >= cur["pos"]
            rows += _rows(b for p in parts for b in [*r.read(p)])
            r.commit(nxt)
            cur = nxt
            triggers += 1
        assert triggers > 1, "budget did not split the catch-up"
        assert saw_packed, "capped catch-up never packed small files"
        want = sum(
            len(bs.envelope_columns(decode_binlog(b, _CAT), "f")[0]["op"])
            for b in blobs
        )
        assert len(rows) == want, "capped drain lost or duplicated frames"


class TestSchemaEvoRestart:
    """r17 VERDICT #7: schema evolution ACROSS a stream restart — the
    checkpoint is written pre-ALTER (or, worse, between the new
    TABLE_MAP and its first row event); the resumed stream must decode
    post-ALTER rows with the new shape.  Both maps carry on-wire
    COLUMN_NAME TLVs (binlog_row_metadata=FULL), so names rebind with
    no catalog anywhere."""

    _NARROW = TableDef(
        "lab", "acct", [(TYPE_LONG, None), (TYPE_VARCHAR, 50)],
        table_id=7, column_names=["id", "val"],
    )
    _WIDE = TableDef(
        "lab", "acct",
        [(TYPE_LONG, None), (TYPE_VARCHAR, 50), (TYPE_LONG, None)],
        table_id=8, column_names=["id", "val", "score"],
    )

    def test_restart_after_alter_full_stack(self, spark, tmp_path):
        """Spark-runtime restart: checkpoint after the narrow half,
        append ALTER + wider map + rows, resume the same checkpoint —
        the post-ALTER rows arrive with the 3-column image."""
        src, cp, sink = (
            str(tmp_path / "src"), str(tmp_path / "cp"), str(tmp_path / "sink")
        )
        os.makedirs(src)
        w = BinlogWriter(checksum="crc32")
        for i in range(3):
            w.write_query("lab", "BEGIN")
            w.write_table_map(self._NARROW)
            w.write_rows(WRITE_ROWS_EVENT, self._NARROW, [[i, f"v{i}"]])
            w.write_xid(100 + i)
        with open(f"{src}/binlog.000000", "wb") as fh:
            fh.write(bytes(w.buf))
        register_binlog_source(spark)

        def drain():
            q = (
                spark.readStream.format("mysql_binlog")
                .option("catalog", "{}")
                .load(src)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(300)
            assert q.exception() is None

        drain()  # checkpoint now sits at the pre-ALTER head

        w.write_query("lab", "ALTER TABLE lab.acct ADD COLUMN score INT")
        w.write_query("lab", "BEGIN")
        w.write_table_map(self._WIDE)
        w.write_rows(WRITE_ROWS_EVENT, self._WIDE, [[10, "v10", 77]])
        w.write_xid(200)
        with open(f"{src}/binlog.000000", "wb") as fh:
            fh.write(bytes(w.buf))
        drain()  # resume post-ALTER on the same checkpoint

        got = spark.read.parquet(sink)
        pre = got.filter("op = 'write_rows' AND size(after) = 2")
        post = got.filter("op = 'write_rows' AND size(after) = 3")
        assert pre.count() == 3
        rows = post.collect()
        assert len(rows) == 1
        after = dict(rows[0]["after"])
        assert after == {"id": "10", "val": "v10", "score": "77"}

    def test_checkpoint_between_new_map_and_rows(self, tmp_path):
        """The sharpest window: the torn-tail holdback commits an
        offset AFTER the post-ALTER TABLE_MAP but BEFORE its first row
        event; the driver then restarts (fresh reader, prefix_replay).
        The replayed slice must rebuild state from the file head —
        BOTH maps — and decode the row with the wide shape."""
        d = str(tmp_path / "live")
        os.makedirs(d)
        w = BinlogWriter(checksum="crc32")
        w.write_query("lab", "BEGIN")
        w.write_table_map(self._NARROW)
        w.write_rows(WRITE_ROWS_EVENT, self._NARROW, [[1, "v1"]])
        w.write_xid(100)
        w.write_query("lab", "ALTER TABLE lab.acct ADD COLUMN score INT")
        w.write_table_map(self._WIDE)
        map_end = len(w.buf)
        w.write_rows(WRITE_ROWS_EVENT, self._WIDE, [[2, "v2", 42]])
        w.write_xid(200)
        full = bytes(w.buf)
        # visible bytes end mid-row-event: holdback stops at map_end
        with open(f"{d}/binlog.000000", "wb") as fh:
            fh.write(full[: map_end + 10])

        r = _BinlogStreamReader({"path": d, "catalog": "{}"})
        start = r.initialOffset()
        end1 = r.latestOffset()
        assert end1["pos"] == map_end, "holdback should stop after the map"
        rows1 = _rows(b for p in r.partitions(start, end1) for b in [*r.read(p)])
        r.commit(end1)

        # the rest of the row lands; the DRIVER RESTARTS (fresh reader)
        with open(f"{d}/binlog.000000", "wb") as fh:
            fh.write(full)
        r2 = _BinlogStreamReader({"path": d, "catalog": "{}"})
        end2 = r2.latestOffset()
        parts = r2.partitions(end1, end2)
        assert any(p.prefix_replay for p in parts)
        rows2 = _rows(b for p in parts for b in [*r2.read(p)])

        wide_rows = [x for x in rows2 if x["op"] == "write_rows"]
        assert len(wide_rows) == 1
        assert dict(wide_rows[0]["after"]) == {
            "id": "2", "val": "v2", "score": "42"
        }
        # nothing duplicated across the restart boundary
        pre_ops = [x["op"] for x in rows1]
        assert pre_ops.count("write_rows") == 1  # the narrow row only


class TestPlanFastForward:
    """r18: budgeted planning walks fast-forward fully-covered ROTATED
    files — the state-only walk is O(boundary files), not O(backlog)
    (measured x100: 100 s of driver-side walks over a 2 GB burst
    collapse to the boundary-file walks).  The last file and mid-file
    budget cuts keep the walk (torn-tail hold-back, frame alignment,
    plan-time raise)."""

    def _backlog(self, d: str, n_files: int = 5, txns: int = 6):
        for f in range(n_files):
            w = BinlogWriter(checksum="crc32")
            for i in range(txns):
                _txn(w, f * txns + i)
            if f < n_files - 1:
                w.write_rotate(f"binlog.{f + 1:06d}")
            with open(f"{d}/binlog.{f:06d}", "wb") as fh:
                fh.write(bytes(w.buf))

    def test_rotated_files_not_walked_under_budget(self, tmp_path):
        from unittest import mock

        from mysql_cdc_spark.sources import binlog_datasource as ds

        d = str(tmp_path / "bl")
        os.makedirs(d)
        # seed so the first (uncapped, anchor-at-tail) walk is tiny
        w0 = BinlogWriter(checksum="crc32")
        _txn(w0, 999)
        w0.write_rotate("binlog.000001")
        with open(f"{d}/binlog.000000", "wb") as fh:
            fh.write(bytes(w0.buf))
        r = _BinlogStreamReader(
            {"path": d, "catalog": _CAT_JSON, "max_bytes_per_batch": "1000000"}
        )
        cur = r.initialOffset()
        cur = r.latestOffset()
        r.commit(cur)
        # the backlog lands: 5 files, all inside one budgeted trigger
        self._backlog_offset = 1
        for f in range(1, 6):
            w = BinlogWriter(checksum="crc32")
            for i in range(4):
                _txn(w, 100 * f + i)
            if f < 5:
                w.write_rotate(f"binlog.{f + 1:06d}")
            with open(f"{d}/binlog.{f:06d}", "wb") as fh:
                fh.write(bytes(w.buf))

        calls: list[int] = []
        real = ds.decode_binlog_incremental

        def counting(*a, **k):
            calls.append(len(a[0]))
            return real(*a, **k)

        with mock.patch.object(ds, "decode_binlog_incremental", counting):
            nxt = r.latestOffset()
        assert nxt["file"] == "binlog.000005"
        # only the LAST file (torn-tail candidate) was walked — the
        # four rotated backlog files fast-forwarded without a decode
        assert len(calls) == 1, f"planner walked {len(calls)} slices"

        # delivery unaffected: the budgeted trigger's partitions decode
        # the fast-forwarded files executor-side, rows exactly once
        rows = _rows(b for p in r.partitions(cur, nxt) for b in [*r.read(p)])
        want = 0
        for f in range(1, 6):
            w = BinlogWriter(checksum="crc32")
            for i in range(4):
                _txn(w, 100 * f + i)
            if f < 5:
                w.write_rotate(f"binlog.{f + 1:06d}")
            want += len(
                bs.envelope_columns(decode_binlog(bytes(w.buf), _CAT), "f")[0]["op"]
            )
        assert len(rows) == want

    def test_corrupt_rotated_file_surfaces_executor_side(self, tmp_path):
        """Behavioral alignment with the first batch: raise-mode
        corruption inside a fast-forwarded ROTATED file is an executor
        error (read), not a planning error; the mid-file/last-file walk
        keeps the plan-time raise."""
        d = str(tmp_path / "bl")
        os.makedirs(d)
        w0 = BinlogWriter(checksum="crc32")
        _txn(w0, 0)
        w0.write_rotate("binlog.000001")
        with open(f"{d}/binlog.000000", "wb") as fh:
            fh.write(bytes(w0.buf))
        r = _BinlogStreamReader(
            {"path": d, "catalog": _CAT_JSON, "max_bytes_per_batch": "1000000"}
        )
        cur = r.initialOffset()
        cur = r.latestOffset()
        r.commit(cur)

        w1 = BinlogWriter(checksum="crc32")
        for i in range(3):
            _txn(w1, 10 + i)
        data = bytearray(w1.buf)
        ref = decode_binlog(bytes(w1.buf), _CAT)
        poison = next(e for e in ref if e["op"] == "write_rows")
        data[poison["offset"] + 21] ^= 0xFF
        w1.write_rotate("binlog.000002")  # unused; keep bytes pre-rotate
        with open(f"{d}/binlog.000001", "wb") as fh:
            fh.write(bytes(data))
        with open(f"{d}/binlog.000001", "ab") as fh:
            fh.write(bytes(w1.buf[len(data):]))
        w2 = BinlogWriter(checksum="crc32")
        _txn(w2, 99)
        with open(f"{d}/binlog.000002", "wb") as fh:
            fh.write(bytes(w2.buf))

        nxt = r.latestOffset()  # planning fast-forwards the corrupt file
        assert nxt["file"] == "binlog.000002"
        with pytest.raises(ValueError, match="CRC32|corrupt"):
            for p in r.partitions(cur, nxt):
                [*r.read(p)]
