"""StateTable (operators/state_table.py): the CDC→lakehouse MERGE sink.

Covers the batch-level contract the SIGKILL test then proves across a
real crash: idempotent replay, delete/NULL MERGE semantics (same as
apply_changes), incremental == full-replay equivalence over forced
micro-batches, and the zero-Exchange shape of the merge join's
snapshot side (the bucketed-layout claim)."""

from __future__ import annotations

import pathlib
import uuid

import pytest
from pyspark.sql import functions as F

from mysql_cdc_spark.operators.aggregates import latest_state
from mysql_cdc_spark.operators.state_table import StateTable
from mysql_cdc_spark.sources.events_cdc import changes, rows_delta_type


@pytest.fixture()
def rows_dt(spark, sf_dir):
    return rows_delta_type(changes(spark, sf_dir))


def _mk_state(tmp_path) -> StateTable:
    return StateTable(str(tmp_path / "state"), f"st_{uuid.uuid4().hex[:8]}", n_buckets=4)


def _as_set(df):
    return {tuple(r) for r in df.select("db", "tbl", "id", "value", "as_of_offset").collect()}


def test_incremental_merge_equals_full_replay(spark, rows_dt, tmp_path):
    """Four offset-sliced merge batches must land on exactly the state
    a single full-history latest_state replay computes."""
    st = _mk_state(tmp_path)
    hi = rows_dt.agg(F.max("offset")).collect()[0][0]
    cuts = [0, hi // 4, hi // 2, (3 * hi) // 4, hi + 1]
    for b, (lo, up) in enumerate(zip(cuts, cuts[1:])):
        batch = rows_dt.filter((F.col("offset") >= lo) & (F.col("offset") < up))
        assert st.merge_batch(batch, b) is True
    assert _as_set(st.current(spark)) == _as_set(latest_state(rows_dt))
    assert st.committed()["batch_id"] == 3


def test_replayed_epoch_is_skipped(spark, rows_dt, tmp_path):
    """Replaying an already-committed batch_id (Spark's post-crash
    epoch replay) must change nothing — not even the version."""
    st = _mk_state(tmp_path)
    batch = rows_dt.limit(200)
    assert st.merge_batch(batch, 0) is True
    before = st.committed()
    got = _as_set(st.current(spark))
    # replay the same epoch — with DIFFERENT data to prove the guard
    # keys on batch_id, not content
    assert st.merge_batch(rows_dt.limit(50), 0) is False
    assert st.committed() == before
    assert _as_set(st.current(spark)) == got


def test_delete_then_reinsert_across_batches(spark, tmp_path):
    """MERGE semantics across batch boundaries: delete drops the key,
    a later re-insert restores it, an update to NULL stays NULL."""
    st = _mk_state(tmp_path)
    schema = "db string, tbl string, id bigint, value double, offset bigint, _delta_type string"
    s = spark
    b0 = s.createDataFrame(
        [("d", "t", 1, 1.0, 10, "insert"), ("d", "t", 2, 2.0, 11, "insert")], schema
    )
    b1 = s.createDataFrame(
        [("d", "t", 1, None, 20, "update"), ("d", "t", 2, 9.9, 21, "delete")], schema
    )
    b2 = s.createDataFrame([("d", "t", 2, 5.0, 30, "insert")], schema)
    for b, df in enumerate((b0, b1, b2)):
        st.merge_batch(df, b)
    got = {(r.id, r.value, r.as_of_offset) for r in st.current(s).collect()}
    assert got == {(1, None, 20), (2, 5.0, 30)}


def test_out_of_order_batches_converge(spark, rows_dt, tmp_path):
    """The measured hazard: the file stream delivers batches offset-
    REORDERED (r18: [946..1946], [2958..3998], [1950..2954]).  Every
    permutation of the four offset slices must land on the same state
    as the in-order replay — this is what tombstone retention buys
    (a dropped-row delete would let an older slice resurrect the
    key)."""
    import itertools

    hi = rows_dt.agg(F.max("offset")).collect()[0][0]
    cuts = [0, hi // 4, hi // 2, (3 * hi) // 4, hi + 1]
    slices = [
        rows_dt.filter((F.col("offset") >= lo) & (F.col("offset") < up))
        for lo, up in zip(cuts, cuts[1:])
    ]
    want = _as_set(latest_state(rows_dt))
    for perm in ([0, 1, 2, 3], [1, 3, 2, 0], [3, 2, 1, 0]):
        st = _mk_state(tmp_path)
        for b, i in enumerate(perm):
            st.merge_batch(slices[i], b)
        assert _as_set(st.current(spark)) == want, f"diverged on order {perm}"


def test_current_before_any_commit_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="no committed version"):
        _mk_state(tmp_path).current(spark)


def test_merge_join_snapshot_side_has_no_exchange(spark, rows_dt, tmp_path):
    """The zero-Exchange claim: in the MERGE plan, the bucketed
    snapshot scan feeds the join WITHOUT a shuffle — the only Exchange
    in the plan belongs to the O(batch) delta side."""
    from mysql_cdc_spark.operators.aggregates import apply_changes_keep_tombstones

    st = _mk_state(tmp_path)
    st.merge_batch(rows_dt.filter(F.col("offset") < 1000), 0)
    snapshot = st.current_raw(spark)
    # the exact delta shaping merge_batch applies
    batch = rows_dt.filter(F.col("offset") >= 1000).repartition(
        st.n_buckets, "db", "tbl", "id"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            apply_changes_keep_tombstones(snapshot, batch)
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    assert "SortMergeJoin" in plan
    # the snapshot scan actually reads as bucketed (co-partitioned
    # with the join — the planner did NOT fall back to a shuffle) ...
    assert "Bucketed: true" in plan, f"bucketed scan disabled:\n{plan}"
    # ... and the only merge-key shuffle in the whole plan is the
    # O(batch) delta repartition — the full state never reshuffles
    assert plan.count("Exchange hashpartitioning(db") == 1, (
        f"snapshot side reshuffled:\n{plan}"
    )


def test_gc_leaves_only_committed_version(spark, rows_dt, tmp_path):
    import os

    st = _mk_state(tmp_path)
    for b in range(3):
        st.merge_batch(rows_dt.filter(F.col("offset") % 3 == b).limit(100), b)
    vdirs = [e for e in os.listdir(st.root) if e.startswith("v")]
    assert vdirs == ["v000002"]


class TestIncrementalBuckets:
    """r18 second pass: the O(changed-buckets) MERGE fast path — when
    a batch's keys hash into at most half the buckets, only those
    buckets rewrite and the rest HARDLINK from the previous version.
    Equality with the full path and with latest_state is the contract;
    the bucket-membership assumption (pmod(hash(keys), n) == the
    bucket id in Spark's file name) is pinned explicitly."""

    def test_bucket_hash_matches_file_names(self, spark, rows_dt, tmp_path):
        import os
        import re

        st = _mk_state(tmp_path)
        st.merge_batch(rows_dt, 0)
        vdir = st._vdir(0)
        for fn in os.listdir(vdir):
            if fn.startswith(".") or not fn.endswith(".parquet"):
                continue
            m = re.search(r"_(\d{5})\.c000", fn)
            assert m, fn
            got = {
                r.b
                for r in spark.read.schema(st.committed()["schema_ddl"])
                .parquet(os.path.join(vdir, fn))
                .selectExpr(f"pmod(hash(db, tbl, id), {st.n_buckets}) AS b")
                .distinct()
                .collect()
            }
            assert got <= {int(m.group(1))}, (fn, got)

    def test_trickle_batches_take_incremental_path_and_converge(
        self, spark, rows_dt, tmp_path
    ):
        import os

        st = _mk_state(tmp_path)
        hi = rows_dt.agg(F.max("offset")).collect()[0][0]
        base = rows_dt.filter(F.col("offset") <= hi - 40)
        st.merge_batch(base, 0)  # full path
        files_v0 = set(os.listdir(st._vdir(0)))
        # trickle: the tail, one tiny batch per offset — few keys,
        # few buckets
        tail = rows_dt.filter(F.col("offset") > hi - 40)
        st.merge_batch(tail.filter(F.col("offset") <= hi - 20), 1)
        st.merge_batch(tail.filter(F.col("offset") > hi - 20), 2)
        ver = st.committed()["version"]
        assert ver == 2
        files_v2 = set(os.listdir(st._vdir(ver)))
        # hardlink reuse: untouched bucket files keep their ORIGINAL
        # names across versions (a full rewrite regenerates every name)
        assert files_v0 & files_v2, "no bucket file survived — full rewrite?"
        assert _as_set(st.current(spark)) == _as_set(latest_state(rows_dt))

    def test_empty_batch_advances_epoch_without_new_version(
        self, spark, rows_dt, tmp_path
    ):
        st = _mk_state(tmp_path)
        st.merge_batch(rows_dt.limit(100), 0)
        before = st.committed()
        st.merge_batch(rows_dt.limit(0), 1)
        after = st.committed()
        assert after["version"] == before["version"]
        assert after["batch_id"] == 1
        # and the replay guard holds for the advanced epoch
        assert st.merge_batch(rows_dt.limit(5), 1) is False

    def test_crash_orphan_delta_dir_is_collected(self, spark, rows_dt, tmp_path):
        import os

        st = _mk_state(tmp_path)
        st.merge_batch(rows_dt.limit(200), 0)
        orphan = os.path.join(st.root, "v000001_delta")
        os.makedirs(orphan)
        st.merge_batch(rows_dt.limit(50), 1)
        assert not os.path.exists(orphan)

    def test_incremental_equals_full_on_same_batches(self, spark, rows_dt, tmp_path):
        """Force both paths over the SAME batch sequence (n_buckets=1
        never takes the fast path; n_buckets=8 does for small batches)
        — identical final state."""
        import uuid

        hi = rows_dt.agg(F.max("offset")).collect()[0][0]
        batches = [
            rows_dt.filter(F.col("offset") <= hi // 2),
            rows_dt.filter((F.col("offset") > hi // 2) & (F.col("offset") <= hi // 2 + 30)),
            rows_dt.filter(F.col("offset") > hi // 2 + 30),
        ]
        states = []
        for n_buckets in (1, 8):
            st = StateTable(
                str(tmp_path / f"s{n_buckets}"),
                f"st_{uuid.uuid4().hex[:8]}", n_buckets=n_buckets,
            )
            for b, df in enumerate(batches):
                st.merge_batch(df, b)
            states.append(_as_set(st.current(spark)))
        assert states[0] == states[1]


class TestCompaction:
    """Tombstone GC (compact): tombstones below the replay watermark
    go; at/above it they stay — and the test shows WHY both directions
    matter (the resurrect hazard)."""

    def _mini(self, spark, tmp_path):
        schema = (
            "db string, tbl string, id bigint, value double, "
            "offset bigint, _delta_type string"
        )
        st = _mk_state(tmp_path)
        st.merge_batch(
            spark.createDataFrame(
                [("d", "t", 1, 1.0, 10, "insert"), ("d", "t", 2, 2.0, 11, "insert")],
                schema,
            ),
            0,
        )
        st.merge_batch(
            spark.createDataFrame([("d", "t", 1, None, 20, "delete")], schema), 1
        )
        return st, schema

    def test_compact_drops_old_tombstones_keeps_live(self, spark, tmp_path):
        st, _ = self._mini(spark, tmp_path)
        raw_before = {tuple(r) for r in st.current_raw(spark).collect()}
        assert any(r[-1] for r in raw_before)  # tombstone present
        assert st.compact(spark, watermark_offset=100) is True
        raw = {tuple(r) for r in st.current_raw(spark).collect()}
        assert not any(r[-1] for r in raw), raw  # tombstone gone
        live = {(r.id, r.value) for r in st.current(spark).collect()}
        assert live == {(2, 2.0)}
        # batch_id unchanged: the NEXT epoch still merges normally
        assert st.committed()["batch_id"] == 1

    def test_tombstone_at_or_above_watermark_survives(self, spark, tmp_path):
        st, schema = self._mini(spark, tmp_path)
        st.compact(spark, watermark_offset=20)  # tombstone offset == 20
        raw = {tuple(r) for r in st.current_raw(spark).collect()}
        assert any(r[-1] for r in raw), "watermark-boundary tombstone dropped"
        # ...and it still blocks a late older image (the whole point)
        st.merge_batch(
            spark.createDataFrame([("d", "t", 1, 5.0, 15, "update")], schema), 2
        )
        assert {(r.id,) for r in st.current(spark).collect()} == {(2,)}

    def test_compacting_above_horizon_reopens_resurrection(self, spark, tmp_path):
        """The documented hazard, demonstrated: compact past a
        tombstone the source can still replay below, and the late
        older image resurrects the deleted key."""
        st, schema = self._mini(spark, tmp_path)
        st.compact(spark, watermark_offset=1000)  # WRONG: above the horizon
        st.merge_batch(
            spark.createDataFrame([("d", "t", 1, 5.0, 15, "update")], schema), 2
        )
        live = {(r.id,) for r in st.current(spark).collect()}
        assert (1,) in live  # resurrected — why the contract exists

    def test_compact_before_any_commit_is_noop(self, spark, tmp_path):
        assert _mk_state(tmp_path).compact(spark, 10) is False


# ---------------------------------------------------------------------------
# Generalized tables (r18 VERDICT #2): composite keys, typed payloads,
# key-changing updates, schema widening, rebucket migration
# ---------------------------------------------------------------------------


class TestGeneralizedState:
    SCHEMA = (
        "region string, uid bigint, amount decimal(12,4), note string, "
        "offset bigint, _delta_type string"
    )

    def _mk(self, tmp_path, n_buckets=4):
        return StateTable(
            str(tmp_path / "gstate"),
            f"gst_{uuid.uuid4().hex[:8]}",
            n_buckets=n_buckets,
            keys=("region", "uid"),
        )

    def test_composite_key_multi_value_merge(self, spark, tmp_path):
        from decimal import Decimal

        st = self._mk(tmp_path)
        b0 = spark.createDataFrame(
            [
                ("eu", 1, Decimal("1.5000"), "a", 10, "insert"),
                ("us", 1, Decimal("2.0000"), "b", 11, "insert"),
                ("eu", 2, Decimal("3.0000"), None, 12, "insert"),
            ],
            self.SCHEMA,
        )
        b1 = spark.createDataFrame(
            [
                ("eu", 1, Decimal("9.0000"), "a2", 20, "update"),
                ("us", 1, None, None, 21, "delete"),
            ],
            self.SCHEMA,
        )
        st.merge_batch(b0, 0)
        st.merge_batch(b1, 1)
        got = {
            (r.region, r.uid, str(r.amount), r.note)
            for r in st.current(spark).collect()
        }
        assert got == {
            ("eu", 1, "9.0000", "a2"),
            ("eu", 2, "3.0000", None),
        }
        ptr = st.committed()
        assert ptr["keys"] == ["region", "uid"]
        assert ptr["value_cols"] == ["amount", "note"]
        assert ptr["n_buckets"] == 4

    def test_reopen_with_different_keys_raises(self, spark, tmp_path):
        st = self._mk(tmp_path)
        st.merge_batch(
            spark.createDataFrame(
                [("eu", 1, None, "x", 1, "insert")], self.SCHEMA
            ),
            0,
        )
        again = StateTable(st.root, st.name, keys=("uid",))
        with pytest.raises(ValueError, match="keys"):
            again.committed()

    def test_type_conflict_raises(self, spark, tmp_path):
        st = self._mk(tmp_path)
        st.merge_batch(
            spark.createDataFrame(
                [("eu", 1, None, "x", 1, "insert")], self.SCHEMA
            ),
            0,
        )
        bad = spark.createDataFrame(
            [("eu", 1, 2.0, "y", 2, "update")],
            "region string, uid bigint, amount double, note string, "
            "offset bigint, _delta_type string",
        )
        with pytest.raises(ValueError, match="migration"):
            st.merge_batch(bad, 1)

    def test_widening_null_backfills_and_survives_mixed_paths(
        self, spark, tmp_path
    ):
        """An ALTER-shaped batch (new value column) widens the table:
        old rows read NULL, the pointer records the union, and later
        TRICKLE batches (incremental path) keep working on the widened
        schema."""
        st = self._mk(tmp_path, n_buckets=8)
        narrow = (
            "region string, uid bigint, amount decimal(12,4), "
            "offset bigint, _delta_type string"
        )
        from decimal import Decimal

        b0 = spark.createDataFrame(
            [
                ("eu", i, Decimal(i), 10 + i, "insert")
                for i in range(16)
            ],
            narrow,
        )
        st.merge_batch(b0, 0)
        assert st.committed()["value_cols"] == ["amount"]
        wide = (
            "region string, uid bigint, amount decimal(12,4), "
            "note string, offset bigint, _delta_type string"
        )
        b1 = spark.createDataFrame(
            [("eu", 0, Decimal("99"), "new", 100, "update")], wide
        )
        st.merge_batch(b1, 1)
        ptr = st.committed()
        assert ptr["value_cols"] == ["amount", "note"]
        rows = {r.uid: (str(r.amount), r.note) for r in st.current(spark).collect()}
        assert rows[0] == ("99.0000", "new")
        assert rows[5] == ("5.0000", None)  # NULL-backfilled old row
        # trickle batch AFTER the widening: incremental path, narrow
        # batch (missing the new column) — legacy column order holds
        b2 = spark.createDataFrame(
            [("eu", 3, Decimal("7"), 200, "update")], narrow
        )
        st.merge_batch(b2, 2)
        rows = {r.uid: (str(r.amount), r.note) for r in st.current(spark).collect()}
        assert rows[3] == ("7.0000", None)
        assert rows[0] == ("99.0000", "new")

    def test_rebucket_migration_is_live(self, spark, tmp_path):
        """rebucket(n): state survives byte-for-byte, later merges use
        the NEW bucket count (pointer-carried), incremental path
        included."""
        st = self._mk(tmp_path, n_buckets=4)
        from decimal import Decimal

        b0 = spark.createDataFrame(
            [("eu", i, Decimal(i), None, 10 + i, "insert") for i in range(32)],
            self.SCHEMA,
        )
        st.merge_batch(b0, 0)
        before = {
            (r.region, r.uid, str(r.amount)) for r in st.current(spark).collect()
        }
        assert st.rebucket(spark, 16) is True
        assert st.committed()["n_buckets"] == 16
        assert {
            (r.region, r.uid, str(r.amount)) for r in st.current(spark).collect()
        } == before
        # physical layout really has 16 buckets now
        files = st._bucket_files(st._vdir(st.committed()["version"]))
        assert max(files) > 3
        # a trickle merge after the migration: touched buckets resolve
        # against the NEW count
        b1 = spark.createDataFrame(
            [("eu", 3, Decimal("77"), "z", 100, "update")], self.SCHEMA
        )
        st.merge_batch(b1, 1)
        rows = {r.uid: str(r.amount) for r in st.current(spark).collect()}
        assert rows[3] == "77.0000"
        assert len(rows) == 32
        # no-op when the count already matches
        assert st.rebucket(spark, 16) is False

    def test_bucket_files_raises_on_unrecognized_data_file(
        self, spark, tmp_path
    ):
        st = self._mk(tmp_path)
        st.merge_batch(
            spark.createDataFrame(
                [("eu", 1, None, "x", 1, "insert")], self.SCHEMA
            ),
            0,
        )
        vdir = st._vdir(st.committed()["version"])
        (pathlib.Path(vdir) / "stray.parquet").write_bytes(b"x")
        with pytest.raises(RuntimeError, match="unrecognized data file"):
            st._bucket_files(vdir)


class TestTypedEnvelopeRows:
    def _env(self, spark, rows):
        """rows: (log_file, offset, op, db, tbl, before, after)"""
        return spark.createDataFrame(
            rows,
            "log_file string, offset bigint, op string, db string, "
            "tbl string, row_idx bigint, before map<string,string>, "
            "after map<string,string>",
        )

    def test_key_changing_update_splits_delete_insert(self, spark):
        from mysql_cdc_spark.operators.state_table import (
            envelope_to_typed_rows,
        )

        env = self._env(
            spark,
            [
                ("binlog.000000", 100, "write_rows", "d", "t", 0,
                 None, {"id": "1", "v": "a"}),
                # PK 1 -> 2: must tombstone 1 and insert 2
                ("binlog.000000", 200, "update_rows", "d", "t", 0,
                 {"id": "1", "v": "a"}, {"id": "2", "v": "b"}),
                # value-only update: single image
                ("binlog.000000", 300, "update_rows", "d", "t", 0,
                 {"id": "2", "v": "b"}, {"id": "2", "v": "c"}),
            ],
        )
        rows = envelope_to_typed_rows(
            env, {"id": "bigint"}, {"v": "string"}, table=("d", "t")
        )
        got = sorted(
            (r.offset & ((1 << 34) - 1), r.id, r.v, r._delta_type)
            for r in rows.collect()
        )
        assert got == [
            (100, 1, "a", "insert"),
            (200, 1, None, "delete"),
            (200, 2, "b", "insert"),
            (300, 2, "c", "update"),
        ]
        # replayed into state: key 1 is GONE, key 2 carries "c"
        from mysql_cdc_spark.operators.aggregates import (
            latest_state_with_tombstones,
        )

        state = latest_state_with_tombstones(rows, ("id",), ("v",))
        live = {
            (r.id, r.v)
            for r in state.filter(~F.col("is_deleted")).collect()
        }
        assert live == {(2, "c")}

    def test_version_guards_raise(self, spark):
        from mysql_cdc_spark.operators.state_table import (
            envelope_to_typed_rows,
        )

        with pytest.raises(ValueError, match="generation"):
            envelope_to_typed_rows(
                self._env(spark, []), {"id": "bigint"}, {"v": "string"},
                generation=512,
            )
        bad_off = self._env(
            spark,
            [("binlog.000001", 1 << 34, "write_rows", "d", "t", 0,
              None, {"id": "1", "v": "a"})],
        )
        rows = envelope_to_typed_rows(
            bad_off, {"id": "bigint"}, {"v": "string"}
        )
        with pytest.raises(Exception, match="byte offset"):
            rows.collect()
        bad_file = self._env(
            spark,
            [("binlog.1048576", 10, "write_rows", "d", "t", 0,
              None, {"id": "1", "v": "a"})],
        )
        rows = envelope_to_typed_rows(
            bad_file, {"id": "bigint"}, {"v": "string"}
        )
        with pytest.raises(Exception, match="file index"):
            rows.collect()

    def test_reserved_column_names_raise(self, spark):
        from mysql_cdc_spark.operators.state_table import (
            envelope_to_typed_rows,
        )

        with pytest.raises(ValueError, match="reserved"):
            envelope_to_typed_rows(
                self._env(spark, []), {"offset": "bigint"}, {"v": "string"}
            )


# ---------------------------------------------------------------------------
# Checkpoint-derived compaction watermark (r19): the committed
# low-water mark computed from the stream's own checkpoint, so the
# compact contract's resurrection hazard is unreachable by
# construction (hand-computing the horizon was the one easy-to-misuse
# edge — TestCompaction demonstrates what going above it costs).
# ---------------------------------------------------------------------------


class TestCheckpointWatermark:
    def _cp(self, tmp_path, committed: dict[int, dict], pending: dict[int, dict] | None = None,
            wrap: bool = False) -> str:
        """Fake HDFSOffsetSeqLog layout: commits/<b> marks batch b
        committed; offsets/<b> holds version line + metadata line +
        one offset JSON per source."""
        import json as _json

        cp = tmp_path / "cp"
        (cp / "commits").mkdir(parents=True)
        (cp / "offsets").mkdir()
        for b in committed:
            (cp / "commits" / str(b)).write_text('v1\n{"nextBatchWatermarkMs":0}')
        for b, off in {**committed, **(pending or {})}.items():
            body = _json.dumps(off)
            if wrap:  # the python-datasource offsets wrap once more
                body = _json.dumps(body)
            (cp / "offsets" / str(b)).write_text(
                'v1\n{"batchWatermarkMs":0,"batchTimestampMs":0}\n' + body
            )
        return str(cp)

    def test_packs_last_committed_offset_not_pending(self, tmp_path):
        from mysql_cdc_spark.operators.state_table import (
            checkpoint_safe_watermark,
        )

        cp = self._cp(
            tmp_path,
            committed={
                0: {"file": "binlog.000000", "pos": 700},
                1: {"file": "binlog.000002", "pos": 901},
            },
            pending={2: {"file": "binlog.000005", "pos": 50}},
        )
        # batch 2 has an offsets entry but no commit: watermark is
        # batch 1's end — (file 2, pos 901)
        assert checkpoint_safe_watermark(cp) == (2 << 34) | 901

    def test_generation_prefixes_the_version(self, tmp_path):
        from mysql_cdc_spark.operators.state_table import (
            checkpoint_safe_watermark,
        )

        cp = self._cp(
            tmp_path, committed={0: {"file": "mysql-bin.000007", "pos": 44}}
        )
        assert checkpoint_safe_watermark(cp, generation=3) == (
            (3 << 54) | (7 << 34) | 44
        )

    def test_json_wrapped_offsets_parse(self, tmp_path):
        from mysql_cdc_spark.operators.state_table import (
            checkpoint_safe_watermark,
        )

        cp = self._cp(
            tmp_path,
            committed={0: {"file": "binlog.000001", "pos": 10}},
            wrap=True,
        )
        assert checkpoint_safe_watermark(cp) == (1 << 34) | 10

    def test_no_commits_or_empty_offset_is_none(self, tmp_path):
        from mysql_cdc_spark.operators.state_table import (
            checkpoint_safe_watermark,
        )

        assert checkpoint_safe_watermark(str(tmp_path / "nope")) is None
        cp = self._cp(tmp_path, committed={})
        assert checkpoint_safe_watermark(cp) is None

    def test_initial_empty_directory_offset_is_none(self, tmp_path):
        from mysql_cdc_spark.operators.state_table import (
            checkpoint_safe_watermark,
        )

        cp = self._cp(tmp_path, committed={0: {"file": "", "pos": 4}})
        assert checkpoint_safe_watermark(cp) is None

    def test_layout_guards_raise(self, tmp_path):
        from mysql_cdc_spark.operators.state_table import (
            checkpoint_safe_watermark,
        )

        cp = self._cp(
            tmp_path, committed={0: {"file": "binlog.nosuffix", "pos": 4}}
        )
        with pytest.raises(ValueError, match="numeric suffix"):
            checkpoint_safe_watermark(cp)
        cp2 = self._cp(
            tmp_path / "b",
            committed={0: {"file": "binlog.1048576", "pos": 4}},
        )
        with pytest.raises(ValueError, match="overflows"):
            checkpoint_safe_watermark(cp2)
        cp3 = self._cp(
            tmp_path / "c",
            committed={0: {"file": "binlog.000001", "pos": 1 << 34}},
        )
        with pytest.raises(ValueError, match="overflows"):
            checkpoint_safe_watermark(cp3)

    def test_compact_to_checkpoint_matches_manual_compact(
        self, spark, tmp_path
    ):
        """End-to-end against a real StateTable: the derived watermark
        drops exactly the tombstones a manual compact at the committed
        offset would, and a boundary tombstone survives."""
        from mysql_cdc_spark.operators.state_table import StateTable

        schema = (
            "db string, tbl string, id bigint, value double, "
            "offset bigint, _delta_type string"
        )
        st = StateTable(str(tmp_path / "st"), f"wm_{uuid.uuid4().hex[:8]}")
        st.merge_batch(
            spark.createDataFrame(
                [("d", "t", 1, 1.0, 10, "insert"),
                 ("d", "t", 2, 2.0, 11, "insert")],
                schema,
            ),
            0,
        )
        st.merge_batch(
            spark.createDataFrame(
                [("d", "t", 1, None, 20, "delete")], schema
            ),
            1,
        )
        # committed end offset pos=21 > tombstone offset 20: drops it
        cp = self._cp(
            tmp_path, committed={1: {"file": "binlog.000000", "pos": 21}}
        )
        assert st.compact_to_checkpoint(spark, cp) is True
        raw = st.current_raw(spark).collect()
        assert not any(r.is_deleted for r in raw), raw
        assert {(r.id,) for r in st.current(spark).collect()} == {(2,)}

    def test_compact_to_checkpoint_boundary_tombstone_survives(
        self, spark, tmp_path
    ):
        from mysql_cdc_spark.operators.state_table import StateTable

        schema = (
            "db string, tbl string, id bigint, value double, "
            "offset bigint, _delta_type string"
        )
        st = StateTable(str(tmp_path / "st"), f"wmb_{uuid.uuid4().hex[:8]}")
        st.merge_batch(
            spark.createDataFrame(
                [("d", "t", 1, None, 20, "delete")], schema
            ),
            0,
        )
        # committed end == the tombstone's offset: a replayed batch
        # could still carry an image at 20 — the tombstone must stay
        cp = self._cp(
            tmp_path, committed={0: {"file": "binlog.000000", "pos": 20}}
        )
        assert st.compact_to_checkpoint(spark, cp) is True
        assert any(r.is_deleted for r in st.current_raw(spark).collect())

    def test_compact_to_checkpoint_uncommitted_cp_is_noop(
        self, spark, tmp_path
    ):
        from mysql_cdc_spark.operators.state_table import StateTable

        st = StateTable(str(tmp_path / "st"), f"wmn_{uuid.uuid4().hex[:8]}")
        cp = self._cp(tmp_path, committed={})
        assert st.compact_to_checkpoint(spark, cp) is False


class TestReviewPins:
    """r19 self-review pins: the legacy-pointer key guard and the
    dropped-column row-image semantics."""

    def test_legacy_pointer_reopen_with_other_keys_raises(
        self, spark, tmp_path
    ):
        """A pre-generalization pointer has no "keys" entry; it was
        committed with the legacy (db, tbl, id) spec.  Reopening with
        a DIFFERENT key spec must raise — defaulting the missing
        entry to the reopening instance's keys would let the mismatch
        slip through and merge/bucket on the wrong keys silently."""
        import json
        import os

        from mysql_cdc_spark.operators.state_table import StateTable

        schema = (
            "db string, tbl string, id bigint, value double, "
            "offset bigint, _delta_type string"
        )
        st = StateTable(str(tmp_path / "st"), f"lg_{uuid.uuid4().hex[:8]}")
        st.merge_batch(
            spark.createDataFrame(
                [("d", "t", 1, 1.0, 10, "insert")], schema
            ),
            0,
        )
        # strip the pointer back to the pre-r19 shape
        p = os.path.join(str(tmp_path / "st"), "_state_pointer.json")
        with open(p) as fh:
            ptr = json.load(fh)
        for k in ("keys", "value_cols", "col_types"):
            ptr.pop(k, None)
        with open(p, "w") as fh:
            json.dump(ptr, fh)

        reopened_wrong = StateTable(
            str(tmp_path / "st"), st.name, keys=("id",)
        )
        with pytest.raises(ValueError, match="committed with keys"):
            reopened_wrong.committed()
        # the legacy default still reads it fine
        reopened_ok = StateTable(str(tmp_path / "st"), st.name)
        assert reopened_ok.committed()["version"] == 0

    def test_dropped_column_row_image_semantics(self, spark, tmp_path):
        """The documented drop rule, both directions: after the
        source drops a committed column, a key UPDATED post-drop
        reads NULL in the legacy column (its full row image genuinely
        carries no value any more), while a key never touched again
        keeps its last pre-drop value."""
        from mysql_cdc_spark.operators.state_table import StateTable

        wide = (
            "id bigint, amount double, note string, "
            "offset bigint, _delta_type string"
        )
        narrow = "id bigint, amount double, offset bigint, _delta_type string"
        st = StateTable(
            str(tmp_path / "st"), f"dc_{uuid.uuid4().hex[:8]}", keys=("id",)
        )
        st.merge_batch(
            spark.createDataFrame(
                [(1, 10.0, "keep", 10, "insert"),
                 (2, 20.0, "stale", 11, "insert")],
                wide,
            ),
            0,
        )
        # the source drops `note`; key 2 is updated afterwards
        st.merge_batch(
            spark.createDataFrame([(2, 21.0, 20, "update")], narrow), 1
        )
        live = {r.id: (r.amount, r.note) for r in st.current(spark).collect()}
        assert live[1] == (10.0, "keep")   # untouched: last pre-drop value
        assert live[2] == (21.0, None)     # updated post-drop: row image wins


def test_incremental_falls_back_without_hardlinks(
    spark, rows_dt, tmp_path, monkeypatch
):
    """A filesystem without hardlink support raises OSError in the
    incremental path's link step; the merge must fall back to the
    full path (converging to the same state) and remember, so later
    trickles don't retry a link that can never succeed."""
    import os as _os

    from mysql_cdc_spark.operators import state_table as st_mod

    st = _mk_state(tmp_path)
    st.merge_batch(rows_dt, 0)

    # one row → one changed bucket, inside the ≤ n_buckets//2
    # incremental threshold (n_buckets=4 here)
    trickle = rows_dt.limit(1)
    expected = _as_set(
        st_mod.apply_changes_keep_tombstones(
            st.current_raw(spark), trickle
        )
    )

    calls = {"n": 0}

    def no_link(src, dst):
        calls["n"] += 1
        raise OSError(1, "Operation not permitted")

    monkeypatch.setattr(st_mod.os, "link", no_link)
    assert st.merge_batch(trickle, 1) is True
    assert calls["n"] > 0, "incremental path never attempted the link"
    assert st._hardlinks_ok is False
    assert _as_set(st.current_raw(spark)) == expected

    # later trickles go straight to the full path: no more link calls
    calls["n"] = 0
    assert st.merge_batch(rows_dt.limit(1), 2) is True
    assert calls["n"] == 0
    assert st.committed()["batch_id"] == 2


def test_image_version_pack_preserves_lexicographic_order():
    """THE invariant the bit layout exists for: packed int64 versions
    order exactly as (generation, file_idx, byte_offset) tuples — a
    violation anywhere in the range means a stale image can outrank a
    newer one (the r18 review's <<40 collision was exactly such a
    violation, at file 1024).  Property-checked across the full field
    ranges including every boundary."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mysql_cdc_spark.operators.state_table import pack_image_version

    gens = st.integers(min_value=0, max_value=511)
    idxs = st.sampled_from(
        [0, 1, 2, 999, 1000, 1023, 1024, 1025, 999_999, (1 << 20) - 1]
    ) | st.integers(min_value=0, max_value=(1 << 20) - 1)
    offs = st.sampled_from(
        [0, 4, (1 << 34) - 1, 1 << 30, (1 << 32) + 1]
    ) | st.integers(min_value=0, max_value=(1 << 34) - 1)

    @settings(max_examples=300, deadline=None)
    @given(a=st.tuples(gens, idxs, offs), b=st.tuples(gens, idxs, offs))
    def check(a, b):
        pa, pb = pack_image_version(*a), pack_image_version(*b)
        assert (pa < pb) == (a < b)
        assert 0 <= pa < 1 << 63  # stays a positive int64

    check()


class TestFirstMerge:
    """A fresh table's first version is the batch's own aggregate: it
    equals the MERGE into an empty snapshot row for row, and the write
    plan carries no snapshot scan, no join and one merge-key shuffle."""

    _KEYS = {"id": "bigint"}
    _VALUES = {"v": "string", "n": "int"}

    def _batch(self, spark, tmp_path):
        """A typed MERGE batch read back from parquet (so its own scan
        adds no RDD node to the plan): multi-row frames sharing one
        offset, value updates, deletes (a freed key may be re-inserted),
        and key-changing updates that envelope_to_typed_rows splits into a
        delete + insert at the parent frame's offset."""
        import random

        from mysql_cdc_spark.operators.state_table import (
            envelope_to_typed_rows,
        )

        rng = random.Random(20261017)
        live: dict[int, dict] = {}
        rows, pos = [], 4
        for frame in range(60):
            log_file = f"binlog.{frame // 30:06d}"
            pos = 4 if frame == 30 else pos + 40
            op = rng.choice(["write_rows"] * 2 + ["update_rows"] * 2
                            + ["delete_rows"]) if live else "write_rows"
            for row_idx in range(rng.randint(1, 3)):
                if op != "write_rows" and not live:
                    break  # one op per frame, as in a real log
                if op == "write_rows":
                    k = rng.choice([i for i in range(40) if i not in live])
                    img = {"id": str(k), "v": f"w{frame}",
                           "n": rng.choice([None, str(frame)])}
                    live[k] = img
                    rows.append((log_file, pos, "write_rows", "d", "t",
                                 row_idx, None, img))
                    continue
                k = rng.choice(sorted(live))
                before = live.pop(k)
                if op == "delete_rows":
                    rows.append((log_file, pos, op, "d", "t", row_idx,
                                 before, None))
                    continue
                # about a third of the updates move the row to a free key
                new_k = (
                    rng.choice([i for i in range(40) if i not in live])
                    if rng.random() < 0.34 else k
                )
                after = {"id": str(new_k), "v": f"u{frame}",
                         "n": rng.choice([None, str(-frame)])}
                live[new_k] = after
                rows.append((log_file, pos, op, "d", "t", row_idx,
                             before, after))
        env = spark.createDataFrame(
            rows,
            "log_file string, offset bigint, op string, db string, "
            "tbl string, row_idx bigint, before map<string,string>, "
            "after map<string,string>",
        )
        path = str(tmp_path / "env")
        env.write.parquet(path)
        batch = envelope_to_typed_rows(
            spark.read.parquet(path), self._KEYS, self._VALUES,
            table=("d", "t"),
        )
        return batch, rows

    def _state(self, tmp_path) -> StateTable:
        return StateTable(
            str(tmp_path / "state"), f"fm_{uuid.uuid4().hex[:8]}",
            n_buckets=4, keys=tuple(self._KEYS),
        )

    def test_equals_merge_into_empty_snapshot(self, spark, tmp_path):
        from mysql_cdc_spark.operators.aggregates import (
            apply_changes_keep_tombstones,
        )

        batch, rows = self._batch(spark, tmp_path)
        ops = {r[2] for r in rows}
        assert ops == {"write_rows", "update_rows", "delete_rows"}
        assert any(
            r[2] == "update_rows" and r[6]["id"] != r[7]["id"] for r in rows
        ), "batch must carry a key-changing update"
        assert any(r[5] > 0 for r in rows), "batch must carry multi-row frames"

        st = self._state(tmp_path)
        assert st.merge_batch(batch, 0) is True
        ptr = st.committed()
        empty = spark.createDataFrame(
            spark.sparkContext.emptyRDD(), ptr["schema_ddl"]
        )
        want = apply_changes_keep_tombstones(
            empty, batch, tuple(self._KEYS), tuple(self._VALUES)
        )
        got = st.current_raw(spark)
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in want.schema
        ]
        got_rows, want_rows = sorted(got.collect()), sorted(want.collect())
        assert got_rows == want_rows
        assert any(r.is_deleted for r in got_rows), "no tombstone kept"
        assert any(not r.is_deleted for r in got_rows)

    def test_plan_has_no_snapshot_no_join_one_exchange(self, spark, tmp_path):
        batch, _ = self._batch(spark, tmp_path)
        st = self._state(tmp_path)
        sc = spark.sparkContext
        store = spark._jsparkSession.sharedState().statusStore()

        def executions():
            # the store keeps only the newest executions: select by id
            execs = store.executionsList()
            return [execs.apply(i) for i in range(execs.size())]

        last_id = max((e.executionId() for e in executions()), default=-1)
        group = f"first_merge_{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "first merge")
        try:
            assert st.merge_batch(batch, 0) is True
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # one shuffle-map job for the delta repartition, one write job
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
        plans = [
            e.physicalPlanDescription()
            for e in executions() if e.executionId() > last_id
        ]
        writes = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]
        assert len(writes) == 1, plans
        plan = writes[0]
        final_tree = plan.split("== Initial Plan ==")[0]
        assert "ExistingRDD" not in plan, plan
        assert "Join" not in plan, plan
        assert final_tree.count("Exchange") == 1, final_tree
        assert "hashpartitioning(id" in plan, plan
