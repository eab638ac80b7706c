"""One slice plan and one slice decoder behind the ``mysql_binlog``
batch reader.

Whole files, bin-packed files and frame-aligned split slices all
decode through the same slice decoder, so every plan must deliver the
same rows under every pushdown: a ``since`` cut that falls inside a
split slice, and pushed ``offset`` and ``ts`` bounds.  The reference is
``decode_binlog`` + ``envelope_columns(frame_seq=True)`` per file,
filtered in Python.
"""

from __future__ import annotations

import json
import random

import pytest
from pyspark.sql.datasource import (
    GreaterThan,
    GreaterThanOrEqual,
    LessThanOrEqual,
)

from mysql_cdc_spark.sources import binlog_source as bs
from mysql_cdc_spark.sources.binlog_codec import (
    DELETE_ROWS_EVENT,
    TYPE_LONG,
    TYPE_VARCHAR,
    UPDATE_ROWS_EVENT,
    WRITE_ROWS_EVENT,
    BinlogWriter,
    TableDef,
    decode_binlog,
)
from mysql_cdc_spark.sources.binlog_datasource import (
    _BinlogBatchReader,
    _PackedStreamPartition,
    _split_file,
    register_binlog_source,
)

_A = TableDef("foo", "auto", [(TYPE_LONG, None), (TYPE_VARCHAR, 60)], table_id=7)
_B = TableDef("foo", "bar", [(TYPE_LONG, None), (TYPE_VARCHAR, 60)], table_id=8)
_CAT = {("foo", "auto"): ["id", "val"], ("foo", "bar"): ["id", "val"]}
_CAT_JSON = json.dumps({"foo.auto": ["id", "val"], "foo.bar": ["id", "val"]})
_SPLIT = 2048
# transactions per file: one oversized file (split, holds the since
# cut), two small ones (packed) and one mid-size one
_TXNS = ((150, 220), (3, 8), (3, 8), (40, 60))


def _write_dir(d, seed: int) -> dict[str, bytes]:
    """Seeded rotated log directory with non-decreasing timestamps."""
    rng = random.Random(seed)
    ts = 1_000
    blobs: dict[str, bytes] = {}
    for k, (lo, hi) in enumerate(_TXNS):
        w = BinlogWriter(checksum="crc32")
        for _ in range(rng.randint(lo, hi)):
            ts += rng.randint(0, 3)
            t = rng.choice((_A, _B))
            op = rng.choice((WRITE_ROWS_EVENT, UPDATE_ROWS_EVENT, DELETE_ROWS_EVENT))
            ids = [rng.randint(0, 10**6) for _ in range(rng.randint(1, 3))]
            if op == UPDATE_ROWS_EVENT:
                rows = [([i, f"b{i}"], [i, "a" * rng.randint(1, 40)]) for i in ids]
            else:
                rows = [[i, "v" * rng.randint(1, 40)] for i in ids]
            w.write_query("foo", "BEGIN", ts=ts)
            w.write_table_map(t, ts=ts)
            w.write_rows(op, t, rows, ts=ts)
            w.write_xid(rng.randint(1, 10**9), ts=ts)
        if k < len(_TXNS) - 1:
            w.write_rotate(f"binlog.{k + 1:06d}")
        name = f"binlog.{k:06d}"
        blobs[name] = bytes(w.buf)
        (d / name).write_bytes(blobs[name])
    return blobs


def _norm(row: dict) -> str:
    # arrow maps come back as key/value pair lists, Spark maps as dicts
    out = {
        k: (dict(v) if isinstance(v, list) else v) for k, v in row.items()
    }
    return json.dumps(out, sort_keys=True)


def _reference(blobs: dict[str, bytes]) -> list[dict]:
    rows: list[dict] = []
    for name, blob in blobs.items():
        cols, _ = bs.envelope_columns(
            decode_binlog(blob, _CAT), name, frame_seq=True
        )
        rows += [dict(zip(cols, vals)) for vals in zip(*cols.values())]
    return rows


def _frames(blob: bytes) -> list[int]:
    return sorted({ev["offset"] for ev in decode_binlog(blob, _CAT)})


@pytest.fixture(scope="module", params=[1, 2, 3])
def seeded(request, tmp_path_factory):
    seed = request.param
    d = tmp_path_factory.mktemp(f"slice_parity_{seed}")
    blobs = _write_dir(d, seed)
    rng = random.Random(seed * 7919)
    big, mid = "binlog.000000", "binlog.000003"
    # since cut strictly inside a split slice of the oversized file
    slices = _split_file(str(d / big), _CAT, _SPLIT)
    assert len(slices) > 4
    s = slices[len(slices) // 2]
    since = rng.choice([o for o in _frames(blobs[big]) if s.start < o < s.end])
    # offset bounds: a lower bound inside the first quarter of the
    # mid-size file and an upper bound a few bytes into one of its
    # later frames, so every file the bound cuts has a straddling frame
    frames = _frames(blobs[mid])
    off_lo = rng.choice(frames[len(frames) // 8:len(frames) // 4])
    off_hi = rng.choice(frames[len(frames) // 2:-2]) + 7
    # ts bounds: the middle half of the timestamps inside the offset
    # bounds, so the two ranges compose to a non-empty selection
    in_range = sorted(
        {r["ts"] for r in _reference(blobs) if off_lo < r["offset"] <= off_hi}
    )
    ts_lo = in_range[len(in_range) // 4]
    ts_hi = in_range[3 * len(in_range) // 4]
    return d, blobs, since, (off_lo, off_hi), (ts_lo, ts_hi)


def _keep(row, since, off, ts) -> bool:
    if row["log_file"] == "binlog.000000" and row["offset"] < since:
        return False
    if off and not off[0] < row["offset"] <= off[1]:
        return False
    if ts and not ts[0] <= row["ts"] <= ts[1]:
        return False
    return True


@pytest.mark.parametrize("split", [False, True])
@pytest.mark.parametrize("pack", [False, True])
@pytest.mark.parametrize("use_since", [False, True])
@pytest.mark.parametrize("bounds", ["none", "offset", "ts", "offset+ts"])
def test_batch_plans_match_reference(seeded, split, pack, use_since, bounds):
    d, blobs, since_off, off, ts = seeded
    off = off if "offset" in bounds else None
    ts = ts if "ts" in bounds else None
    since = since_off if use_since else 0
    opts = {"path": str(d), "catalog": _CAT_JSON}
    if split:
        opts["split_bytes"] = str(_SPLIT)
    if not pack:
        opts["pack_bytes"] = "0"
    if use_since:
        opts["since_file"] = "binlog.000000"
        opts["since_offset"] = str(since)
    reader = _BinlogBatchReader(opts)
    filters = []
    if off:
        filters += [
            GreaterThan(("offset",), off[0]),
            LessThanOrEqual(("offset",), off[1]),
        ]
    if ts:
        filters += [
            GreaterThanOrEqual(("ts",), ts[0]),
            LessThanOrEqual(("ts",), ts[1]),
        ]
    # partial pushdown: every filter goes back to Spark for re-evaluation
    assert list(reader.pushFilters(filters)) == filters
    parts = reader.partitions()
    if split:
        assert sum(
            getattr(p, "log_file", None) == "binlog.000000" for p in parts
        ) > 4
    if pack and not split and not ts:
        assert any(isinstance(p, _PackedStreamPartition) for p in parts)
    got = [r for p in parts for b in reader.read(p) for r in b.to_pylist()]
    # the reader drops the since prefix itself; Spark re-applies the
    # pushed offset/ts filters after the scan, as here
    got = [r for r in got if _keep(r, 0, off, ts)]
    want = [r for r in _reference(blobs) if _keep(r, since, off, ts)]
    assert want, "the bounds left nothing to compare"
    assert sorted(map(_norm, got)) == sorted(map(_norm, want))


def test_spark_scan_matches_reference(spark, seeded):
    """The same parity through Spark's own filter pushdown."""
    d, blobs, since, off, ts = seeded
    register_binlog_source(spark)
    df = (
        spark.read.format("mysql_binlog")
        .option("catalog", _CAT_JSON)
        .option("split_bytes", str(_SPLIT))
        .option("since_file", "binlog.000000")
        .option("since_offset", str(since))
        .load(str(d))
        .filter(
            f"offset > {off[0]} AND offset <= {off[1]} "
            f"AND ts >= {ts[0]} AND ts <= {ts[1]}"
        )
    )
    got = [r.asDict() for r in df.collect()]
    want = [r for r in _reference(blobs) if _keep(r, since, off, ts)]
    assert want
    assert sorted(map(_norm, got)) == sorted(map(_norm, want))
