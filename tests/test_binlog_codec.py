"""Binlog codec unit tests (SURVEY §5 rebuild plan: codec round-trips
over synthesized byte vectors, decimal sign-XOR/leading-zero edges,
torn-tail hold-back, rotation, table-map threading, null/used-columns
bitfields)."""

from __future__ import annotations

import pytest

from mysql_cdc_spark import STREAM_TMP
from mysql_cdc_spark.sources.binlog_codec import (
    MAGIC,
    TYPE_LONG,
    TYPE_NEWDECIMAL,
    TYPE_VARCHAR,
    DELETE_ROWS_EVENT,
    UPDATE_ROWS_EVENT,
    WRITE_ROWS_EVENT,
    BinlogWriter,
    TableDef,
    decimal_bin_size,
    decode_binlog,
    decode_decimal,
    enc_packed_int,
    encode_decimal,
    is_binlog,
    read_packed_int,
)

T3 = TableDef("foo", "auto", [(TYPE_LONG, None), (TYPE_NEWDECIMAL, (12, 4)), (TYPE_VARCHAR, 50)])
CAT = {("foo", "auto"): ["id", "val", "word"]}


# --- packed decimal ----------------------------------------------------------

DECIMAL_VECTORS = [
    ("0.0000", 12, 4),
    ("1234.5678", 12, 4),
    ("-1234.5678", 12, 4),          # sign XOR + complement
    ("-0.0001", 12, 4),             # negative with zero integer part
    ("99999999.9999", 12, 4),       # max magnitude
    ("0.0056", 12, 4),              # leading zeros in fraction
    ("-7.25", 5, 2),
    ("3", 5, 0),                    # scale-0
    ("123456789012345678.123456789", 27, 9),  # multi-group both sides
    ("-999999999.999999999", 18, 9),
]


@pytest.mark.parametrize("txt,p,s", DECIMAL_VECTORS)
def test_decimal_roundtrip(txt, p, s):
    b = encode_decimal(txt, p, s)
    assert len(b) == decimal_bin_size(p, s)
    assert decode_decimal(b, p, s) == txt


def test_decimal_negative_zero_normalizes():
    assert decode_decimal(encode_decimal("-0.0000", 12, 4), 12, 4) == "0.0000"


def test_decimal_sign_bit_layout():
    # positive values store MSB set; negatives clear (sign XOR 0x80)
    assert encode_decimal("1.0000", 12, 4)[0] & 0x80
    assert not encode_decimal("-1.0000", 12, 4)[0] & 0x80


def test_decimal_bin_size_reference_shape():
    # the reference sizes its bench rows with decimalBinSize(12,4)
    # (mysql_bench.clj:116-124) — 12,4 → intg 8 → 4+ frac 4 → 2 = 6
    assert decimal_bin_size(12, 4) == 6
    assert decimal_bin_size(27, 9) == 12  # 2 full int groups + 1 full frac group


# --- packed ints -------------------------------------------------------------

@pytest.mark.parametrize("n", [0, 1, 250, 251, 65535, 65536, 1 << 23, 1 << 24, 1 << 40])
def test_packed_int_roundtrip(n):
    buf = enc_packed_int(n) + b"tail"
    v, pos = read_packed_int(buf, 0)
    assert v == n and pos == len(buf) - 4


# --- event stream ------------------------------------------------------------

def _small_log() -> bytes:
    w = BinlogWriter()
    w.write_query("foo", "INSERT INTO foo.auto VALUES (?)", ts=100)
    w.write_table_map(T3, ts=100)
    w.write_rows(WRITE_ROWS_EVENT, T3, [[5, "12.3400", "hello"], [6, "-1.0001", None]], ts=100)
    w.write_xid(42, ts=100)
    w.write_rows(UPDATE_ROWS_EVENT, T3, [([5, "12.3400", "hello"], [5, "99.0000", "bye"])], ts=101)
    w.write_xid(43, ts=101)
    return w.getvalue()


def test_magic_and_validation():
    data = _small_log()
    assert data[:4] == MAGIC and is_binlog(data)
    assert not is_binlog(b"nope")
    with pytest.raises(ValueError):
        decode_binlog(b"not a binlog")


def test_full_decode_round_trip():
    evs = decode_binlog(_small_log(), CAT)
    ops = [e["op"] for e in evs]
    assert ops == ["format_description", "query", "table_map", "write_rows",
                   "xid", "update_rows", "xid"]
    q = evs[1]
    assert (q["db"], q["sql"], q["ts"]) == ("foo", "INSERT INTO foo.auto VALUES (?)", 100)
    wr = evs[3]
    assert wr["after"] == [
        {"id": 5, "val": "12.3400", "word": "hello"},
        {"id": 6, "val": "-1.0001", "word": None},   # null bitmap
    ]
    up = evs[5]
    assert up["before"] == [{"id": 5, "val": "12.3400", "word": "hello"}]
    assert up["after"] == [{"id": 5, "val": "99.0000", "word": "bye"}]
    assert evs[4]["xid"] == 42 and evs[6]["xid"] == 43
    # offsets chain: each event's offset is the previous event's next
    for prev, cur in zip(evs, evs[1:]):
        assert cur["offset"] == prev["next"]


def test_rows_v2_framing_round_trip():
    """v2 rows events (MySQL >=5.6 type codes 30/31/32 with the
    extra-row-info post-header) decode to the IDENTICAL envelope as the
    v1 framing of the same content — writer v2 flag + decoder v2
    dispatch, equivalence against the v1 log byte layout aside."""
    w = BinlogWriter()
    w.write_query("foo", "INSERT INTO foo.auto VALUES (?)", ts=100)
    w.write_table_map(T3, ts=100)
    w.write_rows(
        WRITE_ROWS_EVENT, T3,
        [[5, "12.3400", "hello"], [6, "-1.0001", None]], ts=100, v2=True,
    )
    w.write_xid(42, ts=100)
    w.write_rows(
        UPDATE_ROWS_EVENT, T3,
        [([5, "12.3400", "hello"], [5, "99.0000", "bye"])], ts=101, v2=True,
    )
    w.write_xid(43, ts=101)
    w.write_rows(DELETE_ROWS_EVENT, T3, [[6, "-1.0001", None]], ts=102, v2=True)

    evs = decode_binlog(w.getvalue(), CAT)
    v1 = decode_binlog(_small_log(), CAT)
    strip = ("offset", "next", "event_len")  # v2 bodies are 2 bytes longer
    a = [{k: v for k, v in e.items() if k not in strip} for e in evs[:7]]
    b = [{k: v for k, v in e.items() if k not in strip} for e in v1]
    assert a == b
    assert evs[7]["op"] == "delete_rows"
    assert evs[7]["before"] == [{"id": 6, "val": "-1.0001", "word": None}]
    # and the extra-row-info length is validated
    bad = bytearray(w.getvalue())
    wr_off = next(e["offset"] for e in evs if e["op"] == "write_rows")
    bad[wr_off + 19 + 8] = 1  # extra_len = 1 < 2
    bad[wr_off + 19 + 9] = 0
    with pytest.raises(ValueError, match="extra-data length"):
        decode_binlog(bytes(bad), CAT)


def test_torn_tail_holdback():
    """A partially written trailing event is not emitted (reference
    :316, :326-328) — at ANY truncation point."""
    data = _small_log()
    full = len(decode_binlog(data, CAT))
    # final event is XID: 19B header + 8B body = 27B
    for cut in (1, 5, 10, 18, 19, 26):   # truncate inside the final event
        evs = decode_binlog(data[:-cut], CAT)
        assert len(evs) == full - 1
        assert evs[-1]["op"] == "update_rows"
    evs = decode_binlog(data[:-28], CAT)  # cut reaches into the event before
    assert len(evs) == full - 2


def test_used_columns_partial_image():
    """Unused column → key ABSENT; NULL column → key with None (the
    reference's '_' vs nil distinction, :604 vs :606-608)."""
    w = BinlogWriter()
    w.write_table_map(T3)
    w.write_rows(WRITE_ROWS_EVENT, T3, [[7, None]], present=[True, True, False])
    evs = decode_binlog(w.getvalue(), CAT)
    img = evs[-1]["after"][0]
    assert img == {"id": 7, "val": None}
    assert "word" not in img


def test_row_event_without_table_map_raises():
    w = BinlogWriter()
    w.write_rows(WRITE_ROWS_EVENT, T3, [[1, "1.0000", "x"]])
    with pytest.raises(ValueError, match="TABLE_MAP"):
        decode_binlog(w.getvalue(), CAT)


def test_rotate_event_decoded():
    w = BinlogWriter()
    w.write_query("foo", "X")
    w.write_rotate("binlog.000002")
    evs = decode_binlog(w.getvalue(), CAT)
    assert evs[-1]["op"] == "rotate" and evs[-1]["sql"] == "binlog.000002"


def test_multi_table_map_threading():
    """The decode loop threads the LATEST table map (reference
    :715-729): rows bind to the most recent one."""
    other = TableDef("bench", "big", T3.columns, table_id=2)
    w = BinlogWriter()
    w.write_table_map(T3)
    w.write_rows(WRITE_ROWS_EVENT, T3, [[1, "1.0000", "a"]])
    w.write_table_map(other)
    w.write_rows(WRITE_ROWS_EVENT, other, [[2, "2.0000", "b"]])
    evs = decode_binlog(w.getvalue(), {**CAT, ("bench", "big"): ["id", "val", "word"]})
    rows = [e for e in evs if e["op"] == "write_rows"]
    assert (rows[0]["db"], rows[0]["tbl"]) == ("foo", "auto")
    assert (rows[1]["db"], rows[1]["tbl"]) == ("bench", "big")


def test_ordinal_names_without_catalog():
    """No catalog → ordinal column names, like the reference's JDBC
    layer (jdbc.clj:82)."""
    w = BinlogWriter()
    w.write_table_map(T3)
    w.write_rows(WRITE_ROWS_EVENT, T3, [[1, "1.0000", "x"]])
    evs = decode_binlog(w.getvalue())
    assert evs[-1]["after"] == [{"1": 1, "2": "1.0000", "3": "x"}]


def test_format_description_fields_decoded():
    """D2: binlog version, server version, header length (reference
    read-v4-format-description :343-353)."""
    w = BinlogWriter()
    fde = decode_binlog(w.getvalue())[0]
    assert fde["op"] == "format_description"
    assert fde["binlog_version"] == 4
    assert fde["server_version"] == "5.5.62-spark-cdc"
    assert fde["header_length"] == 19


def test_spark_source_multi_row_events(spark):
    """Multi-row rows-events through the FULL Spark path (binaryFile →
    mapInPandas): one envelope record per row image, sharing the
    event's seq, ordered by row_idx."""
    import os
    import shutil
    import uuid

    from mysql_cdc_spark.sources.binlog_source import read_binlog_envelope

    scratch = f"{STREAM_TMP}/test/{uuid.uuid4().hex[:10]}"
    os.makedirs(scratch, exist_ok=True)
    w = BinlogWriter()
    w.write_table_map(T3)
    w.write_rows(
        WRITE_ROWS_EVENT, T3,
        [[1, "1.0000", "a"], [2, "2.0000", None], [3, "3.0000", "c"]],
    )
    w.write_rows(
        UPDATE_ROWS_EVENT, T3,
        [([1, "1.0000", "a"], [1, "9.0000", "z"]),
         ([2, "2.0000", None], [2, "8.0000", "y"])],
    )
    with open(f"{scratch}/binlog.000000", "wb") as fh:
        fh.write(w.getvalue())
    try:
        env = read_binlog_envelope(spark, scratch).orderBy("seq", "row_idx").collect()
        writes = [r for r in env if r["op"] == "write_rows"]
        assert [(r["seq"], r["row_idx"]) for r in writes] == [(1, 0), (1, 1), (1, 2)]
        assert writes[1]["after"] == {"id": "2", "val": "2.0000", "word": None}
        updates = [r for r in env if r["op"] == "update_rows"]
        assert [(r["row_idx"]) for r in updates] == [0, 1]
        assert updates[0]["before"]["val"] == "1.0000"
        assert updates[0]["after"]["val"] == "9.0000"
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# --- ENUM / SET (reference read-type :530-536) -------------------------------

from mysql_cdc_spark.sources.binlog_codec import TYPE_ENUM, TYPE_SET  # noqa: E402

T_ES = TableDef(
    "bench", "tags",
    [(TYPE_LONG, None), (TYPE_ENUM, 5), (TYPE_ENUM, 300), (TYPE_SET, 4), (TYPE_SET, 12)],
)
CAT_ES = {("bench", "tags"): ["id", "state", "wide", "flags", "perms"]}


def test_enum_set_roundtrip():
    """ENUM decodes to its 1/2-byte ordinal, SET to raw bitset bytes —
    both widths of each."""
    w = BinlogWriter()
    w.write_table_map(T_ES)
    w.write_rows(WRITE_ROWS_EVENT, T_ES, [[7, 3, 257, 0b1010, 0xABC]])
    after = decode_binlog(w.getvalue(), CAT_ES)[-1]["after"][0]
    assert after["state"] == 3
    assert after["wide"] == 257                       # needs the 2-byte width
    assert after["flags"] == bytes([0b1010])          # raw bitset bytes
    assert after["perms"] == (0xABC).to_bytes(2, "little")


def test_enum_null_and_set_zero():
    """NULL bitmap interacts correctly with ENUM/SET columns."""
    w = BinlogWriter()
    w.write_table_map(T_ES)
    w.write_rows(WRITE_ROWS_EVENT, T_ES, [[1, None, 1, 0, None]])
    after = decode_binlog(w.getvalue(), CAT_ES)[-1]["after"][0]
    assert after["state"] is None
    assert after["flags"] == b"\x00"
    assert after["perms"] is None


def test_enum_set_wire_format_is_string_hybrid():
    """On the wire ENUM/SET columns travel as MYSQL_TYPE_STRING with
    the real type in metadata byte 0 (public format) — the table-map
    state must record the hybrid, not a private type code."""
    from mysql_cdc_spark.sources.binlog_codec import (
        TYPE_STRING,
        decode_binlog_incremental,
    )

    w = BinlogWriter()
    w.write_table_map(T_ES)
    _, _, tmap, _ = decode_binlog_incremental(w.getvalue(), catalog=CAT_ES)
    assert tmap.col_types == [TYPE_LONG, TYPE_STRING, TYPE_STRING, TYPE_STRING, TYPE_STRING]
    assert tmap.col_meta[1] == (TYPE_ENUM, 1)
    assert tmap.col_meta[2] == (TYPE_ENUM, 2)
    assert tmap.col_meta[3] == (TYPE_SET, 1)
    assert tmap.col_meta[4] == (TYPE_SET, 2)


def test_query_event_post_header_fields():
    """D3 full decode: thread_id, exec_time, error_code surfaced
    (reference read-query, mysql_binlog.clj:368-383)."""
    w = BinlogWriter()
    w.write_query("foo", "UPDATE t SET x = 1", ts=7,
                  thread_id=4242, exec_time=3, error_code=1062)
    ev = decode_binlog(w.getvalue())[-1]
    assert ev["op"] == "query"
    assert ev["thread_id"] == 4242
    assert ev["exec_time"] == 3
    assert ev["error_code"] == 1062
    assert ev["db"] == "foo"
    assert ev["sql"] == "UPDATE t SET x = 1"


def test_corrupt_event_raises_value_error():
    """A complete-but-malformed event surfaces as a diagnosable
    ValueError (offset + event kind), never a raw IndexError/
    struct.error from body parsing."""
    w = BinlogWriter()
    w.write_table_map(T3)
    w.write_rows(WRITE_ROWS_EVENT, T3, [[1, "1.0000", "abc"]])
    # an XID event whose body is shorter than its 8-byte payload —
    # complete per the header (so not held back as torn), but malformed
    w._emit(16, b"\x01\x02")  # XID_EVENT with a 2-byte body
    with pytest.raises(ValueError, match="corrupt xid.*offset"):
        decode_binlog(w.getvalue(), CAT)


def test_garbage_bodies_never_crash_unhandled():
    """Fuzz: random bytes stuffed into known event types decode or
    raise ValueError - nothing else escapes."""
    import random

    rng = random.Random(7)
    # includes the r8 types: v2 rows (30-32), GTID family (33-35),
    # transaction payload (40), intvar (5), rows_query (29)
    types = [2, 5, 16, 19, 23, 24, 25, 29, 30, 31, 32, 33, 34, 35, 40]
    for _ in range(400):
        w = BinlogWriter()
        w.write_table_map(T3)
        body = bytes(rng.randrange(256) for _ in range(rng.randrange(1, 40)))
        w._emit(rng.choice(types), body)
        try:
            decode_binlog(w.getvalue(), CAT)
        except ValueError:
            pass


def test_json_bit_log_byte_flips_never_crash_unhandled():
    """Fuzz the REAL decode surface: flip one byte anywhere in a valid
    JSON/BIT/legacy-temporal v2 log; quarantine mode must always
    terminate and yield events (the frame walk survives), raise mode
    must fail with ValueError only."""
    import random

    from mysql_cdc_spark.sources.binlog_codec import (
        TYPE_BIT,
        TYPE_DATETIME,
        TYPE_JSON,
        encode_binary_json,
    )

    t = TableDef(
        "shop", "f",
        [(TYPE_LONG, None), (TYPE_JSON, 4), (TYPE_BIT, (2, 1)), (TYPE_DATETIME, None)],
    )
    cat = {("shop", "f"): ["id", "doc", "flags", "at"]}
    w = BinlogWriter()
    w.write_table_map(t, ts=1)
    w.write_rows(
        WRITE_ROWS_EVENT, t,
        [[1, encode_binary_json({"a": [1, "x"], "b": None}), 513,
          "2024-01-02 03:04:05"]],
        ts=1, v2=True,
    )
    w.write_xid(9, ts=1)
    base = bytes(w.getvalue())

    rng = random.Random(11)
    for _ in range(300):
        data = bytearray(base)
        i = rng.randrange(4, len(data))
        data[i] ^= 1 << rng.randrange(8)
        try:
            decode_binlog(bytes(data), cat)
        except ValueError:
            pass
        evs = decode_binlog(bytes(data), cat, on_error="quarantine")
        assert isinstance(evs, list)


def test_schema_evolution_mid_stream():
    """ALTER TABLE mid-log: a later TABLE_MAP for the same table adds a
    column; rows before bind to the old shape, rows after to the new —
    the threaded table-map state must swap cleanly (reference threads
    the LATEST map, :715-729)."""
    from mysql_cdc_spark.sources.binlog_codec import TYPE_ENUM

    t_v1 = TableDef("foo", "auto", [(TYPE_LONG, None), (TYPE_VARCHAR, 20)], table_id=1)
    t_v2 = TableDef(
        "foo", "auto",
        [(TYPE_LONG, None), (TYPE_VARCHAR, 20), (TYPE_ENUM, 5)], table_id=2,
    )
    cat = {("foo", "auto"): ["id", "name", "status"]}

    w = BinlogWriter()
    w.write_table_map(t_v1)
    w.write_rows(WRITE_ROWS_EVENT, t_v1, [[1, "before"]])
    w.write_query("foo", "ALTER TABLE foo.auto ADD COLUMN status ENUM('a','b','c','d','e')")
    w.write_table_map(t_v2)
    w.write_rows(WRITE_ROWS_EVENT, t_v2, [[2, "after", 3]])

    evs = decode_binlog(w.getvalue(), cat)
    rows = [e for e in evs if e["op"] == "write_rows"]
    assert rows[0]["after"] == [{"id": 1, "name": "before"}]       # old shape
    assert rows[1]["after"] == [{"id": 2, "name": "after", "status": 3}]  # new shape
    assert any(e["op"] == "query" and "ALTER" in e["sql"] for e in evs)


# --- wide type matrix (beyond the reference's decoder) -----------------------


def test_wide_types_roundtrip():
    """TINY/SHORT/INT24/LONGLONG/FLOAT/DOUBLE/YEAR/DATE/DATETIME2/
    TIMESTAMP2/TIME2/BLOB through write_rows → decode_binlog — every
    type the reference's read-type throws on (mysql_binlog.clj:558)."""
    from mysql_cdc_spark.sources.binlog_codec import (
        TYPE_BLOB, TYPE_DATE, TYPE_DATETIME2, TYPE_DOUBLE, TYPE_FLOAT,
        TYPE_INT24, TYPE_LONGLONG, TYPE_SHORT, TYPE_TIME2,
        TYPE_TIMESTAMP2, TYPE_TINY, TYPE_YEAR,
    )

    cols = [
        (TYPE_TINY, None), (TYPE_SHORT, None), (TYPE_INT24, None),
        (TYPE_LONGLONG, None), (TYPE_FLOAT, None), (TYPE_DOUBLE, None),
        (TYPE_YEAR, None), (TYPE_DATE, None), (TYPE_DATETIME2, 2),
        (TYPE_TIMESTAMP2, 3), (TYPE_TIME2, 4), (TYPE_BLOB, 2),
    ]
    names = ["a", "b", "c", "d", "e", "f", "g", "h", "i", "j", "k", "l"]
    t = TableDef("db", "wide", cols)
    row = [
        -128, -32768, -(1 << 23), -(1 << 62), 42.5, -1234.0625,
        2024, "1999-12-31", "2024-02-29 23:59:59.99",
        "1700000000.123", "-838:59:59.0042", b"\x00\xffblob",
    ]
    w = BinlogWriter()
    w.write_table_map(t)
    w.write_rows(WRITE_ROWS_EVENT, t, [row])
    evs = decode_binlog(w.getvalue(), {("db", "wide"): names})
    img = evs[-1]["after"][0]
    assert [img[n] for n in names] == row


def test_wide_types_nulls_and_edges():
    from mysql_cdc_spark.sources.binlog_codec import (
        TYPE_TIME2, TYPE_TIMESTAMP2, TYPE_TINY, TYPE_YEAR,
    )

    cols = [(TYPE_TINY, None), (TYPE_YEAR, None), (TYPE_TIMESTAMP2, 0), (TYPE_TIME2, 0)]
    t = TableDef("db", "w2", cols)
    w = BinlogWriter()
    w.write_table_map(t)
    w.write_rows(WRITE_ROWS_EVENT, t, [
        [127, 0, 0, "00:00:00"],          # YEAR 0 sentinel, epoch 0
        [None, 2155, 4294967295, "-00:00:01"],  # NULL + max YEAR/TS
    ])
    evs = decode_binlog(w.getvalue(), {("db", "w2"): ["a", "b", "c", "d"]})
    r0, r1 = evs[-1]["after"]
    assert r0 == {"a": 127, "b": 0, "c": 0, "d": "00:00:00"}
    assert r1 == {"a": None, "b": 2155, "c": 4294967295, "d": "-00:00:01"}


def test_time2_offset_binary_ordering():
    """The on-disk TIME2 bytes must order like the values (the point
    of offset-binary storage): -01:00:00 < -00:00:01 < 00:00:00 <
    00:00:01 < 838:59:59."""
    from mysql_cdc_spark.sources.binlog_codec import encode_time2

    vals = ["-01:00:00", "-00:00:01", "00:00:00", "00:00:01", "838:59:59"]
    encs = [encode_time2(v, 0) for v in vals]
    assert encs == sorted(encs)


def test_wide_metadata_wire_roundtrip():
    """fsp / pack-length / prefix-width metadata survives the
    TABLE_MAP wire format (1 metadata byte each)."""
    from mysql_cdc_spark.sources.binlog_codec import (
        TYPE_BLOB, TYPE_DATETIME2, TYPE_DOUBLE, TYPE_FLOAT, _read_table_map,
    )

    cols = [(TYPE_FLOAT, None), (TYPE_DOUBLE, None), (TYPE_DATETIME2, 6), (TYPE_BLOB, 4)]
    w = BinlogWriter()
    w.write_table_map(TableDef("d", "t", cols))
    evs = decode_binlog(w.getvalue(), {})
    assert evs[-1]["op"] == "table_map"
    # decode the raw body again to inspect metadata
    data = w.getvalue()
    # last event: find via offsets
    from mysql_cdc_spark.sources.binlog_codec import HEADER_LEN
    import struct as _s
    pos = 4
    last_body = None
    while pos + HEADER_LEN <= len(data):
        _, tc, _, elen, _, _ = _s.unpack_from("<IBIIIH", data, pos)
        if tc == 19:
            last_body = data[pos + HEADER_LEN:pos + elen]
        pos += elen
    tm = _read_table_map(last_body)
    assert tm.col_meta == [4, 8, 6, 4]


# ---------------------------------------------------------------------------
# Dead-letter (quarantine) decode
# ---------------------------------------------------------------------------


def test_quarantine_continues_past_poison_event():
    """A corrupted row-event body dead-letters that event and the walk
    continues: everything before AND after still decodes."""
    from mysql_cdc_spark.sources.binlog_codec import (
        HEADER_LEN,
        WRITE_ROWS_EVENT,
        BinlogWriter,
        TableDef,
        decode_binlog,
    )
    from mysql_cdc_spark.sources.binlog_source import FIXTURE_COLUMNS

    t = TableDef("foo", "auto", FIXTURE_COLUMNS, table_id=1)
    w = BinlogWriter()
    for i in range(3):
        w.write_table_map(t)
        start = w.offset
        w.write_rows(WRITE_ROWS_EVENT, t, [[i, f"{i}.0000", "x"]])
        if i == 1:
            w.buf[start + HEADER_LEN:] = b"\xfe" * (len(w.buf) - start - HEADER_LEN)
        w.write_xid(i)

    from mysql_cdc_spark.sources.binlog_source import FIXTURE_CATALOG

    evs = decode_binlog(w.getvalue(), FIXTURE_CATALOG, on_error="quarantine")
    ops = [e["op"] for e in evs if e["op"] != "format_description"]
    assert ops == [
        "table_map", "write_rows", "xid",
        "table_map", "quarantine", "xid",
        "table_map", "write_rows", "xid",
    ]
    q = next(e for e in evs if e["op"] == "quarantine")
    assert q["sql"].startswith("write_rows:")
    assert q["before"] is None and q["after"] is None
    # the clean rows around the poison decoded intact
    rows = [e for e in evs if e["op"] == "write_rows"]
    assert [r["after"][0]["id"] for r in rows] == [0, 2]


def test_raise_mode_still_raises_on_poison():
    import pytest

    from mysql_cdc_spark.sources.binlog_codec import (
        HEADER_LEN,
        WRITE_ROWS_EVENT,
        BinlogWriter,
        TableDef,
        decode_binlog,
    )
    from mysql_cdc_spark.sources.binlog_source import FIXTURE_COLUMNS

    t = TableDef("foo", "auto", FIXTURE_COLUMNS, table_id=1)
    w = BinlogWriter()
    w.write_table_map(t)
    start = w.offset
    w.write_rows(WRITE_ROWS_EVENT, t, [[1, "1.0000", "x"]])
    w.buf[start + HEADER_LEN:] = b"\xfe" * (len(w.buf) - start - HEADER_LEN)
    with pytest.raises(ValueError, match="columns"):
        decode_binlog(w.getvalue())


def test_row_width_mismatch_is_an_error_not_empty_rows():
    """The column-count cross-check: a row event whose declared width
    disagrees with the table map must FAIL, not decode as an empty row
    set (the silent-garbage failure mode the check closes)."""
    import pytest

    from mysql_cdc_spark.sources.binlog_codec import (
        HEADER_LEN,
        WRITE_ROWS_EVENT,
        BinlogWriter,
        TableDef,
        decode_binlog,
    )
    from mysql_cdc_spark.sources.binlog_source import FIXTURE_COLUMNS

    t = TableDef("foo", "auto", FIXTURE_COLUMNS, table_id=1)
    w = BinlogWriter()
    w.write_table_map(t)
    start = w.offset
    w.write_rows(WRITE_ROWS_EVENT, t, [[1, "1.0000", "x"]])
    w.buf[start + HEADER_LEN + 8] = 250  # n_cols byte: 3 → 250
    with pytest.raises(ValueError, match="250 columns"):
        decode_binlog(w.getvalue())


def test_quarantined_table_map_invalidates_carried_map():
    """A corrupt TABLE_MAP must reset the carried map: row events after
    it (same column count as the previous clean table!) must be
    quarantined as map-less, NOT silently decoded under the stale
    (db, tbl, types) of the earlier map."""
    from mysql_cdc_spark.sources.binlog_codec import (
        HEADER_LEN,
        TABLE_MAP_EVENT,
        WRITE_ROWS_EVENT,
        BinlogWriter,
        TableDef,
        decode_binlog,
    )
    from mysql_cdc_spark.sources.binlog_source import FIXTURE_CATALOG, FIXTURE_COLUMNS

    t1 = TableDef("foo", "auto", FIXTURE_COLUMNS, table_id=1)
    t2 = TableDef("bar", "other", FIXTURE_COLUMNS, table_id=2)
    w = BinlogWriter()
    w.write_table_map(t1)
    w.write_rows(WRITE_ROWS_EVENT, t1, [[1, "1.0000", "x"]])
    start = w.offset
    w.write_table_map(t2)  # corrupt this one
    w.buf[start + HEADER_LEN:] = b"\xfe" * (len(w.buf) - start - HEADER_LEN)
    # same 3-column shape as t1 — would decode "fine" under the stale map
    w.write_rows(WRITE_ROWS_EVENT, t2, [[2, "2.0000", "y"]])
    w.write_xid(1)

    evs = decode_binlog(w.getvalue(), FIXTURE_CATALOG, on_error="quarantine")
    ops = [e["op"] for e in evs if e["op"] != "format_description"]
    assert ops == ["table_map", "write_rows", "quarantine", "quarantine", "xid"]
    # the poisoned rows were NOT attributed to ("foo", "auto")
    rows = [e for e in evs if e["op"] == "write_rows"]
    assert len(rows) == 1 and rows[0]["after"][0]["id"] == 1
    q_rows = [e for e in evs if e["op"] == "quarantine"]
    assert q_rows[0]["sql"].startswith("table_map:")
    assert q_rows[1]["sql"].startswith("write_rows:")


# ---------------------------------------------------------------------------
# CRC32 checksum framing (MySQL >=5.6.6 binlog_checksum) — fidelity
# beyond the reference's 5.1 era (mysql_binlog.clj:222-259 has no
# checksum handling and would mis-parse such logs).
# ---------------------------------------------------------------------------


def _txn_events(w, i=1):
    from mysql_cdc_spark.sources.binlog_codec import WRITE_ROWS_EVENT
    from mysql_cdc_spark.sources.binlog_source import FIXTURE_COLUMNS

    t = TableDef("foo", "auto", FIXTURE_COLUMNS, table_id=1)
    w.write_query("foo", "BEGIN", ts=i)
    w.write_table_map(t, ts=i)
    w.write_rows(WRITE_ROWS_EVENT, t, [[i, f"-{i}.2500", "crc"]], ts=i)
    w.write_xid(i, ts=i)


def test_crc32_roundtrip_matches_legacy_decode():
    from mysql_cdc_spark.sources.binlog_codec import BinlogWriter, decode_binlog
    from mysql_cdc_spark.sources.binlog_source import FIXTURE_CATALOG

    legacy, crc = BinlogWriter(), BinlogWriter(checksum="crc32")
    for w in (legacy, crc):
        for i in range(5):
            _txn_events(w, i)
    evs_l = decode_binlog(legacy.getvalue(), FIXTURE_CATALOG)
    evs_c = decode_binlog(crc.getvalue(), FIXTURE_CATALOG)
    assert len(evs_l) == len(evs_c)
    for a, b in zip(evs_l, evs_c):
        for k in ("op", "db", "tbl", "xid", "before", "after"):
            assert a.get(k) == b.get(k)
    fde = evs_c[0]
    assert fde["op"] == "format_description"
    assert fde["checksum_alg"] == "crc32"
    assert evs_l[0].get("checksum_alg") is None


def test_crc32_detects_single_bit_corruption():
    import pytest

    from mysql_cdc_spark.sources.binlog_codec import (
        HEADER_LEN, BinlogWriter, decode_binlog,
    )
    from mysql_cdc_spark.sources.binlog_source import FIXTURE_CATALOG

    w = BinlogWriter(checksum="crc32")
    start = w.offset
    _txn_events(w, 7)
    # flip one bit inside the QUERY event's body (not its CRC) — a
    # corruption the un-checksummed decode would silently accept
    # (latin-1 decodes anything)
    w.buf[start + HEADER_LEN + 20] ^= 0x01
    with pytest.raises(ValueError, match="CRC32 mismatch"):
        decode_binlog(w.getvalue(), FIXTURE_CATALOG)
    evs = decode_binlog(w.getvalue(), FIXTURE_CATALOG, on_error="quarantine")
    ops = [e["op"] for e in evs]
    assert ops.count("quarantine") == 1
    q = next(e for e in evs if e["op"] == "quarantine")
    assert "ValueError" in q["sql"]
    # everything after the poison event still decodes
    assert [e["xid"] for e in evs if e["op"] == "xid"] == [7]


def test_crc32_tailer_incremental_turns(tmp_path):
    """Turn 2+ starts PAST the FDE: the tailer must carry the detected
    checksum mode across turns or CRC trailers would be parsed as row
    bytes."""
    from mysql_cdc_spark.sources.binlog_codec import BinlogWriter
    from mysql_cdc_spark.sources.binlog_source import FIXTURE_CATALOG
    from mysql_cdc_spark.streaming.binlog_tailer import BinlogTailer

    w = BinlogWriter(checksum="crc32")
    path = tmp_path / "binlog.000001"
    path.write_bytes(w.getvalue())
    got = []
    tailer = BinlogTailer(str(tmp_path), "binlog.000001", got.extend, FIXTURE_CATALOG)
    tailer.turn()
    assert tailer.checksum == "crc32"
    for i in range(3):
        _txn_events(w, i)
        path.write_bytes(w.getvalue())
        tailer.turn()
    rows = [e for e in got if e["op"] == "write_rows"]
    assert [r["after"][0]["val"] for r in rows] == ["-0.2500", "-1.2500", "-2.2500"]
    assert [e["xid"] for e in got if e["op"] == "xid"] == [0, 1, 2]


# ---------------------------------------------------------------------------
# GTID events (MySQL >=5.6) — modern-log fidelity the reference lacks
# (its dispatch table, mysql_binlog.clj:222-259, has no GTID entries).
# ---------------------------------------------------------------------------

_SID = "3e11fa47-71ca-11e1-9e33-c80aa9429562"


def test_gtid_roundtrip():
    from mysql_cdc_spark.sources.binlog_codec import (
        BinlogWriter, decode_binlog,
    )
    from mysql_cdc_spark.sources.binlog_source import FIXTURE_CATALOG

    w = BinlogWriter()
    w.write_previous_gtids({_SID: [(1, 5), (7, 7)]})
    for i in range(3):
        w.write_gtid(_SID, 6 + i, ts=i)
        _txn_events(w, i)
    evs = decode_binlog(w.getvalue(), FIXTURE_CATALOG)
    prev = next(e for e in evs if e["op"] == "previous_gtids")
    assert prev["sql"] == f"{_SID}:1-5:7"
    gtids = [e for e in evs if e["op"] == "gtid"]
    assert [g["gtid"] for g in gtids] == [f"{_SID}:6", f"{_SID}:7", f"{_SID}:8"]
    assert [g["sql"] for g in gtids] == [g["gtid"] for g in gtids]
    # transaction assembly unaffected: GTID precedes BEGIN, XID commits
    assert [e["xid"] for e in evs if e["op"] == "xid"] == [0, 1, 2]


def test_gtid_with_crc32_framing():
    from mysql_cdc_spark.sources.binlog_codec import (
        BinlogWriter, decode_binlog,
    )
    from mysql_cdc_spark.sources.binlog_source import FIXTURE_CATALOG

    w = BinlogWriter(checksum="crc32")
    w.write_previous_gtids({_SID: [(1, 9)]})
    w.write_gtid(_SID, 10)
    _txn_events(w, 10)
    evs = decode_binlog(w.getvalue(), FIXTURE_CATALOG)
    assert next(e for e in evs if e["op"] == "previous_gtids")["sql"] == f"{_SID}:1-9"
    assert next(e for e in evs if e["op"] == "gtid")["gtid"] == f"{_SID}:10"
    assert [e["xid"] for e in evs if e["op"] == "xid"] == [10]


def test_gtid_flows_through_tailer(tmp_path):
    from mysql_cdc_spark.sources.binlog_codec import BinlogWriter
    from mysql_cdc_spark.sources.binlog_source import FIXTURE_CATALOG
    from mysql_cdc_spark.streaming.binlog_tailer import BinlogTailer

    w = BinlogWriter()
    w.write_gtid(_SID, 1)
    _txn_events(w, 1)
    (tmp_path / "binlog.000001").write_bytes(w.getvalue())
    got = []
    BinlogTailer(str(tmp_path), "binlog.000001", got.extend, FIXTURE_CATALOG).turn()
    assert [e["op"] for e in got][:2] == ["gtid", "query"]
    assert got[0]["sql"] == f"{_SID}:1"


def test_rows_query_event_roundtrip():
    from mysql_cdc_spark.sources.binlog_codec import BinlogWriter, decode_binlog
    from mysql_cdc_spark.sources.binlog_source import FIXTURE_CATALOG

    stmt = "UPDATE foo.auto SET val = val + 1 WHERE word LIKE 'x%'"
    w = BinlogWriter(checksum="crc32")
    w.write_rows_query(stmt)
    _txn_events(w, 3)
    evs = decode_binlog(w.getvalue(), FIXTURE_CATALOG)
    rq = next(e for e in evs if e["op"] == "rows_query")
    assert rq["sql"] == stmt
    assert [e["xid"] for e in evs if e["op"] == "xid"] == [3]


def test_generator_rows_query_interleaving(tmp_path):
    """rows_query=True puts the original DML text between each QUERY
    and its TABLE_MAP — even when the QUERY slot carries DDL — so
    statement attribution (cdc_binlog_rows_query) can window it onto
    the row images."""
    import duckdb

    from mysql_cdc_spark.sources import binlog_codec as bc
    from mysql_cdc_spark.sources import binlog_source as bs

    con = duckdb.connect()
    con.execute(
        "COPY (SELECT CAST(range AS BIGINT) AS event_id, "
        "CAST(range % 7 AS BIGINT) AS user_id, "
        "CASE range % 5 WHEN 0 THEN 'signup' WHEN 1 THEN 'click' "
        "WHEN 2 THEN 'view' WHEN 3 THEN 'purchase' ELSE 'error' END AS event_type, "
        "CAST(range AS DOUBLE) AS value, '{}' AS props "
        "FROM range(60)) TO '" + str(tmp_path / "events.parquet") + "'"
    )
    out = tmp_path / "logs"
    bs.generate_binlog_from_events(str(tmp_path), str(out), rows_query=True)
    first = sorted(out.glob("binlog.*"))[0]
    evs = bc.decode_binlog(first.read_bytes())
    ops = [e["op"] for e in evs if e["op"] not in ("format_description", "rotate")]
    # 5-event cadence: query, rows_query, table_map, <rows>, xid
    assert ops[0] == "query" and ops[1] == "rows_query" and ops[2] == "table_map"
    assert ops[4] == "xid" and ops[5] == "query"
    rq = [e for e in evs if e["op"] == "rows_query"]
    assert all(
        e["sql"].startswith(("INSERT INTO", "UPDATE", "DELETE FROM")) for e in rq
    )
    # event_id 0 and 50 carry DDL in the QUERY slot but DML in rows_query
    ddl_q = [e for e in evs if e["op"] == "query" and e["sql"].startswith("ALTER")]
    assert ddl_q, "fixture should override every 50th statement with DDL"


def test_minimal_row_image_maps_contain_only_present_columns():
    """binlog_row_image=MINIMAL: absent columns must be MISSING from
    the image map (not-in-image), never present-with-NULL — the
    distinction a consumer needs to tell 'column unchanged' from
    'column set to NULL'."""
    w = BinlogWriter()
    w.write_table_map(T3)
    w.write_rows(
        UPDATE_ROWS_EVENT, T3, [([5, None, None], [None, "9.9000", None])],
        present=[True, False, False], present_after=[False, True, False],
    )
    w.write_table_map(T3)
    w.write_rows(DELETE_ROWS_EVENT, T3, [[5, None, None]], present=[True, False, False])
    evs = decode_binlog(w.getvalue(), CAT)
    upd = next(e for e in evs if e["op"] == "update_rows")
    assert upd["before"] == [{"id": 5}]          # PK only, no val/word keys
    assert upd["after"] == [{"val": "9.9000"}]   # changed column only
    dele = next(e for e in evs if e["op"] == "delete_rows")
    assert dele["before"] == [{"id": 5}]


def test_writer_column_name_tlv_roundtrip():
    """binlog_row_metadata=FULL: TableDef(column_names=...) emits the
    COLUMN_NAME TLV and the decoder names columns from the wire — no
    catalog at all; a catalog entry still takes precedence when given
    (the documented resolution order)."""
    named = TableDef(
        "lab", "acct", T3.columns, table_id=5,
        column_names=["id", "val", "word"],
    )
    w = BinlogWriter()
    w.write_table_map(named)
    w.write_rows(WRITE_ROWS_EVENT, named, [[9, "9.0000", "z"]])
    data = w.getvalue()
    rows = [e for e in decode_binlog(data, {}) if e["op"] == "write_rows"]
    assert rows[0]["after"] == [{"id": 9, "val": "9.0000", "word": "z"}]
    # catalog wins over wire names when both exist
    rows = [
        e for e in decode_binlog(data, {("lab", "acct"): ["a", "b", "c"]})
        if e["op"] == "write_rows"
    ]
    assert rows[0]["after"] == [{"a": 9, "b": "9.0000", "c": "z"}]
    # name-count mismatch is a writer-side error, not silent truncation
    with pytest.raises(ValueError, match="one name per column"):
        bad = TableDef("lab", "acct", T3.columns, column_names=["only_one"])
        BinlogWriter().write_table_map(bad)


# --- projection pruning below decode (images= pushdown) ---------------------


def _wide_matrix_log():
    """One log exercising every width class the skipper handles: fixed
    ints/floats/temporals, length-prefixed varchar/blob, packed
    decimal, enum/set hybrids, BIT, JSON — write, update AND delete
    events, multi-row, with NULLs sprinkled."""
    from mysql_cdc_spark.sources.binlog_codec import (
        TYPE_BIT, TYPE_BLOB, TYPE_DATETIME2, TYPE_DOUBLE, TYPE_ENUM,
        TYPE_FLOAT, TYPE_JSON, TYPE_LONGLONG, TYPE_SET, TYPE_SHORT,
        TYPE_STRING, TYPE_TIME2, TYPE_TIMESTAMP2, TYPE_TINY, TYPE_YEAR,
        encode_binary_json,
    )

    cols = [
        (TYPE_TINY, None), (TYPE_SHORT, None), (TYPE_LONGLONG, None),
        (TYPE_FLOAT, None), (TYPE_DOUBLE, None), (TYPE_YEAR, None),
        (TYPE_DATETIME2, 2), (TYPE_TIMESTAMP2, 3), (TYPE_TIME2, 4),
        (TYPE_BLOB, 2), (TYPE_VARCHAR, 50), (TYPE_VARCHAR, 500),
        (TYPE_NEWDECIMAL, (12, 4)), (TYPE_ENUM, 5),
        (TYPE_SET, 12), (TYPE_BIT, (2, 1)),
        (TYPE_JSON, 4), (TYPE_LONG, None),
    ]
    names = [f"c{i}" for i in range(len(cols))]
    t = TableDef("db", "m", cols, table_id=11)
    r1 = [
        1, -7, 1 << 40, 0.5, -2.25, 2024, "2024-02-29 23:59:59.99",
        "1700000000.123", "-838:59:59.0042", b"\x00\xff", "short",
        "x" * 300, "12345678.9999", 2, b"\x03\x00", 5,
        encode_binary_json({"k": [1, 2, {"n": None}]}), 42,
    ]
    r2 = [
        None, 0, None, None, 1.0, 0, "1999-01-01 00:00:00.00",
        "0.000", "00:00:00.0000", None, None, "y", None, 1,
        b"\x00\x00", None, None, -42,
    ]
    w = BinlogWriter(checksum="crc32")
    w.write_table_map(t)
    w.write_rows(WRITE_ROWS_EVENT, t, [r1, r2])
    w.write_table_map(t)
    w.write_rows(UPDATE_ROWS_EVENT, t, [(r1, r2), (r2, r1)])
    w.write_table_map(t)
    w.write_rows(DELETE_ROWS_EVENT, t, [r2, r1])
    w.write_xid(9)
    return w.getvalue(), {("db", "m"): names}


@pytest.mark.parametrize("mode", ["none", "after", "before"])
def test_image_prune_parity_full_matrix(mode):
    """images= width-walk parity over the full type matrix: structure
    (op/offset/seq/row count) identical to a full decode, kept side
    byte-identical, pruned side None placeholders.  A skipper/decoder
    width divergence raises 'misparse' instead of passing — the walk
    must land exactly on the body end."""
    data, cat = _wide_matrix_log()
    full = decode_binlog(data, cat)
    pruned = decode_binlog(data, cat, images=mode)
    assert [(e["op"], e["offset"], e["seq"]) for e in pruned] == [
        (e["op"], e["offset"], e["seq"]) for e in full
    ]
    for f, p in zip(full, pruned):
        if not f["op"].endswith("_rows"):
            assert p == f
            continue
        for side in ("before", "after"):
            fs, ps = f[side], p[side]
            if fs is None:
                assert ps is None
                continue
            assert len(ps) == len(fs)  # cardinality always exact
            keep = (
                (side == "after" and mode == "after")
                or (side == "before" and mode == "before")
            )
            if keep:
                assert ps == fs
            else:
                assert ps == [None] * len(fs)


def test_image_prune_partial_update_full_decode_fallback():
    """PARTIAL_UPDATE after-images are diffs against the before image:
    pruning cannot skip the decode, so the values must still be EXACT
    (full-decode fallback) with the placeholder contract applied."""
    from mysql_cdc_spark.sources.binlog_codec import (
        TYPE_JSON, JsonDiffs, encode_binary_json,
    )

    t = TableDef(
        "db", "pj", [(TYPE_LONG, None), (TYPE_JSON, 4)], table_id=3
    )
    cat = {("db", "pj"): ["id", "doc"]}
    w = BinlogWriter()
    w.write_table_map(t)
    w.write_partial_update_rows(
        t,
        [(
            [7, encode_binary_json({"a": 1, "b": 2})],
            [7, JsonDiffs([("replace", "$.a", 99)])],
        )],
    )
    full = decode_binlog(w.getvalue(), cat)
    after_only = decode_binlog(w.getvalue(), cat, images="after")
    upd_f = next(e for e in full if e["op"] == "update_rows")
    upd_p = next(e for e in after_only if e["op"] == "update_rows")
    assert upd_p["after"] == upd_f["after"]      # diffs applied exactly
    assert upd_p["before"] == [None]             # placeholder contract
    none = decode_binlog(w.getvalue(), cat, images="none")
    upd_n = next(e for e in none if e["op"] == "update_rows")
    assert upd_n["before"] == [None] and upd_n["after"] == [None]


def test_image_prune_composes_with_only_filters():
    """images= composes with only_tables/only_ops: a frame skipped by
    the row filters never walks at all; a kept frame prunes."""
    data, cat = _wide_matrix_log()
    evs = decode_binlog(
        data, cat, only_ops={"update_rows"}, images="after"
    )
    row_ops = [e["op"] for e in evs if e["op"].endswith("_rows")]
    assert row_ops == ["update_rows"]
    upd = next(e for e in evs if e["op"] == "update_rows")
    assert upd["before"] == [None, None]
    full = decode_binlog(data, cat)
    upd_f = next(e for e in full if e["op"] == "update_rows")
    assert upd["after"] == upd_f["after"]
    assert upd["seq"] == upd_f["seq"]  # seq slots unaffected
