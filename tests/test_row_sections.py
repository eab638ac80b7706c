"""The push path's per-frame decode work in the binlog codec: compiled
row sections (`_row_section`), NEWDECIMAL unrolled per (precision,
scale) inside the compiled image plans, and TABLE_MAP bodies resolved
once per decode call.

Values are pinned against the definitional decoders (`decode_decimal`,
an interpreted row loop); the work guards count calls, never clocks."""

from __future__ import annotations

import ctypes.util
import random

import pytest

import mysql_cdc_spark.sources.binlog_codec as bc
from mysql_cdc_spark.sources.binlog_codec import (
    DELETE_ROWS_EVENT,
    TYPE_LONG,
    TYPE_NEWDECIMAL,
    TYPE_VARCHAR,
    UPDATE_ROWS_EVENT,
    WRITE_ROWS_EVENT,
    WRITE_ROWS_EVENT_V2,
    BinlogWriter,
    TableDef,
    decode_binlog,
    decode_decimal,
    enc_packed_int,
    encode_decimal,
)


@pytest.fixture(autouse=True)
def _fresh_plans():
    # TableMapState instances (and the plans cached on them) are
    # memoized globally: start and end every test with fresh ones.
    bc._TMAP_CACHE.clear()
    bc._TMAP_FULL.clear()
    yield
    bc._TMAP_CACHE.clear()
    bc._TMAP_FULL.clear()


# --- inline packed decimals --------------------------------------------------

def _decimal_samples(p: int, s: int, rng: random.Random) -> list[bytes]:
    """Packed values of DECIMAL(p, s): zero, ±all-nines, random values
    of both signs, the stored negative zero, and raw bytes that are no
    canonical encoding at all (group values past 10^9 - 1)."""
    intg = p - s

    def text(ip: str, fp: str) -> str:
        return f"{ip or '0'}.{fp}" if s else (ip or "0")

    texts = ["0", "-0", text("9" * intg, "9" * s), "-" + text("9" * intg, "9" * s)]
    for _ in range(4):
        ip = str(rng.randrange(10 ** intg)) if intg else ""
        fp = str(rng.randrange(10 ** s)).rjust(s, "0") if s else ""
        texts += [text(ip, fp), "-" + text(ip, fp)]
    out = [encode_decimal(t, p, s) for t in texts]
    zero = encode_decimal("0", p, s)
    out.append(bytes(b ^ 0xFF for b in zero))   # stored -0
    size = len(zero)
    for sign in (0x80, 0x00):
        raw = bytearray(rng.randbytes(size))
        raw[0] = (raw[0] & 0x7F) | sign
        out.append(bytes(raw))
    return out


@pytest.mark.parametrize("stringify", [False, True])
def test_inline_decimal_matches_decode_decimal_over_shape_grid(stringify):
    """Every (precision, scale) MySQL allows, up to (65, 30): the
    compiled plan's inline decode equals `decode_decimal` on negatives,
    zero, all-nines, non-canonical bytes and a field cut short by the
    body's end, in typed and string plans."""
    rng = random.Random(7)
    shapes = 0
    for p in range(1, 66):
        for s in range(0, min(p, 30) + 1):
            plan = bc._compile_image_plan(
                [("c", TYPE_NEWDECIMAL, (p, s), False, None)], 1, stringify
            )
            for packed in _decimal_samples(p, s, rng):
                body = b"\x00" + packed
                assert plan(body, 0) == (
                    {"c": decode_decimal(packed, p, s)}, len(body)
                ), (p, s, packed.hex())
                if len(packed) > 1:   # a body that ends inside the field
                    assert plan(body[:-1], 0)[0] == {
                        "c": decode_decimal(packed[:-1], p, s)
                    }, (p, s, packed.hex())
            shapes += 1
    assert shapes == 1580


def _decimal_log(values: list[str]) -> tuple[bytes, dict, TableDef]:
    cols = [(TYPE_LONG, None), (TYPE_NEWDECIMAL, (12, 4)),
            (TYPE_NEWDECIMAL, (65, 30)), (TYPE_NEWDECIMAL, (10, 0)),
            (TYPE_NEWDECIMAL, (5, 5))]
    t = TableDef("db", "dec", cols, table_id=3)
    rows = [[i, v, v, v.split(".")[0], "0." + v.split(".")[1].ljust(5, "0")[:5]]
            for i, v in enumerate(values)]
    w = BinlogWriter()
    w.write_table_map(t)
    w.write_rows(WRITE_ROWS_EVENT, t, rows)
    w.write_table_map(t)
    w.write_rows(UPDATE_ROWS_EVENT, t, list(zip(rows, rows)))
    w.write_table_map(t)
    w.write_rows(DELETE_ROWS_EVENT, t, rows)
    cat = {("db", "dec"): ["id", "a", "b", "c", "d"]}
    return w.getvalue(), cat, t


def _counting(monkeypatch, name: str) -> list:
    calls: list = []
    real = getattr(bc, name)

    def counted(*args):
        calls.append(args)
        return real(*args)

    monkeypatch.setattr(bc, name, counted)
    return calls


@pytest.mark.parametrize("stringify", [False, True])
def test_non_negative_decimals_never_call_decode_decimal(monkeypatch, stringify):
    calls = _counting(monkeypatch, "decode_decimal")
    data, cat, _ = _decimal_log(["0.0000", "1234.5678", "99999999.9999"])
    events = decode_binlog(data, cat, stringify=stringify)
    assert calls == []
    after = next(e for e in events if e["op"] == "write_rows")["after"]
    assert [r["a"] for r in after] == ["0.0000", "1234.5678", "99999999.9999"]
    assert after[2]["b"] == "99999999.9999" + "0" * 26
    assert [r["c"] for r in after] == ["0", "1234", "99999999"]
    assert [r["d"] for r in after] == ["0.00000", "0.56780", "0.99990"]
    # a negative value takes decode_decimal, once per negative column
    # value per image: 3 decimal columns negative (d stays 0.x), 4 images
    data, cat, _ = _decimal_log(["-1.5000"])
    bc._TMAP_CACHE.clear()
    bc._TMAP_FULL.clear()
    events = decode_binlog(data, cat, stringify=stringify)
    assert len(calls) == 3 * 4
    assert next(e for e in events if e["op"] == "delete_rows")["before"][0]["a"] == "-1.5000"


# --- TABLE_MAP resolution ------------------------------------------------------

def test_table_map_resolved_once_per_distinct_body_per_call(monkeypatch):
    calls = _counting(monkeypatch, "_table_map_for")
    cols = [(TYPE_LONG, None), (TYPE_VARCHAR, 20)]
    ta, tb = TableDef("db", "a", cols, table_id=1), TableDef("db", "b", cols, table_id=2)
    w = BinlogWriter()
    for i in range(6):
        for t in (ta, tb):
            w.write_table_map(t)
            w.write_rows(WRITE_ROWS_EVENT, t, [[i, "x"]])
        w.write_xid(i)
    data = w.getvalue()
    cat = {("db", "a"): ["id", "s"], ("db", "b"): ["id", "s"]}
    events = decode_binlog(data, cat)
    assert len(calls) == 2
    assert [e["tbl"] for e in events if e["op"] == "write_rows"] == ["a", "b"] * 6
    decode_binlog(data, cat)
    assert len(calls) == 4   # the per-call set starts empty each call


# --- compiled row sections: the same errors as the interpreted loop -----------

def _interpreted_section(tmap, type_code, used1, used2, images, stringify):
    """The row loop the compiled sections replaced, branching per row
    on the row type and on decode vs width-walk — the reference."""
    is_update = used2 is not None
    is_write = type_code in (WRITE_ROWS_EVENT, WRITE_ROWS_EVENT_V2)
    need_b = images in ("both", "before")
    need_a = images in ("both", "after")
    want1 = need_a if is_write else need_b
    plan1 = bc._image_plan(tmap, used1, stringify) if want1 else None
    skip1 = None if want1 else bc._skip_plan(tmap, used1)
    plan2 = skip2 = None
    if is_update:
        plan2 = bc._image_plan(tmap, used2, stringify) if need_a else None
        skip2 = None if need_a else bc._skip_plan(tmap, used2)

    def run(body, p):
        rows_before, rows_after = [], []
        while p < len(body):
            p0 = p
            if plan1 is not None:
                img1, p = plan1(body, p)
            else:
                img1, p = None, skip1(body, p)
            if is_update:
                if plan2 is not None:
                    img2, p = plan2(body, p)
                else:
                    img2, p = None, skip2(body, p)
                rows_before.append(img1)
                rows_after.append(img2)
            elif is_write:
                rows_after.append(img1)
            else:
                rows_before.append(img1)
            if p <= p0:
                raise ValueError("row image consumed no bytes")
        if (skip1 is not None or skip2 is not None) and p != len(body):
            raise ValueError(
                f"row section misparse under image pruning: walked to "
                f"{p}, body is {len(body)}"
            )
        return rows_before or None, rows_after or None

    return run


_T = TableDef("db", "t", [(TYPE_LONG, None), (TYPE_NEWDECIMAL, (12, 4)),
                          (TYPE_VARCHAR, 50)], table_id=5)
_CAT = {("db", "t"): ["id", "val", "word"]}
_ROW_CODES = (WRITE_ROWS_EVENT, UPDATE_ROWS_EVENT, DELETE_ROWS_EVENT)
_IMAGES = ("both", "before", "after", "none")


def _rows_event(type_code: int, v2: bool, section: bytes, n_cols: int = 3,
                used: bytes = b"\x07") -> bytes:
    """A log of one TABLE_MAP plus one hand-framed row event."""
    w = BinlogWriter()
    w.write_table_map(_T)
    body = _T.table_id.to_bytes(6, "little") + b"\x00\x00"
    if v2:
        body += b"\x02\x00"
    body += enc_packed_int(n_cols) + used
    if type_code == UPDATE_ROWS_EVENT:
        body += used
    w._emit(type_code + 7 if v2 else type_code, body + section)
    return w.getvalue()


def _outcome(data: bytes, **kw):
    try:
        return "ok", decode_binlog(data, _CAT, **kw)
    except ValueError as exc:
        return "raise", str(exc)


def _both_ways(monkeypatch, data: bytes, **kw):
    compiled = _outcome(data, **kw)
    with monkeypatch.context() as m:
        m.setattr(bc, "_row_section", _interpreted_section)
        bc._TMAP_CACHE.clear()
        bc._TMAP_FULL.clear()
        interpreted = _outcome(data, **kw)
    bc._TMAP_CACHE.clear()
    bc._TMAP_FULL.clear()
    return compiled, interpreted


@pytest.mark.parametrize("v2", [False, True])
@pytest.mark.parametrize("type_code", _ROW_CODES)
def test_wrong_column_count_raises(monkeypatch, type_code, v2):
    image = b"\x00" + (7).to_bytes(4, "little") + encode_decimal("1.5", 12, 4) + b"\x01x"
    data = _rows_event(type_code, v2, image * 2, n_cols=4)
    for images in _IMAGES:
        compiled, interpreted = _both_ways(monkeypatch, data, images=images)
        assert compiled == interpreted == (
            "raise", "row event declares 4 columns, table map has 3"
        )
    ev = decode_binlog(data, _CAT, on_error="quarantine")[-1]
    assert (ev["op"], ev["after"], ev["before"]) == ("quarantine", None, None)


@pytest.mark.parametrize("v2", [False, True])
@pytest.mark.parametrize("type_code", _ROW_CODES)
def test_zero_width_image_raises(monkeypatch, type_code, v2):
    # no used columns: an image is zero bytes wide, so a non-empty row
    # section can never advance
    data = _rows_event(type_code, v2, b"\x00\x00", used=b"\x00")
    for images in _IMAGES:
        for stringify in (False, True):
            compiled, interpreted = _both_ways(
                monkeypatch, data, images=images, stringify=stringify
            )
            assert compiled == interpreted == ("raise", "row image consumed no bytes")


@pytest.mark.parametrize("v2", [False, True])
@pytest.mark.parametrize("type_code", _ROW_CODES)
def test_overshoot_under_image_pruning_raises(monkeypatch, type_code, v2):
    # the last image's VARCHAR length prefix runs past the body end
    good = b"\x00" + (7).to_bytes(4, "little") + encode_decimal("1.5", 12, 4) + b"\x01x"
    torn = good[:-2] + b"\x05x"
    section = good * (3 if type_code == UPDATE_ROWS_EVENT else 1) + torn
    data = _rows_event(type_code, v2, section)
    for images in _IMAGES:
        compiled, interpreted = _both_ways(monkeypatch, data, images=images)
        assert compiled == interpreted
        # only a section with a width-walked side can tell
        decoded_only = images == "both" or (type_code, images) in (
            (WRITE_ROWS_EVENT, "after"), (DELETE_ROWS_EVENT, "before"),
        )
        if decoded_only:
            assert compiled[0] == "ok"
        else:
            assert compiled[0] == "raise"
            assert compiled[1].startswith("row section misparse under image pruning")


def test_fuzzed_row_sections_match_interpreted_loop(monkeypatch):
    """Seeded byte flips inside row-event bodies of a checksum-free log
    (framing intact): for every `images` mode, both string modes and
    both error modes, the compiled sections emit the same events — or
    raise the same message — as the interpreted loop."""
    w = BinlogWriter()
    rows = [[i, f"{i}.25" if i % 3 else f"-{i}.5", "w" * (i * 7 % 40) if i % 4 else None]
            for i in range(5)]
    for code, v2 in [(WRITE_ROWS_EVENT, False), (UPDATE_ROWS_EVENT, True),
                     (DELETE_ROWS_EVENT, False), (WRITE_ROWS_EVENT, True)]:
        w.write_table_map(_T)
        img = list(zip(rows, rows[1:] + rows[:1])) if code == UPDATE_ROWS_EVENT else rows
        w.write_rows(code, _T, img, v2=v2)
        w.write_xid(code)
    clean = bytes(w.getvalue())
    spans = []
    for ev in decode_binlog(clean, _CAT):
        if ev["op"].endswith("_rows"):
            spans.append((ev["offset"] + bc.HEADER_LEN, ev["offset"] + ev["event_len"]))
    rng = random.Random(11)
    raised = ok = 0
    for _ in range(40):
        data = bytearray(clean)
        lo, hi = rng.choice(spans)
        for _ in range(rng.randint(1, 3)):
            data[rng.randrange(lo, hi)] = rng.randrange(256)
        for images in _IMAGES:
            for stringify in (False, True):
                for on_error in ("raise", "quarantine"):
                    compiled, interpreted = _both_ways(
                        monkeypatch, bytes(data), images=images,
                        stringify=stringify, on_error=on_error,
                    )
                    assert compiled == interpreted
                    raised += compiled[0] == "raise"
                    ok += compiled[0] == "ok"
    assert raised and ok   # the flips reach both outcomes


# --- push delivery ---------------------------------------------------------------

def test_inotify_loads_libc_once_per_process(monkeypatch, tmp_path):
    from mysql_cdc_spark.streaming import push

    calls: list = []
    real = ctypes.util.find_library
    monkeypatch.setattr(ctypes.util, "find_library",
                        lambda name: calls.append(name) or real(name))
    push._libc.cache_clear()
    if not push.INotifyWatcher.available():
        pytest.skip("no inotify on this host")
    for _ in range(3):
        push.INotifyWatcher(str(tmp_path)).close()
        assert push.INotifyWatcher.available()
    assert calls == ["c"]
