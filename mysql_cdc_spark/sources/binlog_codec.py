"""MySQL binlog byte codec (SURVEY §2.2 D1-D12): pure-Python encode +
decode of the v4 row-based binary log, exposed to Spark as a
`binaryFile` scan + `mapInArrow` decode (sources/binlog_source.py).

Implemented from the PUBLIC MySQL binary-log format (binlog event
header/type layouts and the strings/decimal.c packed-decimal format as
documented in the MySQL internals manual).  The reference implements
the same format — docstrings cite its decoders as the behavioral spec
(capability parity), but all code here is written fresh against the
format itself:

  event header (19B)        ~ read-event-header, mysql_binlog.clj:290-328
  torn-tail guard           ~ :316, :326-328 (header/body must fit)
  QUERY_EVENT               ~ read-query, :355-384
  ROTATE_EVENT              ~ read-rotate, :386-391
  XID_EVENT                 ~ read-xid, :393-394
  FORMAT_DESCRIPTION        ~ read-v4-format-description, :343-353
  TABLE_MAP + metadata      ~ read-table-map, :500-523, :487-498
  WRITE/UPDATE/DELETE rows  ~ read-wud-rows, :611-682
  row decode (bitfields)    ~ read-row, :582-609 (NULL → None vs
                              column-absent → key missing, the nil/'_'
                              distinction :604 vs :606-608)
  CHAR packed metadata      ~ read-field, :560-580
  packed decimal            ~ Decimal.java:127-262 (sign-XOR :139,:153,
                              leading-zero trim :206-226)
  packed ints / bitfields   ~ :193-211, :127-133

Supported column types are a strict SUPERSET of the reference's
decoder (read-type, mysql_binlog.clj:528-558, which handles LONG,
VARCHAR/VAR_STRING/STRING, NEWDECIMAL, ENUM and SET and throws on
everything else).  Beyond those this codec also decodes the full
common MySQL matrix — TINY/SHORT/INT24/LONGLONG, FLOAT/DOUBLE, YEAR,
DATE, and the 5.6+ packed temporals DATETIME2/TIMESTAMP2/TIME2 (with
fractional seconds), plus BLOB/TEXT — all from the public binlog row
format, so real tables decode instead of raising.  On the wire
ENUM/SET columns travel as MYSQL_TYPE_STRING with the real type in
metadata byte 0 and the pack length in byte 1 (public format; the
reference re-derives the real type the same way in read-field
:560-580).
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass, field

MAGIC = b"\xfebin"
HEADER_LEN = 19


def _zstd_backend():
    """Best available zstd codec as a (compress, decompress) pair, or
    None.  decompress(data, unc_size) -> bytes; unc_size is the exact
    uncompressed length from the TRANSACTION_PAYLOAD TLV (field 3 —
    the server always writes it for compressed payloads, and pyarrow's
    bundled zstd requires it).  Preference order: stdlib
    ``compression.zstd`` (3.14+), the ``zstandard`` package, then the
    zstd codec pyarrow ships for parquet."""
    try:  # Python 3.14+ stdlib
        from compression import zstd as _z  # noqa: PLC0415

        return (
            lambda d: _z.compress(d),
            lambda d, n: _z.decompress(d),
        )
    except ImportError:
        pass
    try:
        import zstandard as _z  # noqa: PLC0415

        return (
            lambda d: _z.ZstdCompressor().compress(d),
            lambda d, n: _z.ZstdDecompressor().decompress(
                d, max_output_size=n or 1 << 30
            ),
        )
    except ImportError:
        pass
    try:
        import pyarrow as _pa  # noqa: PLC0415

        codec = _pa.Codec("zstd")
        return (
            lambda d: codec.compress(d, asbytes=True),
            lambda d, n: codec.decompress(d, decompressed_size=n, asbytes=True),
        )
    except Exception:  # pragma: no cover - pyarrow is a hard dep in practice
        return None

# Event type codes (public binlog constants; reference mirrors them in
# log-event-types, mysql_binlog.clj:222-259)
QUERY_EVENT = 2
STOP_EVENT = 3              # clean server shutdown: empty body, ends the log
ROTATE_EVENT = 4
INTVAR_EVENT = 5            # SBR-era: LAST_INSERT_ID / INSERT_ID for next stmt
HEARTBEAT_EVENT = 27        # network-only keepalive (never on disk; tolerated)
FORMAT_DESCRIPTION_EVENT = 15
XID_EVENT = 16
TABLE_MAP_EVENT = 19
WRITE_ROWS_EVENT = 23   # v1 (MySQL 5.1-5.5)
UPDATE_ROWS_EVENT = 24  # v1
DELETE_ROWS_EVENT = 25  # v1
# v2 rows events (MySQL >=5.6, all 8.0): same layout plus a 2-byte
# extra-row-info length (counting itself) after the flags, then that
# many-minus-2 bytes of optional NDB/partition info to skip.
WRITE_ROWS_EVENT_V2 = 30
UPDATE_ROWS_EVENT_V2 = 31
DELETE_ROWS_EVENT_V2 = 32
ROWS_QUERY_EVENT = 29       # original SQL of the following row events
# 8.0 binlog_row_value_options=PARTIAL_JSON: update events whose
# after-image JSON columns may carry a diff vector instead of the full
# document (WL#2955 public format).
PARTIAL_UPDATE_ROWS_EVENT = 39
GTID_EVENT = 33             # MySQL >=5.6 global transaction id
TRANSACTION_PAYLOAD_EVENT = 40  # 8.0.20+ binlog_transaction_compression
ANONYMOUS_GTID_EVENT = 34   # gtid_mode=OFF placeholder
PREVIOUS_GTIDS_EVENT = 35   # executed-set snapshot at log start

# All row-event type codes (v1 + v2 + partial) — the set the
# `only_tables` filter-before-decode pushdown may skip (r14 VERDICT
# #1: the one SURVEY §4 optimization the reference never had; it
# decodes every used column of every row event, mysql_binlog.clj:
# 592-604, then filters downstream).
ROW_EVENT_TYPES = frozenset({
    WRITE_ROWS_EVENT, UPDATE_ROWS_EVENT, DELETE_ROWS_EVENT,
    WRITE_ROWS_EVENT_V2, UPDATE_ROWS_EVENT_V2, DELETE_ROWS_EVENT_V2,
    PARTIAL_UPDATE_ROWS_EVENT,
})

# Op names that become envelope records (the push delivery and the
# Spark scans); rotate, format_description and the other framing
# events never surface.
ENVELOPE_OPS = frozenset({
    "query", "table_map", "write_rows", "update_rows", "delete_rows", "xid",
    "quarantine", "gtid", "previous_gtids", "rows_query",
})

# Column type codes (public; reference table :430-457)
TYPE_TINY = 1
TYPE_SHORT = 2
TYPE_LONG = 3
TYPE_FLOAT = 4
TYPE_DOUBLE = 5
TYPE_TIMESTAMP = 7   # legacy 4-byte LE epoch seconds (pre-5.6.4 tables)
TYPE_LONGLONG = 8
TYPE_INT24 = 9
TYPE_DATE = 10
TYPE_TIME = 11       # legacy 3-byte LE HHMMSS integer
TYPE_DATETIME = 12   # legacy 8-byte LE YYYYMMDDHHMMSS integer
TYPE_NEWDATE = 14    # same wire layout as DATE
TYPE_BIT = 16
TYPE_YEAR = 13
TYPE_VARCHAR = 15
TYPE_JSON = 245
TYPE_TIMESTAMP2 = 17
TYPE_DATETIME2 = 18
TYPE_TIME2 = 19
TYPE_NEWDECIMAL = 246
TYPE_ENUM = 247
TYPE_SET = 248
TYPE_BLOB = 252
TYPE_VAR_STRING = 253
TYPE_STRING = 254

# Fixed-width integer family: (storage bytes, signed struct/int decode)
_INT_TYPES = {TYPE_TINY: 1, TYPE_SHORT: 2, TYPE_INT24: 3, TYPE_LONG: 4, TYPE_LONGLONG: 8}

OP_NAMES = {
    QUERY_EVENT: "query",
    TABLE_MAP_EVENT: "table_map",
    WRITE_ROWS_EVENT: "write_rows",
    UPDATE_ROWS_EVENT: "update_rows",
    DELETE_ROWS_EVENT: "delete_rows",
    WRITE_ROWS_EVENT_V2: "write_rows",
    UPDATE_ROWS_EVENT_V2: "update_rows",
    DELETE_ROWS_EVENT_V2: "delete_rows",
    PARTIAL_UPDATE_ROWS_EVENT: "update_rows",
    XID_EVENT: "xid",
    ROWS_QUERY_EVENT: "rows_query",
    GTID_EVENT: "gtid",
    ANONYMOUS_GTID_EVENT: "gtid",
    PREVIOUS_GTIDS_EVENT: "previous_gtids",
    TRANSACTION_PAYLOAD_EVENT: "transaction_payload",
    STOP_EVENT: "stop",
    INTVAR_EVENT: "intvar",
    HEARTBEAT_EVENT: "heartbeat",
}

# ---------------------------------------------------------------------------
# Packed decimal (strings/decimal.c format: base-10^9 groups, 4 bytes
# per 9 digits, partial-group sizes below, big-endian, first byte
# sign-XORed with 0x80, negatives stored as bitwise complement)
# ---------------------------------------------------------------------------

_DIG2BYTES = [0, 1, 1, 2, 2, 3, 3, 4, 4, 4]
_POW10 = [10 ** i for i in range(10)]


def decimal_bin_size(precision: int, scale: int) -> int:
    """Storage bytes for DECIMAL(precision, scale) — the same quantity
    the reference's bench sizes rows with (decimalBinSize,
    Decimal.java:113-122)."""
    intg = precision - scale
    return (
        (intg // 9) * 4 + _DIG2BYTES[intg % 9]
        + (scale // 9) * 4 + _DIG2BYTES[scale % 9]
    )


def encode_decimal(text: str, precision: int, scale: int) -> bytes:
    """Encode a decimal string into MySQL packed binary."""
    neg = text.startswith("-")
    text = text.lstrip("+-")
    ip, _, fp = text.partition(".")
    ip = (ip or "0").lstrip("0") or "0"
    fp = fp[:scale] if len(fp) > scale else fp
    intg = precision - scale
    # ip == "0" stores no integer digits, so it fits ANY width —
    # including DECIMAL(p, p) where intg == 0 (found by the r17 width
    # fuzz: encode rejected "0.7" as DECIMAL(1,1), a legal MySQL value)
    if ip != "0" and len(ip) > intg:
        raise ValueError(f"integer part {ip!r} exceeds DECIMAL({precision},{scale})")
    if int(ip) == 0 and int(fp or "0") == 0:
        neg = False  # normalize -0
    ip = ip.rjust(intg, "0")
    fp = fp.ljust(scale, "0")

    out = bytearray()
    idx = 0
    lead = intg % 9
    if lead:
        out += int(ip[:lead]).to_bytes(_DIG2BYTES[lead], "big")
        idx = lead
    for _ in range(intg // 9):
        out += int(ip[idx:idx + 9]).to_bytes(4, "big")
        idx += 9
    idx = 0
    for _ in range(scale // 9):
        out += int(fp[idx:idx + 9]).to_bytes(4, "big")
        idx += 9
    tail = scale % 9
    if tail:
        out += int(fp[idx:idx + tail]).to_bytes(_DIG2BYTES[tail], "big")

    if neg:
        out = bytearray(b ^ 0xFF for b in out)
    out[0] ^= 0x80
    return bytes(out)


# 256-byte complement table: bytes.translate runs the negative-value
# bit flip at C speed (the r15 form's per-byte generator was the
# decimal hot loop's worst allocation).
_NEG_XLAT = bytes(x ^ 0xFF for x in range(256))


def decode_decimal(data: bytes, precision: int, scale: int) -> str:
    """Decode MySQL packed decimal to its canonical string (integer
    part without leading zeros, fraction zero-padded to `scale` —
    matching Decimal.toString, Decimal.java:264-279).

    r16 hot-loop form: the base-10^9 groups accumulate into two
    INTEGERS (ip, fp) instead of digit strings — str(int) strips
    leading zeros and the one f-string zero-pads the fraction, so the
    per-group rjust/concat churn and the final lstrip all vanish.
    Group semantics are unchanged (same _DIG2BYTES walk)."""
    neg = (data[0] & 0x80) == 0       # stored MSB: 1 = non-negative
    b = data.translate(_NEG_XLAT) if neg else data
    # The stored sign bit (byte 0's MSB) flips in INTEGER space on
    # whichever packed group comes first — no mutable buffer copy.
    intg = precision - scale
    pos = 0
    fb = int.from_bytes
    first = True
    ip = 0
    lead = intg % 9
    if lead:
        n = _DIG2BYTES[lead]
        ip = fb(b[:n], "big") ^ (1 << (8 * n - 1))
        pos = n
        first = False
    for _ in range(intg // 9):
        g = fb(b[pos:pos + 4], "big")
        if first:
            g ^= 0x8000_0000
            first = False
        ip = ip * 1_000_000_000 + g
        pos += 4
    fp = 0
    for _ in range(scale // 9):
        g = fb(b[pos:pos + 4], "big")
        if first:
            g ^= 0x8000_0000
            first = False
        fp = fp * 1_000_000_000 + g
        pos += 4
    tail = scale % 9
    if tail:
        n = _DIG2BYTES[tail]
        g = fb(b[pos:pos + n], "big")
        if first:
            g ^= 1 << (8 * n - 1)
        fp = fp * _POW10[tail] + g

    sign = "-" if neg and (ip or fp) else ""
    return f"{sign}{ip}.{fp:0{scale}d}" if scale else f"{sign}{ip}"


# ---------------------------------------------------------------------------
# Byte-level primitives (D12 — reference :88-217)
# ---------------------------------------------------------------------------

def enc_packed_int(n: int) -> bytes:
    """MySQL length-encoded integer (reference get-packed-int
    :193-211)."""
    if n < 251:
        return bytes([n])
    if n < 1 << 16:
        return b"\xfc" + n.to_bytes(2, "little")
    if n < 1 << 24:
        return b"\xfd" + n.to_bytes(3, "little")
    return b"\xfe" + n.to_bytes(8, "little")


def read_packed_int(buf: bytes, pos: int) -> tuple[int, int]:
    first = buf[pos]
    if first < 251:
        return first, pos + 1
    if first == 0xFC:
        return int.from_bytes(buf[pos + 1:pos + 3], "little"), pos + 3
    if first == 0xFD:
        return int.from_bytes(buf[pos + 1:pos + 4], "little"), pos + 4
    return int.from_bytes(buf[pos + 1:pos + 9], "little"), pos + 9


def _bitmap_bytes(bits: list[bool]) -> bytes:
    """LSB-first bitfield over `bits` (reference nth-bit :127-133)."""
    out = bytearray((len(bits) + 7) // 8)
    for i, b in enumerate(bits):
        if b:
            out[i // 8] |= 1 << (i % 8)
    return bytes(out)


def _bit(buf: bytes, i: int) -> bool:
    return bool(buf[i // 8] & (1 << (i % 8)))


# ---------------------------------------------------------------------------
# Temporal codecs (DATETIME2 / TIMESTAMP2 / TIME2 / DATE / YEAR) — the
# MySQL 5.6+ packed formats, written fresh from the public layout
# (my_time.h / my_time.cc in the MySQL source tree, documented in the
# internals manual).  These types are BEYOND the reference's decoder
# (read-type, mysql_binlog.clj:528-558 throws on them) — capability is
# strictly wider so real tables with temporal columns decode.
# ---------------------------------------------------------------------------

def frac_bytes(fsp: int) -> int:
    """Storage bytes for an fsp-digit fractional-seconds field:
    ceil(fsp/2) packed-BCD-ish bytes (0..3)."""
    if not 0 <= fsp <= 6:
        raise ValueError(f"fsp out of range: {fsp}")
    return (fsp + 1) // 2


def _frac_to_bytes(frac: int, fsp: int) -> bytes:
    n = frac_bytes(fsp)
    if frac >= 10 ** fsp:
        raise ValueError(f"fraction {frac} exceeds fsp={fsp}")
    return frac.to_bytes(n, "big") if n else b""


def encode_datetime2(text: str, fsp: int = 0) -> bytes:
    """'YYYY-MM-DD HH:MM:SS[.ffff]' → 5-byte offset-binary int part
    (sign bit | 17b year*13+month | 5b day | 5b hour | 6b min | 6b sec,
    big-endian, +2^39 offset) + fsp fraction bytes."""
    date_part, _, time_part = text.partition(" ")
    y, mo, d = (int(x) for x in date_part.split("-"))
    hms, _, fr = time_part.partition(".")
    h, mi, s = (int(x) for x in hms.split(":"))
    frac = int(fr.ljust(fsp, "0")) if fsp else 0
    intpart = ((y * 13 + mo) << 22) | (d << 17) | (h << 12) | (mi << 6) | s
    return (intpart + (1 << 39)).to_bytes(5, "big") + _frac_to_bytes(frac, fsp)


def decode_datetime2(data: bytes, fsp: int = 0) -> str:
    stored = int.from_bytes(data[:5], "big") - (1 << 39)
    ym = stored >> 22
    y, mo = ym // 13, ym % 13
    d = (stored >> 17) & 0x1F
    h = (stored >> 12) & 0x1F
    mi = (stored >> 6) & 0x3F
    s = stored & 0x3F
    out = f"{y:04d}-{mo:02d}-{d:02d} {h:02d}:{mi:02d}:{s:02d}"
    if fsp:
        frac = int.from_bytes(data[5:5 + frac_bytes(fsp)], "big")
        out += f".{frac:0{fsp}d}"
    return out


def encode_timestamp2(value, fsp: int = 0) -> bytes:
    """Epoch seconds (int, or 'sec.frac' string when fsp>0) →
    4-byte BIG-endian seconds + fraction bytes (unlike the legacy
    little-endian TIMESTAMP)."""
    if isinstance(value, str):
        sec_s, _, fr = value.partition(".")
        sec, frac = int(sec_s), int(fr.ljust(fsp, "0")) if fsp else 0
    else:
        sec, frac = int(value), 0
    return sec.to_bytes(4, "big") + _frac_to_bytes(frac, fsp)


def decode_timestamp2(data: bytes, fsp: int = 0):
    sec = int.from_bytes(data[:4], "big")
    if not fsp:
        return sec
    frac = int.from_bytes(data[4:4 + frac_bytes(fsp)], "big")
    return f"{sec}.{frac:0{fsp}d}"


def encode_time2(text: str, fsp: int = 0) -> bytes:
    """'[-]HH:MM:SS[.ffff]' → offset-binary over the WHOLE 3+frac
    field (sign | 1 reserved | 10b hour | 6b min | 6b sec | fraction),
    so negative times order correctly under memcmp — the property the
    on-disk format is designed around."""
    neg = text.startswith("-")
    hms, _, fr = text.lstrip("-").partition(".")
    h, mi, s = (int(x) for x in hms.split(":"))
    frac = int(fr.ljust(fsp, "0")) if fsp else 0
    if h > 838:
        raise ValueError(f"TIME hour out of range: {h}")
    nb = 3 + frac_bytes(fsp)
    packed = (((h << 12) | (mi << 6) | s) << (8 * frac_bytes(fsp))) | frac
    if neg:
        packed = -packed
    return (packed + (1 << (8 * nb - 1))).to_bytes(nb, "big")


def decode_time2(data: bytes, fsp: int = 0) -> str:
    nb = 3 + frac_bytes(fsp)
    packed = int.from_bytes(data[:nb], "big") - (1 << (8 * nb - 1))
    sign = "-" if packed < 0 else ""
    packed = abs(packed)
    frac = packed & ((1 << (8 * frac_bytes(fsp))) - 1) if fsp else 0
    intpart = packed >> (8 * frac_bytes(fsp))
    h = (intpart >> 12) & 0x3FF
    mi = (intpart >> 6) & 0x3F
    s = intpart & 0x3F
    out = f"{sign}{h:02d}:{mi:02d}:{s:02d}"
    if fsp:
        out += f".{frac:0{fsp}d}"
    return out


# ---------------------------------------------------------------------------
# Binary JSON (MYSQL_TYPE_JSON, 5.7+): the JSONB-style document format
# from the public json_binary.h layout — type byte, then value; objects/
# arrays are offset-indexed with small (u16) and large (u32) variants;
# literals and small ints are inlined in the value entries.  Decoded to
# MySQL's own JSON text rendering (", "/": " separators), so envelope
# consumers see exactly what `SELECT json_col` prints.
# ---------------------------------------------------------------------------

_BJ_SMALL_OBJECT, _BJ_LARGE_OBJECT = 0x00, 0x01
_BJ_SMALL_ARRAY, _BJ_LARGE_ARRAY = 0x02, 0x03
_BJ_LITERAL = 0x04
_BJ_INT16, _BJ_UINT16 = 0x05, 0x06
_BJ_INT32, _BJ_UINT32 = 0x07, 0x08
_BJ_INT64, _BJ_UINT64 = 0x09, 0x0A
_BJ_DOUBLE = 0x0B
_BJ_STRING = 0x0C
_BJ_OPAQUE = 0x0F
_BJ_LITERALS = {0x00: None, 0x01: True, 0x02: False}


def _bj_need(data: bytes, pos: int, n: int) -> None:
    """Bounds guard: corrupt offsets/lengths must raise, not decode to
    silently-wrong short values via Python's lenient slicing (a
    bit-flipped document inside an unchecksummed pre-5.6 log would
    otherwise surface wrong data with no error in on_error='raise')."""
    if pos < 0 or pos + n > len(data):
        raise ValueError(
            f"binary-JSON read of {n} bytes at {pos} overruns document "
            f"size {len(data)}"
        )


def _bj_varlen(data: bytes, pos: int) -> tuple[int, int]:
    """Base-128 varint (7 bits per byte, high bit = continuation)."""
    n = shift = 0
    while True:
        _bj_need(data, pos, 1)
        b = data[pos]; pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, pos
        shift += 7


def _bj_entry(data: bytes, pos: int, base: int, large: bool):
    """One value entry: type byte + (inlined scalar | offset)."""
    _bj_need(data, pos, 1)
    t = data[pos]
    if t == _BJ_LITERAL:
        _bj_need(data, pos + 1, 1)
        return _BJ_LITERALS[data[pos + 1]]
    if t == _BJ_INT16:
        _bj_need(data, pos + 1, 2)
        return int.from_bytes(data[pos + 1:pos + 3], "little", signed=True)
    if t == _BJ_UINT16:
        _bj_need(data, pos + 1, 2)
        return int.from_bytes(data[pos + 1:pos + 3], "little")
    if large and t == _BJ_INT32:
        _bj_need(data, pos + 1, 4)
        return int.from_bytes(data[pos + 1:pos + 5], "little", signed=True)
    if large and t == _BJ_UINT32:
        _bj_need(data, pos + 1, 4)
        return int.from_bytes(data[pos + 1:pos + 5], "little")
    sz = 4 if large else 2
    _bj_need(data, pos + 1, sz)
    off = int.from_bytes(data[pos + 1:pos + 1 + sz], "little")
    return _bj_value(data, t, base + off)


def _bj_container(data: bytes, base: int, large: bool, is_object: bool):
    sz = 4 if large else 2
    count = int.from_bytes(data[base:base + sz], "little")
    # Corrupt-count guard: the entry tables alone must fit inside the
    # document, else a flipped count byte (u32 in large format) would
    # spin a billion-iteration loop over garbage before failing.
    entry_bytes = count * ((sz + 2 if is_object else 0) + (1 + sz))
    if base + 2 * sz + entry_bytes > len(data):
        raise ValueError(
            f"binary-JSON container count {count} exceeds document size"
        )
    # data[base+sz : base+2*sz] is the total byte size — not needed to walk
    p = base + 2 * sz
    if is_object:
        out = {}
        ventries = p + count * (sz + 2)  # key entry = offset(sz) + len(u16)
        for i in range(count):
            ke = p + i * (sz + 2)
            koff = int.from_bytes(data[ke:ke + sz], "little")
            klen = int.from_bytes(data[ke + sz:ke + sz + 2], "little")
            _bj_need(data, base + koff, klen)
            key = data[base + koff:base + koff + klen].decode("utf-8")
            out[key] = _bj_entry(data, ventries + i * (1 + sz), base, large)
        return out
    return [_bj_entry(data, p + i * (1 + sz), base, large) for i in range(count)]


def _bj_value(data: bytes, t: int, pos: int):
    if t in (_BJ_SMALL_OBJECT, _BJ_LARGE_OBJECT):
        return _bj_container(data, pos, t == _BJ_LARGE_OBJECT, True)
    if t in (_BJ_SMALL_ARRAY, _BJ_LARGE_ARRAY):
        return _bj_container(data, pos, t == _BJ_LARGE_ARRAY, False)
    if t == _BJ_LITERAL:
        _bj_need(data, pos, 1)
        return _BJ_LITERALS[data[pos]]
    if t == _BJ_INT16:
        _bj_need(data, pos, 2)
        return int.from_bytes(data[pos:pos + 2], "little", signed=True)
    if t == _BJ_UINT16:
        _bj_need(data, pos, 2)
        return int.from_bytes(data[pos:pos + 2], "little")
    if t == _BJ_INT32:
        _bj_need(data, pos, 4)
        return int.from_bytes(data[pos:pos + 4], "little", signed=True)
    if t == _BJ_UINT32:
        _bj_need(data, pos, 4)
        return int.from_bytes(data[pos:pos + 4], "little")
    if t == _BJ_INT64:
        _bj_need(data, pos, 8)
        return int.from_bytes(data[pos:pos + 8], "little", signed=True)
    if t == _BJ_UINT64:
        _bj_need(data, pos, 8)
        return int.from_bytes(data[pos:pos + 8], "little")
    if t == _BJ_DOUBLE:
        _bj_need(data, pos, 8)
        return struct.unpack_from("<d", data, pos)[0]
    if t == _BJ_STRING:
        ln, pos = _bj_varlen(data, pos)
        _bj_need(data, pos, ln)
        return data[pos:pos + ln].decode("utf-8")
    if t == _BJ_OPAQUE:
        import base64

        _bj_need(data, pos, 1)
        ctype = data[pos]
        ln, p = _bj_varlen(data, pos + 1)
        _bj_need(data, p, ln)
        payload = bytes(data[p:p + ln])
        # MySQL's own text rendering for opaque values
        return f"base64:type{ctype}:{base64.b64encode(payload).decode()}"
    raise ValueError(f"unknown binary-JSON type {t:#04x}")


class _BJTooBig(Exception):
    """Internal: small-format offsets/size overflowed u16 — retry large."""


def _bj_scalar_enc(value) -> tuple[int, bytes]:
    if value is None:
        return _BJ_LITERAL, bytes([0x00])
    if value is True:
        return _BJ_LITERAL, bytes([0x01])
    if value is False:
        return _BJ_LITERAL, bytes([0x02])
    if isinstance(value, int):
        if -(2**15) <= value < 2**15:
            return _BJ_INT16, struct.pack("<h", value)
        if -(2**31) <= value < 2**31:
            return _BJ_INT32, struct.pack("<i", value)
        if -(2**63) <= value < 2**63:
            return _BJ_INT64, struct.pack("<q", value)
        if value < 2**64:
            return _BJ_UINT64, struct.pack("<Q", value)
        raise ValueError("integer out of binary-JSON range")
    if isinstance(value, float):
        return _BJ_DOUBLE, struct.pack("<d", value)
    if isinstance(value, str):
        b = value.encode("utf-8")
        n, ln = len(b), bytearray()
        while True:
            ln.append((n & 0x7F) | (0x80 if n > 0x7F else 0))
            n >>= 7
            if not n:
                break
        return _BJ_STRING, bytes(ln) + b
    raise TypeError(f"cannot encode {type(value).__name__} as binary JSON")


def _bj_encode(value) -> tuple[int, bytes]:
    if isinstance(value, (dict, list)):
        is_obj = isinstance(value, dict)
        for large in (False, True):
            try:
                payload = _bj_container_enc(value, large)
            except _BJTooBig:
                continue
            if is_obj:
                return (_BJ_LARGE_OBJECT if large else _BJ_SMALL_OBJECT), payload
            return (_BJ_LARGE_ARRAY if large else _BJ_SMALL_ARRAY), payload
        raise ValueError("document too large even for large format")
    return _bj_scalar_enc(value)


def _bj_container_enc(value, large: bool) -> bytes:
    sz = 4 if large else 2
    is_obj = isinstance(value, dict)
    if is_obj:
        # MySQL stores object keys sorted by length then bytes
        # (json_binary's key order); values follow their keys.
        keys = sorted(value, key=lambda k: (len(kb := k.encode("utf-8")), kb))
        vals = [value[k] for k in keys]
    else:
        keys, vals = [], list(value)
    n = len(vals)
    header = 2 * sz + (n * (sz + 2) if is_obj else 0) + n * (1 + sz)
    tail = bytearray()
    key_entries = bytearray()
    for k in keys:
        kb = k.encode("utf-8")
        off = header + len(tail)
        if not large and off > 0xFFFF:
            raise _BJTooBig
        key_entries += off.to_bytes(sz, "little")
        key_entries += len(kb).to_bytes(2, "little")
        tail += kb
    val_entries = bytearray()
    for v in vals:
        t, payload = _bj_encode(v)
        if t == _BJ_LITERAL or t == _BJ_INT16 or (large and t == _BJ_INT32):
            val_entries += bytes([t]) + payload.ljust(sz, b"\x00")
            continue
        off = header + len(tail)
        if not large and off > 0xFFFF:
            raise _BJTooBig
        val_entries += bytes([t]) + off.to_bytes(sz, "little")
        tail += payload
    total = header + len(tail)
    if not large and total > 0xFFFF:
        raise _BJTooBig
    return (
        n.to_bytes(sz, "little") + total.to_bytes(sz, "little")
        + bytes(key_entries) + bytes(val_entries) + bytes(tail)
    )


def encode_binary_json(value) -> bytes:
    """Python value → binary JSON document (the writer counterpart of
    `decode_binary_json`): smallest SIGNED integer width (ints from
    parsed JSON are J_INT on real servers; the unsigned UINT16/UINT32
    inlinings only arise from J_UINT sources above int64 range, which
    this encoder does not produce), small container format with
    automatic promotion to large when u16 offsets/size overflow,
    literals and int16 (plus int32 in large) inlined in the value
    entries, and object keys in MySQL's stored order (sorted by length
    then bytes).  Valid, canonically-ordered documents — the
    hand-encoded vectors in tests cover the exact-byte shapes."""
    t, payload = _bj_encode(value)
    return bytes([t]) + payload


def decode_binary_json(data: bytes) -> str | None:
    """Binary JSON document → MySQL's JSON text rendering.  An empty
    payload is how the server stores the SQL `null` JSON value in some
    paths — rendered as JSON null."""
    import json as _json

    if not data:
        return "null"
    value = _bj_value(data, data[0], 1)
    return _json.dumps(value, separators=(", ", ": "), ensure_ascii=False)


# ---------------------------------------------------------------------------
# JSON diffs (MySQL 8.0 binlog_row_value_options=PARTIAL_JSON, WL#2955):
# a partial after-image JSON column stores a diff VECTOR instead of the
# full document.  Each diff on the wire: operation byte (0 REPLACE,
# 1 INSERT, 2 REMOVE), net_store_length path length + JSON-path text,
# and for non-REMOVE a net_store_length value length + binary JSON
# (type byte + payload).  The decoder applies the diffs to the
# before-image document so the envelope surfaces the SAME full after
# value a non-partial update would.
# ---------------------------------------------------------------------------

_JDIFF_REPLACE, _JDIFF_INSERT, _JDIFF_REMOVE = 0, 1, 2
_JDIFF_NAMES = {0: "replace", 1: "insert", 2: "remove"}


def parse_json_path(path: str) -> list:
    """Concrete MySQL JSON path ('$', then `.member` / `."quoted"` /
    `[N]` legs) → list of str member names and int array indexes.
    Binlog diff paths are always concrete — no wildcards/ranges."""
    import json as _json

    if not path.startswith("$"):
        raise ValueError(f"JSON path must start with $: {path!r}")
    steps: list = []
    i = 1
    while i < len(path):
        c = path[i]
        if c == ".":
            i += 1
            if i < len(path) and path[i] == '"':
                j = i + 1
                while j < len(path):
                    if path[j] == "\\":
                        j += 2
                        continue
                    if path[j] == '"':
                        break
                    j += 1
                if j >= len(path):
                    raise ValueError(f"unterminated quoted member in {path!r}")
                steps.append(_json.loads(path[i:j + 1]))
                i = j + 1
            else:
                j = i
                while j < len(path) and (path[j].isalnum() or path[j] == "_"):
                    j += 1
                if j == i:
                    raise ValueError(f"empty member name in {path!r}")
                steps.append(path[i:j])
                i = j
        elif c == "[":
            j = path.index("]", i)
            steps.append(int(path[i + 1:j]))
            i = j + 1
        else:
            raise ValueError(f"unexpected {c!r} in JSON path {path!r}")
    return steps


def decode_json_diffs(data: bytes) -> list:
    """Wire diff vector → [(op_name, path, value_or_None)], value
    decoded from binary JSON to a Python value."""
    import json as _json

    diffs = []
    pos = 0
    while pos < len(data):
        op = data[pos]; pos += 1
        if op not in _JDIFF_NAMES:
            raise ValueError(f"unknown JSON diff operation {op}")
        plen, pos = read_packed_int(data, pos)
        if pos + plen > len(data):
            raise ValueError("JSON diff path overruns payload")
        path = data[pos:pos + plen].decode("utf-8"); pos += plen
        value = None
        if op != _JDIFF_REMOVE:
            vlen, pos = read_packed_int(data, pos)
            if pos + vlen > len(data) or vlen < 1:
                raise ValueError("JSON diff value overruns payload")
            vdoc = data[pos:pos + vlen]; pos += vlen
            value = _json.loads(decode_binary_json(vdoc))
        diffs.append((_JDIFF_NAMES[op], path, value))
    return diffs


def apply_json_diffs(doc_text: str | None, data: bytes) -> str:
    """Apply a wire diff vector to the before-image document's JSON
    text; returns the after document in MySQL's text rendering.  A
    diff that does not navigate (missing member, index out of range,
    scalar parent) is a corrupt/out-of-sync event → ValueError (the
    normal raise/quarantine path)."""
    import json as _json

    if doc_text is None:
        raise ValueError("partial JSON update but before image has no document")
    doc = _json.loads(doc_text)
    holder = [doc]  # one-slot root container so '$' itself is addressable
    for op, path, value in decode_json_diffs(data):
        steps = parse_json_path(path)
        if steps:
            parent: object = holder[0]
            for s in steps[:-1]:
                try:
                    parent = parent[s]
                except (KeyError, IndexError, TypeError) as exc:
                    raise ValueError(
                        f"JSON diff path {path!r} does not navigate"
                    ) from exc
            last = steps[-1]
        else:
            parent, last = holder, 0  # path '$': the root slot itself
        try:
            if op == "replace":
                if isinstance(parent, list):
                    if not -len(parent) <= last < len(parent):
                        raise IndexError(last)
                    parent[last] = value
                elif isinstance(parent, dict):
                    if last not in parent:
                        raise KeyError(last)
                    parent[last] = value
                else:
                    raise TypeError(type(parent).__name__)
            elif op == "insert":
                if isinstance(parent, list):
                    parent.insert(last, value)
                elif isinstance(parent, dict):
                    parent[last] = value
                else:
                    raise TypeError(type(parent).__name__)
            else:  # remove
                del parent[last]
        except (KeyError, IndexError, TypeError) as exc:
            raise ValueError(f"JSON diff {op} at {path!r} does not apply") from exc
    return _json.dumps(holder[0], separators=(", ", ": "), ensure_ascii=False)


class JsonDiffs:
    """Writer-side marker for a partial JSON column value: a list of
    (op, path, python_value_or_None) triples encoded as the wire diff
    vector.  op is 'replace' / 'insert' / 'remove'."""

    _OPS = {"replace": 0, "insert": 1, "remove": 2}

    def __init__(self, diffs: list) -> None:
        self.diffs = diffs

    def encode(self) -> bytes:
        out = bytearray()
        for op, path, value in self.diffs:
            out += bytes([self._OPS[op]])
            pb = path.encode("utf-8")
            out += enc_packed_int(len(pb)) + pb
            if op != "remove":
                vdoc = encode_binary_json(value)
                out += enc_packed_int(len(vdoc)) + vdoc
        return bytes(out)


def encode_date(text: str) -> bytes:
    """'YYYY-MM-DD' → 3 bytes little-endian: day(5) | month(4) |
    year(15)."""
    y, mo, d = (int(x) for x in text.split("-"))
    return (d | (mo << 5) | (y << 9)).to_bytes(3, "little")


def decode_date(data: bytes) -> str:
    v = int.from_bytes(data[:3], "little")
    return f"{v >> 9:04d}-{(v >> 5) & 0xF:02d}-{v & 0x1F:02d}"


# ---------------------------------------------------------------------------
# Writer (test/fixture generator — the inverse of the decoder)
# ---------------------------------------------------------------------------

def enum_pack_len(n_values: int) -> int:
    """Bytes per ENUM ordinal: 1 below 256 values, else 2 (the 1-or-2
    dispatch the reference makes on metadata, :533-536)."""
    return 1 if n_values < 256 else 2


def set_pack_len(n_members: int) -> int:
    """Bytes per SET bitset: one bit per member, byte-rounded."""
    return (n_members + 7) // 8


@dataclass
class TableDef:
    db: str
    table: str
    # list of (type_code, metadata): LONG → None; VARCHAR → max_len;
    # NEWDECIMAL → (precision, scale); ENUM → n_values (1-based
    # ordinals); SET → n_members
    columns: list[tuple[int, object]]
    table_id: int = 1
    # Optional-metadata charset TLVs (8.0.1+ binlog_row_metadata):
    # default collation id for the DEFAULT_CHARSET TLV, with
    # per-character-column overrides keyed by index AMONG character
    # columns.  None = no charset TLV written (pre-8.0 layout).
    default_charset: int | None = None
    # binlog_row_metadata=FULL: on-wire COLUMN_NAME TLV (type 04,
    # length-prefixed names) — real column names with no out-of-band
    # catalog.  None = MINIMAL (the 8.0 default layout).
    column_names: list[str] | None = None
    charset_overrides: dict[int, int] | None = None

    def column_codecs(self) -> list:
        """Per-column Python codec implied by the charset TLV fields
        (None per column when no TLV is declared — legacy latin-1).
        Memoized: the writer asks once per row image."""
        cached = getattr(self, "_codecs", None)
        if cached is not None:
            return cached
        if self.default_charset is None:
            self._codecs = [None] * len(self.columns)
            return self._codecs
        out, ci = [], 0
        for tc, m in self.columns:
            if _is_character_column(tc, m):
                cid = (self.charset_overrides or {}).get(ci, self.default_charset)
                out.append(collation_to_codec(cid))
                ci += 1
            else:
                out.append(None)
        self._codecs = out
        return out


class BinlogWriter:
    """Produce byte-exact v4 binlog files (magic, FDE, then events).

    ``checksum='crc32'`` writes modern (MySQL ≥5.6.6,
    binlog_checksum=CRC32) framing: the FDE declares a 5.6 server and
    carries the checksum-algorithm byte, and EVERY event (the FDE
    included) gets a 4-byte little-endian CRC32 trailer over
    header+body, counted in event_len — the public replication wire
    format.  Default stays the reference's 5.1-era checksum-free
    layout (mysql_binlog.clj:222-259 has no checksum handling)."""

    def __init__(self, server_id: int = 1, checksum: str | None = None) -> None:
        if checksum not in (None, "crc32"):
            raise ValueError(f"unsupported checksum {checksum!r}")
        self.buf = bytearray(MAGIC)
        self.server_id = server_id
        self._crc = checksum == "crc32"
        self.write_fde()

    @property
    def offset(self) -> int:
        return len(self.buf)

    def _emit(self, type_code: int, body: bytes, ts: int = 0) -> None:
        trailer = 4 if self._crc else 0
        event_len = HEADER_LEN + len(body) + trailer
        next_pos = len(self.buf) + event_len
        header = struct.pack(
            "<IBIIIH", ts & 0xFFFFFFFF, type_code, self.server_id,
            event_len, next_pos, 0,
        )
        self.buf += header
        self.buf += body
        if self._crc:
            import zlib

            crc = zlib.crc32(header + body)
            self.buf += crc.to_bytes(4, "little")

    def write_fde(self) -> None:
        if self._crc:
            body = struct.pack("<H", 4) + b"5.6.51-spark-cdc".ljust(50, b"\x00")
            body += struct.pack("<IB", 0, HEADER_LEN)
            body += bytes(27)  # post-header length table (unused by us)
            body += bytes([1])  # checksum algorithm: 1 = CRC32
        else:
            body = struct.pack("<H", 4) + b"5.5.62-spark-cdc".ljust(50, b"\x00")
            body += struct.pack("<IB", 0, HEADER_LEN)
            body += bytes(27)
        self._emit(FORMAT_DESCRIPTION_EVENT, body)

    def write_query(
        self,
        db: str,
        sql: str,
        ts: int = 0,
        thread_id: int = 0,
        exec_time: int = 0,
        error_code: int = 0,
    ) -> None:
        dbb, sqlb = db.encode("latin-1"), sql.encode("latin-1")
        body = (
            struct.pack("<IIBHH", thread_id, exec_time, len(dbb), error_code, 0)
            + dbb + b"\x00" + sqlb
        )
        self._emit(QUERY_EVENT, body, ts)

    def write_table_map(self, t: TableDef, ts: int = 0) -> None:
        body = t.table_id.to_bytes(6, "little") + struct.pack("<H", 0)
        dbb, tbb = t.db.encode("latin-1"), t.table.encode("latin-1")
        body += bytes([len(dbb)]) + dbb + b"\x00"
        body += bytes([len(tbb)]) + tbb + b"\x00"
        body += enc_packed_int(len(t.columns))
        # ENUM/SET travel as MYSQL_TYPE_STRING on the wire; the real
        # type rides in metadata byte 0 (public format).
        body += bytes(
            TYPE_STRING if tc in (TYPE_ENUM, TYPE_SET) else tc for tc, _ in t.columns
        )
        meta = bytearray()
        for tc, m in t.columns:
            if tc in (TYPE_VARCHAR, TYPE_VAR_STRING):
                meta += int(m).to_bytes(2, "little")
            elif tc == TYPE_NEWDECIMAL:
                meta += bytes([m[0], m[1]])
            elif tc == TYPE_STRING:
                meta += bytes([m[0], m[1]])
            elif tc == TYPE_ENUM:
                meta += bytes([TYPE_ENUM, enum_pack_len(int(m))])
            elif tc == TYPE_SET:
                meta += bytes([TYPE_SET, set_pack_len(int(m))])
            elif tc == TYPE_FLOAT:
                meta += bytes([4])        # pack length
            elif tc == TYPE_DOUBLE:
                meta += bytes([8])
            elif tc in (TYPE_DATETIME2, TYPE_TIMESTAMP2, TYPE_TIME2):
                meta += bytes([int(m or 0)])   # fsp
            elif tc == TYPE_BLOB:
                meta += bytes([int(m or 2)])   # length-prefix bytes
            elif tc == TYPE_JSON:
                meta += bytes([int(m or 4)])   # length-prefix bytes
            elif tc == TYPE_BIT:
                meta += bytes([m[0], m[1]])    # (bits % 8, bytes)
        body += enc_packed_int(len(meta)) + bytes(meta)
        body += _bitmap_bytes([True] * len(t.columns))  # nullability
        if t.default_charset is not None:
            # DEFAULT_CHARSET optional-metadata TLV: packed default
            # collation + (char-column-index, collation) override pairs.
            val = enc_packed_int(t.default_charset)
            for ci, cid in sorted((t.charset_overrides or {}).items()):
                val += enc_packed_int(ci) + enc_packed_int(cid)
            body += bytes([_OPT_META_DEFAULT_CHARSET])
            body += enc_packed_int(len(val)) + val
        if t.column_names is not None:
            # binlog_row_metadata=FULL COLUMN_NAME TLV: one
            # packed-length-prefixed name per column, in order.
            if len(t.column_names) != len(t.columns):
                raise ValueError(
                    f"COLUMN_NAME TLV needs exactly one name per column "
                    f"({len(t.column_names)} names, {len(t.columns)} columns)"
                )
            val = b"".join(
                enc_packed_int(len(nb)) + nb
                for nb in (n.encode("utf-8") for n in t.column_names)
            )
            body += bytes([_OPT_META_COLUMN_NAME])
            body += enc_packed_int(len(val)) + val
        self._emit(TABLE_MAP_EVENT, body, ts)

    def _encode_value(self, col: tuple[int, object], v, charset=None) -> bytes:
        tc, m = col
        enc = charset if charset not in (None, "binary") else "latin-1"
        if tc in _INT_TYPES:
            return int(v).to_bytes(_INT_TYPES[tc], "little", signed=True)
        if tc == TYPE_FLOAT:
            return struct.pack("<f", float(v))
        if tc == TYPE_DOUBLE:
            return struct.pack("<d", float(v))
        if tc == TYPE_YEAR:
            y = int(v)
            return bytes([0 if y == 0 else y - 1900])
        if tc == TYPE_DATE:
            return encode_date(str(v))
        if tc == TYPE_DATETIME2:
            return encode_datetime2(str(v), int(m or 0))
        if tc == TYPE_TIMESTAMP2:
            return encode_timestamp2(v, int(m or 0))
        if tc == TYPE_TIME2:
            return encode_time2(str(v), int(m or 0))
        if tc == TYPE_BLOB:
            raw = bytes(v) if isinstance(v, (bytes, bytearray)) else str(v).encode(enc)
            return len(raw).to_bytes(int(m or 2), "little") + raw
        if tc in (TYPE_VARCHAR, TYPE_VAR_STRING):
            raw = bytes(v) if isinstance(v, (bytes, bytearray)) else str(v).encode(enc)
            pre = bytes([len(raw)]) if int(m) < 256 else len(raw).to_bytes(2, "little")
            return pre + raw
        if tc == TYPE_STRING and isinstance(m, tuple) and m[0] not in (
            TYPE_ENUM, TYPE_SET
        ):
            # CHAR: pack length folded into the metadata high bits
            # (same derivation as the decoder / reference read-field
            # :566-579); stored length-prefixed like VAR_STRING.
            m0, m1 = m
            if m0 and (m0 & 0x30) != 0x30:
                maxlen = m1 | (((m0 & 0x30) ^ 0x30) << 4)
            else:
                maxlen = m1
            raw = bytes(v) if isinstance(v, (bytes, bytearray)) else str(v).encode(enc)
            pre = bytes([len(raw)]) if maxlen < 256 else len(raw).to_bytes(2, "little")
            return pre + raw
        if tc == TYPE_NEWDECIMAL:
            return encode_decimal(str(v), m[0], m[1])
        if tc == TYPE_ENUM:
            return int(v).to_bytes(enum_pack_len(int(m)), "little")
        if tc == TYPE_SET:
            if isinstance(v, (bytes, bytearray)):
                return bytes(v)
            return int(v).to_bytes(set_pack_len(int(m)), "little")
        if tc == TYPE_JSON:
            # caller supplies the binary-JSON document bytes (the
            # independent test vectors hand-encode them)
            raw = bytes(v)
            return len(raw).to_bytes(int(m or 4), "little") + raw
        if tc == TYPE_BIT:
            bits_rem, nbytes = m
            blen = nbytes + (1 if bits_rem else 0)
            return int(v).to_bytes(blen, "big")
        if tc == TYPE_TIMESTAMP:
            return int(v).to_bytes(4, "little")
        if tc == TYPE_DATETIME:
            d, t = str(v).split(" ")
            y, mo, dd = (int(x) for x in d.split("-"))
            h, mi, s = (int(x) for x in t.split(":"))
            packed = ((y * 10_000 + mo * 100 + dd) * 1_000_000
                      + h * 10_000 + mi * 100 + s)
            return packed.to_bytes(8, "little")
        if tc == TYPE_TIME:
            txt = str(v)
            sign = -1 if txt.startswith("-") else 1
            h, mi, s = (int(x) for x in txt.lstrip("-").split(":"))
            return (sign * (h * 10_000 + mi * 100 + s)).to_bytes(
                3, "little", signed=True
            )
        raise ValueError(f"unsupported column type {tc}")

    def _encode_image(self, t: TableDef, present: list[bool], values: list) -> bytes:
        used = [i for i, p in enumerate(present) if p]
        nulls = [values[i] is None for i in used]
        out = bytearray(_bitmap_bytes(nulls))
        codecs = t.column_codecs()
        for i in used:
            if values[i] is not None:
                out += self._encode_value(t.columns[i], values[i], codecs[i])
        return bytes(out)

    def write_rows(
        self,
        op: int,
        t: TableDef,
        rows: list,
        present: list[bool] | None = None,
        present_after: list[bool] | None = None,
        ts: int = 0,
        v2: bool = False,
    ) -> None:
        """WRITE/DELETE: `rows` is a list of value-lists.  UPDATE:
        a list of (before_values, after_values) pairs.  ``v2=True``
        emits MySQL >=5.6 framing: type code +7 (30/31/32) and the
        2-byte extra-row-info length (2 = no extra payload) after the
        flags, exactly as modern servers write."""
        n = len(t.columns)
        present = present or [True] * n
        body = t.table_id.to_bytes(6, "little") + struct.pack("<H", 0)
        if v2:
            body += struct.pack("<H", 2)
        body += enc_packed_int(n)
        body += _bitmap_bytes(present)
        if op == UPDATE_ROWS_EVENT:
            present_after = present_after or [True] * n
            body += _bitmap_bytes(present_after)
            for before, after in rows:
                body += self._encode_image(t, present, before)
                body += self._encode_image(t, present_after, after)
        else:
            for values in rows:
                body += self._encode_image(t, present, values)
        self._emit(op + 7 if v2 else op, body, ts)

    def write_partial_update_rows(
        self,
        t: TableDef,
        rows: list,
        ts: int = 0,
    ) -> None:
        """PARTIAL_UPDATE_ROWS_EVENT (8.0
        binlog_row_value_options=PARTIAL_JSON): `rows` is a list of
        (before_values, after_values) pairs where after-image JSON
        column values may be `JsonDiffs` — encoded as the wire diff
        vector with the partial bit set — or plain values (full
        document, bit clear).  Framing is v2 (extra-row-info = 2) with
        a per-after-image net_store_length value_options + partial_bits
        prefix, per the WL#2955 public layout."""
        n = len(t.columns)
        present = [True] * n
        json_cols = [i for i, (tc, _) in enumerate(t.columns) if tc == TYPE_JSON]
        body = t.table_id.to_bytes(6, "little") + struct.pack("<H", 0)
        body += struct.pack("<H", 2)         # v2 extra-row-info: none
        body += enc_packed_int(n)
        body += _bitmap_bytes(present)       # before-image columns
        body += _bitmap_bytes(present)       # after-image columns
        for before, after in rows:
            body += self._encode_image(t, present, before)
            partial = [
                isinstance(after[i], JsonDiffs) for i in json_cols
            ]
            body += enc_packed_int(1)        # value_options: PARTIAL_JSON
            if json_cols:
                body += _bitmap_bytes(partial)
            nulls = [v is None for v in after]
            body += _bitmap_bytes(nulls)
            codecs = t.column_codecs()
            for i, v in enumerate(after):
                if v is None:
                    continue
                if isinstance(v, JsonDiffs):
                    raw = v.encode()
                    m = t.columns[i][1]
                    body += len(raw).to_bytes(int(m or 4), "little") + raw
                else:
                    body += self._encode_value(t.columns[i], v, codecs[i])
        self._emit(PARTIAL_UPDATE_ROWS_EVENT, body, ts)

    def write_xid(self, xid: int, ts: int = 0) -> None:
        self._emit(XID_EVENT, struct.pack("<Q", xid), ts)

    def write_rotate(self, next_log: str) -> None:
        self._emit(ROTATE_EVENT, struct.pack("<Q", 4) + next_log.encode("latin-1"))

    def write_rows_query(self, sql: str, ts: int = 0) -> None:
        """ROWS_QUERY event: original statement text (length byte is
        capped at 255 as on real servers; text reads to end of body)."""
        b = sql.encode("latin-1")
        self._emit(ROWS_QUERY_EVENT, bytes([min(len(b), 255)]) + b, ts)

    def write_transaction_payload(
        self, inner: bytes, ts: int = 0, compression_type: int = 255
    ) -> None:
        """TRANSACTION_PAYLOAD (8.0.20+): wrap pre-encoded event bytes
        (headers+bodies, no magic/FDE/checksums) in the TLV-framed
        payload envelope.  ``compression_type=0`` really ZSTD-
        compresses the payload (via whichever codec _zstd_backend
        finds); 255 = NONE stores it verbatim; any other value is
        written as-is so tests can exercise the unknown-type path."""
        payload = inner
        if compression_type == 0:
            backend = _zstd_backend()
            if backend is None:  # pragma: no cover - pyarrow always present
                raise RuntimeError("no zstd codec available to compress")
            payload = backend[0](inner)
        ct = enc_packed_int(compression_type)
        sz = enc_packed_int(len(payload))
        un = enc_packed_int(len(inner))
        body = (
            enc_packed_int(2) + enc_packed_int(len(ct)) + ct
            + enc_packed_int(1) + enc_packed_int(len(sz)) + sz
            + enc_packed_int(3) + enc_packed_int(len(un)) + un
            + enc_packed_int(0)
            + payload
        )
        self._emit(TRANSACTION_PAYLOAD_EVENT, body, ts)

    def write_gtid(self, sid: str, gno: int, ts: int = 0) -> None:
        """MySQL ≥5.6 GTID event: commit-flag, server UUID, txn number."""
        body = b"\x01" + _uuid_bytes(sid) + gno.to_bytes(8, "little", signed=True)
        self._emit(GTID_EVENT, body, ts)

    def write_previous_gtids(
        self, gtid_set: dict[str, list[tuple[int, int]]], ts: int = 0
    ) -> None:
        """PREVIOUS_GTIDS snapshot; intervals are [start, end+1) on the
        wire (pass inclusive (start, end) pairs here)."""
        body = struct.pack("<Q", len(gtid_set))
        for sid, intervals in gtid_set.items():
            body += _uuid_bytes(sid) + struct.pack("<Q", len(intervals))
            for start, end in intervals:
                body += struct.pack("<QQ", start, end + 1)
        self._emit(PREVIOUS_GTIDS_EVENT, body, ts)

    def getvalue(self) -> bytes:
        return bytes(self.buf)


# ---------------------------------------------------------------------------
# Decoder (D1-D12)
# ---------------------------------------------------------------------------

@dataclass
class TableMapState:
    table_id: int
    db: str
    table: str
    col_types: list[int]
    col_meta: list[object]
    names: list[str] = field(default_factory=list)
    # Per-column unsigned flags from the 8.0.1+ optional-metadata
    # SIGNEDNESS TLV; empty = all signed (pre-8.0 logs carry no
    # signedness on the wire at all).
    unsigned: list[bool] = field(default_factory=list)
    # Per-column Python codec names from the DEFAULT_CHARSET /
    # COLUMN_CHARSET optional-metadata TLVs (8.0.1+): a codec string
    # for text columns, "binary" for binary collation 63
    # (VARBINARY/BLOB), None for non-character columns.  Empty = no
    # charset metadata on the wire → legacy latin-1 decode (exact
    # parity with the reference's hardwired ISO-8859-1,
    # mysql_binlog.clj:537-544).
    charsets: list = field(default_factory=list)

    def col_name(self, i: int) -> str:
        # Reference result sets name columns by ordinal ("1", "2", ... —
        # jdbc.clj:82); a registered catalog supplies real names.
        return self.names[i] if i < len(self.names) else str(i + 1)

    def __getstate__(self) -> dict:
        # Pickle only the declared fields: the per-shape decoder plans
        # cached on the instance (`_img_plans`) hold closures, which
        # don't pickle — and a shipped map rebuilds them lazily on
        # first image anyway.  Needed by the mysql_binlog DataSource,
        # which ships mid-file decode state to executors inside
        # InputPartitions.
        return {
            k: v for k, v in self.__dict__.items() if not k.startswith("_")
        }


def parse_gtid_set(text: str) -> dict[str, list[tuple[int, int]]]:
    """MySQL's canonical gtid_set text ("uuid:1-5:7,uuid2:3") → sorted,
    merged, INCLUSIVE interval lists per lowercase server UUID (the
    public format: intervals are end-exclusive on the wire but
    inclusive in the text).  The empty string is the empty set."""
    out: dict[str, list[tuple[int, int]]] = {}
    for part in text.split(","):
        part = part.strip()
        if not part:
            continue
        bits = part.split(":")
        sid = bits[0].strip().lower()
        if len(bits) < 2:
            raise ValueError(f"gtid_set entry {part!r} has no intervals")
        ivs = out.setdefault(sid, [])
        for b in bits[1:]:
            b = b.strip()
            if "-" in b:
                a, z = b.split("-", 1)
                lo, hi = int(a), int(z)
            else:
                lo = hi = int(b)
            if hi < lo:
                raise ValueError(f"gtid interval {b!r} is inverted")
            ivs.append((lo, hi))
    for sid, ivs in out.items():
        ivs.sort()
        merged: list[tuple[int, int]] = []
        for lo, hi in ivs:
            if merged and lo <= merged[-1][1] + 1:
                merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
            else:
                merged.append((lo, hi))
        out[sid] = merged
    return out


def gtid_in_set(sid: str, gno: int, gset: dict) -> bool:
    """Is transaction sid:gno a member of the (parsed) gtid set?"""
    ivs = gset.get(sid.lower())
    if not ivs:
        return False
    from bisect import bisect_right

    i = bisect_right(ivs, (gno, 1 << 62)) - 1
    return i >= 0 and ivs[i][0] <= gno <= ivs[i][1]


def gtid_set_subset(a: dict, b: dict) -> bool:
    """a ⊆ b over parsed gtid sets (every interval point of a covered
    by b's intervals — linear walk over the sorted merged lists)."""
    for sid, ivs in a.items():
        cover = b.get(sid, [])
        for lo, hi in ivs:
            pos = lo
            for cs, ce in cover:
                if cs > pos:
                    break
                if ce >= pos:
                    pos = ce + 1
                if pos > hi:
                    break
            if pos <= hi:
                return False
    return True


def gtid_set_add(gset: dict, sid: str, gno: int) -> None:
    """Add one transaction to a parsed gtid set IN PLACE, keeping the
    interval list sorted and merged (O(log n) locate + O(1) amortized
    merge — gnos arrive mostly in order from a log walk)."""
    from bisect import bisect_right

    sid = sid.lower()
    ivs = gset.setdefault(sid, [])
    i = bisect_right(ivs, (gno, 1 << 62))
    if i > 0 and ivs[i - 1][0] <= gno <= ivs[i - 1][1]:
        return  # already a member
    if i > 0 and ivs[i - 1][1] == gno - 1:
        ivs[i - 1] = (ivs[i - 1][0], gno)
        if i < len(ivs) and ivs[i][0] == gno + 1:  # bridged two runs
            ivs[i - 1] = (ivs[i - 1][0], ivs[i][1])
            del ivs[i]
        return
    if i < len(ivs) and ivs[i][0] == gno + 1:
        ivs[i] = (gno, ivs[i][1])
        return
    ivs.insert(i, (gno, gno))


def gtid_set_text(gset: dict) -> str:
    """Parsed gtid set → MySQL's canonical text ("uuid:1-5:7,...");
    sids sorted, single-gno intervals render bare."""
    parts = []
    for sid in sorted(gset):
        ivs = gset[sid]
        if not ivs:
            continue
        body = ":".join(
            str(lo) if lo == hi else f"{lo}-{hi}" for lo, hi in ivs
        )
        parts.append(f"{sid}:{body}")
    return ",".join(parts)


def is_binlog(data: bytes) -> bool:
    """S1: 4-byte magic check (reference binlog-file?, :47-53)."""
    return data[:4] == MAGIC


def _uuid_text(sid: bytes) -> str:
    """16 raw bytes → canonical 8-4-4-4-12 lowercase UUID text."""
    h = sid.hex()
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def _uuid_bytes(text: str) -> bytes:
    return bytes.fromhex(text.replace("-", ""))


def _fde_checksum_alg(body: bytes) -> int:
    """Checksum algorithm declared by a v4 FORMAT_DESCRIPTION body.

    MySQL ≥5.6.1 appends a checksum-algorithm byte to the FDE (public
    format; the last 5 bytes of a checksummed FDE are [alg][crc32]).
    Older servers (the reference's 5.1 era) have neither — detected by
    parsing the server-version string, the same rule public
    replication clients use.  Returns 0 (off) or 1 (CRC32)."""
    try:
        ver_s = body[2:52].split(b"\x00", 1)[0].split(b"-", 1)[0].decode("latin-1")
        ver = tuple(int(x) for x in ver_s.split("."))
    except ValueError:
        return 0
    if ver < (5, 6, 1) or len(body) < 62:
        return 0
    # ≥5.6.1 FDEs always carry [alg byte][4-byte self-CRC] at the end,
    # even with binlog_checksum=NONE (alg=0) — so the alg byte is at -5.
    return 1 if body[-5] == 1 else 0


# Parse memo: real binlogs emit an IDENTICAL TABLE_MAP body before
# every transaction touching a table (MySQL re-sends the map each
# time), so the same bytes are re-parsed millions of times in a long
# log.  Key = exact body bytes → parsed template (names left empty —
# they come from the caller's catalog, which may differ per decode).
# Bounded: cleared when it exceeds _TMAP_CACHE_MAX distinct bodies.
_TMAP_CACHE: dict[bytes, "TableMapState"] = {}
_TMAP_FULL: dict[tuple[bytes, tuple], "TableMapState"] = {}
_TMAP_CACHE_MAX = 4096


def _table_map_for(body: bytes, catalog: dict) -> "TableMapState":
    """Memoized TABLE_MAP decode with catalog names resolved.  The
    returned state is SHARED across events/decodes and treated as
    immutable everywhere (nothing downstream mutates col_types /
    col_meta / names), so hits cost two dict lookups — no re-parse, no
    per-event allocation.  Keyed by (body, names) because the same
    bytes may be decoded under different catalogs (tests do; a
    production worker's catalog is constant)."""
    tpl = _TMAP_CACHE.get(body)
    if tpl is None:
        if len(_TMAP_CACHE) >= _TMAP_CACHE_MAX:
            _TMAP_CACHE.clear()
        tpl = _read_table_map(body)
        _TMAP_CACHE[body] = tpl
    # Name precedence: caller catalog > on-wire COLUMN_NAME TLV
    # (binlog_row_metadata=FULL) > ordinal fallback.
    names = catalog.get((tpl.db, tpl.table)) or tpl.names or []
    key = (body, tuple(names))
    st = _TMAP_FULL.get(key)
    if st is None:
        if len(_TMAP_FULL) >= _TMAP_CACHE_MAX:
            _TMAP_FULL.clear()
        st = TableMapState(
            tpl.table_id, tpl.db, tpl.table, tpl.col_types, tpl.col_meta,
            list(names), list(tpl.unsigned), list(tpl.charsets),
        )
        st._names_all = [st.col_name(i) for i in range(len(st.col_types))]
        _TMAP_FULL[key] = st
    return st


def _read_table_map(body: bytes) -> TableMapState:
    table_id = int.from_bytes(body[0:6], "little")
    pos = 8  # skip flags
    db_len = body[pos]; pos += 1
    db = body[pos:pos + db_len].decode("latin-1"); pos += db_len + 1
    tb_len = body[pos]; pos += 1
    table = body[pos:pos + tb_len].decode("latin-1"); pos += tb_len + 1
    n_cols, pos = read_packed_int(body, pos)
    col_types = list(body[pos:pos + n_cols]); pos += n_cols
    meta_len, pos = read_packed_int(body, pos)
    meta_end = pos + meta_len
    col_meta: list[object] = []
    for tc in col_types:
        if tc in (TYPE_VARCHAR, TYPE_VAR_STRING):
            col_meta.append(int.from_bytes(body[pos:pos + 2], "little")); pos += 2
        elif tc == TYPE_NEWDECIMAL:
            col_meta.append((body[pos], body[pos + 1])); pos += 2
        elif tc == TYPE_STRING:
            col_meta.append((body[pos], body[pos + 1])); pos += 2
        elif tc in (TYPE_FLOAT, TYPE_DOUBLE, TYPE_DATETIME2, TYPE_TIMESTAMP2,
                    TYPE_TIME2, TYPE_BLOB, TYPE_JSON):
            # one metadata byte: pack length (float/double), fsp
            # (temporal2), or length-prefix width (blob/json)
            col_meta.append(body[pos]); pos += 1
        elif tc == TYPE_BIT:
            # (bits % 8, bytes) — public Field_bit metadata layout
            col_meta.append((body[pos], body[pos + 1])); pos += 2
        else:
            col_meta.append(None)
    pos = meta_end
    # After the metadata block: nullability bitmap, then (MySQL 8.0.1+,
    # binlog_row_metadata) optional metadata TLVs.  Both are absent in
    # the reference's 5.1-era logs; parse defensively — a map without
    # them decodes exactly as before.
    unsigned, tlv_names, charsets = [], [], []
    opt_pos = pos + (n_cols + 7) // 8
    if opt_pos < len(body):
        unsigned, tlv_names, charsets = _read_optional_metadata(
            body, opt_pos, col_types, col_meta
        )
    return TableMapState(
        table_id, db, table, col_types, col_meta, tlv_names, unsigned, charsets
    )


# Types whose signedness the SIGNEDNESS TLV describes, in the public
# is_numeric_type sense: DECIMAL, TINY, SHORT, LONG, FLOAT, DOUBLE,
# LONGLONG, INT24, NEWDECIMAL.
_NUMERIC_TYPES = frozenset({0, 1, 2, 3, 4, 5, 8, 9, 246})

# Optional-metadata TLV type codes (public table-map layout, 8.0.1+).
_OPT_META_SIGNEDNESS = 1
_OPT_META_DEFAULT_CHARSET = 2
_OPT_META_COLUMN_CHARSET = 3
_OPT_META_COLUMN_NAME = 4

# MySQL collation id → Python codec, by charset family (public
# collation registry, INFORMATION_SCHEMA.COLLATIONS).  Only families
# whose byte encodings Python ships are mapped; anything unknown falls
# back to latin-1 — never an error, matching the reference's
# hardwired ISO-8859-1 floor (mysql_binlog.clj:537-544).
_COLLATION_SINGLE = {
    63: "binary",                      # binary → keep bytes
    11: "ascii", 65: "ascii",
    56: "utf-16-le",                   # utf16le
    # single-byte national charsets (public collation registry ids;
    # Python ships every codec below, so the decode is exact)
    14: "cp1251", 23: "cp1251", 50: "cp1251", 51: "cp1251", 52: "cp1251",
    7: "koi8-r", 74: "koi8-r", 22: "koi8-u", 75: "koi8-u",
    25: "iso8859-7", 70: "iso8859-7",          # greek
    16: "iso8859-8", 71: "iso8859-8",          # hebrew
    2: "iso8859-2", 9: "iso8859-2", 21: "iso8859-2", 77: "iso8859-2",  # latin2
    30: "iso8859-9", 78: "iso8859-9",          # latin5 (turkish)
    20: "iso8859-13", 41: "iso8859-13", 42: "iso8859-13", 79: "iso8859-13",  # latin7
    26: "cp1250", 34: "cp1250", 44: "cp1250", 66: "cp1250", 99: "cp1250",
    57: "cp1256", 67: "cp1256",                # arabic
    29: "cp1257", 58: "cp1257", 59: "cp1257",  # baltic
    4: "cp850", 80: "cp850", 40: "cp852", 81: "cp852",
    36: "cp866", 68: "cp866",
    18: "tis-620", 89: "tis-620",              # thai
    # CJK multi-byte families
    1: "big5", 84: "big5",
    24: "gb2312", 86: "gb2312", 28: "gbk", 87: "gbk",
    13: "shift_jis", 88: "shift_jis", 95: "cp932", 96: "cp932",
    12: "euc_jp", 91: "euc_jp",
    19: "euc_kr", 85: "euc_kr",
}
_COLLATION_RANGES = (
    # utf8mb4: general/bin (45/46), 5.7 unicode_* (224-247),
    # 8.0 *_0900_* (255-323)
    ((45, 46), "utf-8"), ((224, 247), "utf-8"), ((255, 323), "utf-8"),
    # utf8mb3: general/bin (33/83), tolower (76), unicode_* (192-223)
    ((33, 33), "utf-8"), ((83, 83), "utf-8"), ((76, 76), "utf-8"),
    ((192, 223), "utf-8"),
    # latin1 variants
    ((5, 5), "latin-1"), ((8, 8), "latin-1"), ((15, 15), "latin-1"),
    ((31, 31), "latin-1"), ((47, 49), "latin-1"), ((94, 94), "latin-1"),
    # ucs2 (35/90/128-151), utf16 (54/55/101-124): big-endian
    ((35, 35), "utf-16-be"), ((90, 90), "utf-16-be"),
    ((128, 151), "utf-16-be"),
    ((54, 55), "utf-16-be"), ((101, 124), "utf-16-be"),
    # utf32 (60/61/160-183)
    ((60, 61), "utf-32-be"), ((160, 183), "utf-32-be"),
)


def collation_to_codec(cid: int) -> str:
    """Python codec for a MySQL collation id ("binary" = keep bytes;
    unknown families decode latin-1, which is lossless byte→str)."""
    codec = _COLLATION_SINGLE.get(cid)
    if codec is not None:
        return codec
    for (lo, hi), name in _COLLATION_RANGES:
        if lo <= cid <= hi:
            return name
    return "latin-1"


def _is_character_column(tc: int, meta) -> bool:
    """Character columns in the charset-TLV sense (the public
    is_character_field set: STRING, VAR_STRING, VARCHAR, BLOB) —
    excluding ENUM/SET, which travel as STRING with the real type in
    metadata byte 0 and get their own charset TLVs (types 10/11,
    ignored here: our envelope keeps ENUM ordinals / SET bitsets)."""
    if tc in (TYPE_VARCHAR, TYPE_VAR_STRING, TYPE_BLOB):
        return True
    if tc == TYPE_STRING:
        return not (isinstance(meta, tuple) and meta[0] in (TYPE_ENUM, TYPE_SET))
    return False


def _read_optional_metadata(
    body: bytes, pos: int, col_types: list[int], col_meta: list | None = None
) -> tuple[list[bool], list[str], list]:
    """Parse the TABLE_MAP optional-metadata TLV block: returns
    (per-column unsigned flags, column names, per-column charsets).
    Unknown TLV types are skipped by their declared length; SIGNEDNESS
    packs one bit per NUMERIC column, MSB-first; COLUMN_NAME
    (binlog_row_metadata=FULL) is a sequence of length-prefixed
    strings — real column names on the wire, no out-of-band catalog
    needed.  DEFAULT_CHARSET is a packed-int default collation followed
    by (index-among-character-columns, collation) packed-int pairs for
    character columns that differ (the single-charset-optimized shape
    in the public table-map layout); COLUMN_CHARSET is one packed-int
    collation per character column (the mostly-different shape).

    STRICT by design: the declared TLV lengths must tile the remaining
    body EXACTLY, SIGNEDNESS must be exactly ceil(numeric/8) bytes, and
    COLUMN_NAME must tile into exactly one name per column — otherwise
    the whole block is treated as absent.  Trailing non-TLV bytes (an
    unstripped CRC32 trailer when a caller resumes a checksummed log
    without passing checksum='crc32') would otherwise be misparsed as
    metadata and silently flip column signedness."""
    unsigned: list[bool] = []
    names: list[str] = []
    charsets: list = []
    char_cols = [
        i for i, tc in enumerate(col_types)
        if _is_character_column(tc, col_meta[i] if col_meta else None)
    ]
    try:
        while pos < len(body):
            if pos + 2 > len(body):
                return [], [], []          # dangling byte: not a TLV block
            t = body[pos]; pos += 1
            ln, pos = read_packed_int(body, pos)
            if pos + ln > len(body):
                return [], [], []          # declared length overruns: garbage
            val = body[pos:pos + ln]; pos += ln
            if t == _OPT_META_SIGNEDNESS:
                numeric = [i for i, tc in enumerate(col_types) if tc in _NUMERIC_TYPES]
                if len(val) != (len(numeric) + 7) // 8:
                    return [], [], []
                flags = [False] * len(col_types)
                for j, i in enumerate(numeric):
                    if val[j >> 3] & (0x80 >> (j & 7)):
                        flags[i] = True
                unsigned = flags
            elif t == _OPT_META_COLUMN_NAME:
                p, nm = 0, []
                while p < len(val):
                    ln2, p = read_packed_int(val, p)
                    if p + ln2 > len(val):
                        return [], [], []
                    nm.append(val[p:p + ln2].decode("utf-8")); p += ln2
                if len(nm) != len(col_types):
                    return [], [], []
                names = nm
            elif t == _OPT_META_DEFAULT_CHARSET and char_cols:
                default_cid, p = read_packed_int(val, 0)
                overrides: dict[int, int] = {}
                while p < len(val):
                    ci, p = read_packed_int(val, p)
                    cid, p = read_packed_int(val, p)
                    overrides[ci] = cid
                if any(ci >= len(char_cols) for ci in overrides):
                    return [], [], []
                cs = [None] * len(col_types)
                for j, i in enumerate(char_cols):
                    cs[i] = collation_to_codec(overrides.get(j, default_cid))
                charsets = cs
            elif t == _OPT_META_COLUMN_CHARSET and char_cols:
                cids, p = [], 0
                while p < len(val):
                    cid, p = read_packed_int(val, p)
                    cids.append(cid)
                if len(cids) != len(char_cols):
                    return [], [], []
                cs = [None] * len(col_types)
                for j, i in enumerate(char_cols):
                    cs[i] = collation_to_codec(cids[j])
                charsets = cs
    except (IndexError, UnicodeDecodeError, ValueError):
        return [], [], []
    return unsigned, names, charsets


def _decode_text(raw: bytes, charset: str | None) -> object:
    """String-column payload → value under the column's charset
    metadata: None (no TLV on the wire) and unknown families decode
    latin-1 (the reference's hardwired ISO-8859-1 floor,
    mysql_binlog.clj:537-544 — lossless byte→str); "binary" keeps
    bytes (VARBINARY); real codecs decode with latin-1 fallback on
    malformed sequences rather than failing the row."""
    if charset == "binary":
        return bytes(raw)
    if charset is None or charset == "latin-1":
        return raw.decode("latin-1")
    try:
        return raw.decode(charset)
    except (UnicodeDecodeError, LookupError):
        return raw.decode("latin-1")


def _read_value(
    body: bytes, pos: int, tc: int, meta, unsigned: bool = False,
    charset: str | None = None,
) -> tuple[object, int]:
    """D9 field decode (reference read-type :528-558; CHAR packed
    metadata special case read-field :560-580).  ``unsigned`` comes
    from the table map's SIGNEDNESS optional metadata (8.0.1+) and
    flips integer decode — without it an unsigned BIGINT above 2^63-1
    would surface as a negative number.  ``charset`` comes from the
    DEFAULT_CHARSET/COLUMN_CHARSET metadata and governs string-column
    decode (None = legacy latin-1; BLOB stays bytes without it)."""
    if tc == TYPE_STRING and isinstance(meta, tuple):
        # The metadata's first byte carries the REAL type: ENUM/SET
        # hybrids, or CHAR with pack_length folded into the high bits.
        # Re-derive type + length (public format, as in the MySQL
        # internals manual; reference does the same in read-field
        # :566-579 and then dispatches ENUM/SET in read-type :530-536).
        m0, m1 = meta
        if m0 == TYPE_ENUM:
            # 1- or 2-byte ordinal (1-based; 0 = invalid/empty)
            return int.from_bytes(body[pos:pos + m1], "little"), pos + m1
        if m0 == TYPE_SET:
            # raw bitset bytes, as the reference keeps them (:530-531)
            return bytes(body[pos:pos + m1]), pos + m1
        if m0 and (m0 & 0x30) != 0x30:
            maxlen = m1 | (((m0 & 0x30) ^ 0x30) << 4)
        else:
            maxlen = m1
        tc, meta = TYPE_VAR_STRING, maxlen
    # Branch order = real-workload frequency (ints, strings, decimals
    # dominate OLTP change streams), not type-code order — this chain
    # runs once per column per row image.
    if tc in _INT_TYPES:
        n = _INT_TYPES[tc]
        return int.from_bytes(body[pos:pos + n], "little", signed=not unsigned), pos + n
    if tc in (TYPE_VARCHAR, TYPE_VAR_STRING):
        if int(meta) < 256:
            ln = body[pos]; pos += 1
        else:
            ln = int.from_bytes(body[pos:pos + 2], "little"); pos += 2
        if charset is None:  # no charset TLVs: hot path, no extra call
            return body[pos:pos + ln].decode("latin-1"), pos + ln
        return _decode_text(body[pos:pos + ln], charset), pos + ln
    if tc == TYPE_NEWDECIMAL:
        p, s = meta
        size = decimal_bin_size(p, s)
        return decode_decimal(body[pos:pos + size], p, s), pos + size
    if tc == TYPE_FLOAT:
        return struct.unpack_from("<f", body, pos)[0], pos + 4
    if tc == TYPE_DOUBLE:
        return struct.unpack_from("<d", body, pos)[0], pos + 8
    if tc == TYPE_YEAR:
        v = body[pos]
        return (0 if v == 0 else 1900 + v), pos + 1
    if tc in (TYPE_DATE, TYPE_NEWDATE):
        return decode_date(body[pos:pos + 3]), pos + 3
    if tc == TYPE_JSON:
        n = int(meta or 4)
        ln = int.from_bytes(body[pos:pos + n], "little"); pos += n
        return decode_binary_json(bytes(body[pos:pos + ln])), pos + ln
    if tc == TYPE_BIT:
        bits_rem, nbytes = meta
        blen = nbytes + (1 if bits_rem else 0)
        return int.from_bytes(body[pos:pos + blen], "big"), pos + blen
    if tc == TYPE_TIMESTAMP:   # legacy: 4-byte LE epoch seconds
        return int.from_bytes(body[pos:pos + 4], "little"), pos + 4
    if tc == TYPE_DATETIME:    # legacy: 8-byte LE YYYYMMDDHHMMSS
        v = int.from_bytes(body[pos:pos + 8], "little")
        d, t = divmod(v, 1_000_000)
        y, md = divmod(d, 10_000)
        mo, dd = divmod(md, 100)
        h, ms_ = divmod(t, 10_000)
        mi, s = divmod(ms_, 100)
        return f"{y:04d}-{mo:02d}-{dd:02d} {h:02d}:{mi:02d}:{s:02d}", pos + 8
    if tc == TYPE_TIME:        # legacy: 3-byte LE signed HHMMSS
        v = int.from_bytes(body[pos:pos + 3], "little", signed=True)
        sign, v = ("-", -v) if v < 0 else ("", v)
        h, ms_ = divmod(v, 10_000)
        mi, s = divmod(ms_, 100)
        return f"{sign}{h:02d}:{mi:02d}:{s:02d}", pos + 3
    if tc == TYPE_DATETIME2:
        n = 5 + frac_bytes(int(meta))
        return decode_datetime2(body[pos:pos + n], int(meta)), pos + n
    if tc == TYPE_TIMESTAMP2:
        n = 4 + frac_bytes(int(meta))
        return decode_timestamp2(body[pos:pos + n], int(meta)), pos + n
    if tc == TYPE_TIME2:
        n = 3 + frac_bytes(int(meta))
        return decode_time2(body[pos:pos + n], int(meta)), pos + n
    if tc == TYPE_BLOB:
        n = int(meta)
        ln = int.from_bytes(body[pos:pos + n], "little")
        pos += n
        raw = body[pos:pos + ln]
        # Without charset metadata every BLOB/TEXT stays bytes (legacy
        # behavior); with it, TEXT columns decode to str and binary
        # BLOBs (collation 63) stay bytes.
        if charset is None:
            return bytes(raw), pos + ln
        return _decode_text(raw, charset), pos + ln
    raise ValueError(f"Cannot read type {tc}")  # reference :558


# (column count, used-columns bitmap) → ordinal list.  Row events in a
# transaction batch share one bitmap, and across a whole log only a
# handful of (width, bitmap) shapes exist — the per-image bit scan is
# pure rework.  Bounded like the table-map memo.
_USED_CACHE: dict[tuple[int, bytes], list[int]] = {}


def _used_cols(n_cols: int, used_bitmap: bytes) -> list[int]:
    key = (n_cols, used_bitmap)
    used = _USED_CACHE.get(key)
    if used is None:
        if len(_USED_CACHE) >= _TMAP_CACHE_MAX:
            _USED_CACHE.clear()
        used = [i for i in range(n_cols) if used_bitmap[i >> 3] & (1 << (i & 7))]
        _USED_CACHE[key] = used
    return used


def _full_names(tmap: TableMapState) -> list[str]:
    """Resolved name per ordinal, computed once per map instead of one
    `col_name` call per column per row image."""
    names = tmap.__dict__.get("_names_all")
    if names is None:
        names = [tmap.col_name(i) for i in range(len(tmap.col_types))]
        tmap._names_all = names
    return names


def _make_field_decoder(tc: int, meta, unsigned: bool = False,
                        charset: str | None = None):
    """``(body, pos) -> (value, new_pos)`` for ONE column: `_read_value`
    with the column's type metadata bound.  The compiled image plans
    (`_compile_image_plan`) inline the hot OLTP types (ints, strings,
    CHAR/ENUM/SET, NEWDECIMAL) and call this closure for every other
    type; it is also the interpreted reference the compiled plans are
    pinned against (tests/test_compiled_image_plan.py) — one semantics,
    two speeds."""
    def d_value(body, pos, tc=tc, meta=meta, unsigned=unsigned,
                charset=charset):
        return _read_value(body, pos, tc, meta, unsigned, charset)
    return d_value


def _field_inline_src(i: int, tc: int, meta, unsigned: bool,
                      charset, env: dict,
                      stringify: bool = False) -> list[str] | None:
    """Source lines decoding column i inline inside the compiled image
    decoder (`_compile_image_plan`), or None to fall back to a
    `_make_field_decoder` closure call.  Covers the hot OLTP types
    (ints, length-prefixed strings, packed CHAR, ENUM/SET, NEWDECIMAL
    unrolled per (precision, scale)) and MUST stay value- and
    width-identical to `_read_value` (pinned by
    tests/test_compiled_image_plan.py + the codec property fuzz).

    ``stringify=True`` emits the MAP-envelope string form directly
    (`stringify_image` semantics fused into the decode: int → str,
    bytes → hex, str passthrough) so the envelope builder does not
    re-walk every image dict."""
    if tc == TYPE_STRING and isinstance(meta, tuple):
        m0, m1 = meta
        if m0 == TYPE_ENUM:
            ev_ = f"ifb(body[pos:e], 'little')"
            return [f"e = pos + {m1}",
                    f"v{i} = str({ev_})" if stringify else f"v{i} = {ev_}",
                    "pos = e"]
        if m0 == TYPE_SET:
            sv_ = ("body[pos:e].hex()" if stringify
                   else "bytes(body[pos:e])")
            return [f"e = pos + {m1}",
                    f"v{i} = {sv_}",
                    "pos = e"]
        if m0 and (m0 & 0x30) != 0x30:
            maxlen = m1 | (((m0 & 0x30) ^ 0x30) << 4)
        else:
            maxlen = m1
        tc, meta = TYPE_VAR_STRING, maxlen
    if tc in _INT_TYPES:
        n = _INT_TYPES[tc]
        sg = "" if unsigned else ", signed=True"
        iv_ = f"ifb(body[pos:e], 'little'{sg})"
        return [f"e = pos + {n}",
                f"v{i} = str({iv_})" if stringify else f"v{i} = {iv_}",
                "pos = e"]
    if tc in (TYPE_VARCHAR, TYPE_VAR_STRING):
        if int(meta) < 256:
            pre = ["s = pos + 1", "e = s + body[pos]"]
        else:
            pre = ["s = pos + 2",
                   "e = s + (body[pos] | (body[pos + 1] << 8))"]
        if charset is None:
            return pre + [f"v{i} = body[s:e].decode('latin-1')", "pos = e"]
        if charset == "binary" and stringify:
            # VARBINARY: _decode_text keeps bytes; the MAP-envelope
            # string form hexes them (stringify_image parity)
            return pre + [f"v{i} = body[s:e].hex()", "pos = e"]
        env[f"cs{i}"] = charset
        return pre + [f"v{i} = dtxt(body[s:e], cs{i})", "pos = e"]
    if tc == TYPE_NEWDECIMAL:
        p_, s_ = meta
        size = decimal_bin_size(p_, s_)
        if not size:
            return None
        # Specialised per (precision, scale): a complete non-negative
        # value (sign bit set) unpacks its groups from one integer
        # straight into the canonical text; a negative or truncated one
        # takes `decode_decimal` (complement, -0 rule, short groups).
        return [f"e = pos + {size}",
                "if body[pos] & 128 and e <= len(body):",
                f"    x = ifb(body[pos:e], 'big') ^ {1 << (8 * size - 1)}",
                f"    v{i} = {_decimal_inline_expr(p_, s_)}",
                "else:",
                f"    v{i} = ddec(body[pos:e], {p_}, {s_})",
                "pos = e"]
    return None


def _decimal_inline_expr(precision: int, scale: int) -> str:
    """Source expression for the canonical text of a packed
    DECIMAL(precision, scale) whose bytes, sign bit already cleared,
    are the integer ``x``: `decode_decimal` unrolled for one shape —
    the same base-10^9 groups (shifted out of ``x`` instead of sliced)
    and the same folds, so any complete non-negative field, canonical
    or not, yields the same text."""
    intg = precision - scale
    groups: list[tuple[int, int]] = []   # (bytes, fold multiplier)
    if intg % 9:
        groups.append((_DIG2BYTES[intg % 9], 0))
    groups += [(4, 1_000_000_000)] * (intg // 9)
    n_int = len(groups)
    groups += [(4, 1_000_000_000)] * (scale // 9)
    if scale % 9:
        groups.append((_DIG2BYTES[scale % 9], _POW10[scale % 9]))
    terms: list[str] = []
    shift = 8 * sum(n for n, _ in groups)
    for k, (n, _) in enumerate(groups):
        shift -= 8 * n
        g = f"(x >> {shift})" if shift else "x"
        terms.append(g if k == 0 else f"({g} & {(1 << (8 * n)) - 1})")

    def fold(lo: int, hi: int) -> str:
        acc = None
        for k in range(lo, hi):
            acc = terms[k] if acc is None else f"({acc}) * {groups[k][1]} + {terms[k]}"
        return acc or "0"

    ip, fp = fold(0, n_int), fold(n_int, len(groups))
    if not scale:
        return f"str({ip})"
    return f"'%d.%0{scale}d' % ({ip}, {fp})"


def _compile_image_plan(specs: list, null_bytes: int,
                        stringify: bool = False):
    """Compile ONE (table map, used-bitmap) shape into a straight-line
    ``(body, pos) -> (image_dict, new_pos)`` function (r19, guide §4.2
    per-task work): the interpreted per-field loop paid, per row image,
    a (name, decoder) tuple unpack + closure call + (value, pos) tuple
    allocation + dict __setitem__ per column — 42 % of the codec wall
    in the bench profile.  The generated source decodes hot types
    inline (no call, no tuple), falls back to the `_make_field_decoder`
    closure for everything else (one semantics), and builds the image
    as a single dict display.  NULL-bitmap semantics unchanged: bit j
    set → key present with None; column-not-in-image → key absent
    (specs already restricted to the used bitmap).

    ``specs``: list of (name, type_code, meta, unsigned, charset)."""
    env: dict = {"ifb": int.from_bytes, "ddec": decode_decimal,
                 "dtxt": _decode_text}
    blocks: list[list[str]] = []
    for i, (name, tc, meta, unsigned, charset) in enumerate(specs):
        src = _field_inline_src(i, tc, meta, unsigned, charset, env,
                                stringify)
        if src is None:
            env[f"d{i}"] = _make_field_decoder(tc, meta, unsigned, charset)
            src = [f"v{i}, pos = d{i}(body, pos)"]
            if stringify:
                env.setdefault("isin", isinstance)
                src += [
                    f"if v{i} is not None:",
                    f"    v{i} = (v{i}.hex() if isin(v{i}, bytes)"
                    f" else str(v{i}))",
                ]
        blocks.append(src)
    ret = "return {" + ", ".join(
        f"{name!r}: v{i}" for i, (name, *_rest) in enumerate(specs)
    ) + "}, pos"
    # env members bound as default args: locals-speed access in the
    # compiled body instead of a globals-dict lookup per reference.
    args = ", ".join(f"{k}={k}" for k in env)
    if null_bytes == 1:  # ≤8 used columns: direct byte index, no call
        null_read = ["    nulls = body[pos]", "    pos += 1"]
    else:
        null_read = [
            f"    nulls = ifb(body[pos:pos + {null_bytes}], 'little')",
            f"    pos += {null_bytes}",
        ]
    lines = [f"def _img(body, pos, {args}):", *null_read]
    if specs:
        lines.append("    if nulls:")
        for i, blk in enumerate(blocks):
            lines.append(f"        if nulls & {1 << i}:")
            lines.append(f"            v{i} = None")
            lines.append("        else:")
            lines.extend(f"            {ln}" for ln in blk)
        lines.append("    else:")  # hot path: fully non-NULL image
        for blk in blocks:
            lines.extend(f"        {ln}" for ln in blk)
    lines.append(f"    {ret}")
    exec("\n".join(lines), env)  # noqa: S102 — source built from
    # type codes and repr'd column names only, no external input
    return env["_img"]


def _image_plan(tmap: TableMapState, used_bitmap: bytes,
                stringify: bool = False):
    """Compiled ``(body, pos) -> (image_dict, new_pos)`` decoder for
    one (table map, used-columns bitmap) shape, cached on the map
    instance — a whole log reuses a handful of shapes, so the bit
    scan, name resolution, decoder specialization AND the codegen are
    construction-time, not per-image.  ``stringify=True`` compiles the
    MAP-envelope string form (cached separately)."""
    plans = tmap.__dict__.get("_img_plans")
    if plans is None:
        plans = tmap._img_plans = {}
    key = (used_bitmap, stringify)
    plan = plans.get(key)
    if plan is None:
        used = _used_cols(len(tmap.col_types), used_bitmap)
        names = _full_names(tmap)
        unsigned, charsets = tmap.unsigned, tmap.charsets
        specs = [
            (
                names[i],
                tmap.col_types[i],
                tmap.col_meta[i],
                bool(unsigned) and unsigned[i],
                charsets[i] if charsets else None,
            )
            for i in used
        ]
        plan = _compile_image_plan(specs, (len(used) + 7) // 8, stringify)
        plans[key] = plan
    return plan


def stringify_image(image: dict | None) -> dict | None:
    """MAP-envelope string form of a typed row image: None → None,
    bytes → lowercase hex (SET columns decode to raw bitset bytes;
    the reference keeps byte[], mysql_binlog.clj:530-531), everything
    else → str.  The compiled string-mode plans fuse this into the
    decode; this standalone form serves the paths that must decode
    typed first (partial-update diffs, `envelope_records` over typed
    events)."""
    if image is None:
        return None
    return {
        k: (None if v is None else (v.hex() if isinstance(v, bytes) else str(v)))
        for k, v in image.items()
    }


def _field_skip_src(k: int, tc: int, meta, env: dict) -> int | str:
    """Byte width of ONE column for the compiled width-walk
    (`_skip_plan`): a constant int for fixed-width types, or a source
    expression for the new ``pos`` of a length-prefixed one.  The
    projection-pruning fast path (`images=` pushdown): when a scan's
    projection needs no before/after image values, row images are
    WIDTH-WALKED — no value materialization, no per-field Python
    object, no charset/decimal/JSON decode — while row cardinality and
    frame alignment stay exact.  Every width must land exactly where
    `_read_value` lands (pinned by tests/test_binlog_codec.py and the
    codec property fuzz); the generated names bind into ``env``."""
    if tc == TYPE_STRING and isinstance(meta, tuple):
        m0, m1 = meta
        if m0 in (TYPE_ENUM, TYPE_SET):
            return m1
        if m0 and (m0 & 0x30) != 0x30:
            maxlen = m1 | (((m0 & 0x30) ^ 0x30) << 4)
        else:
            maxlen = m1
        tc, meta = TYPE_VAR_STRING, maxlen
    if tc in _INT_TYPES:
        return _INT_TYPES[tc]
    if tc in (TYPE_VARCHAR, TYPE_VAR_STRING):
        if int(meta) < 256:
            return "pos + 1 + body[pos]"
        return "pos + 2 + (body[pos] | (body[pos + 1] << 8))"
    if tc == TYPE_NEWDECIMAL:
        p_, s_ = meta
        return decimal_bin_size(p_, s_)
    if tc == TYPE_FLOAT:
        return 4
    if tc == TYPE_DOUBLE:
        return 8
    if tc == TYPE_YEAR:
        return 1
    if tc in (TYPE_DATE, TYPE_NEWDATE, TYPE_TIME):
        return 3
    if tc == TYPE_TIMESTAMP:
        return 4
    if tc == TYPE_DATETIME:
        return 8
    if tc == TYPE_DATETIME2:
        return 5 + frac_bytes(int(meta))
    if tc == TYPE_TIMESTAMP2:
        return 4 + frac_bytes(int(meta))
    if tc == TYPE_TIME2:
        return 3 + frac_bytes(int(meta))
    if tc == TYPE_BIT:
        bits_rem, nbytes = meta
        return nbytes + (1 if bits_rem else 0)
    if tc in (TYPE_JSON, TYPE_BLOB):
        n = int(meta or 4) if tc == TYPE_JSON else int(meta)
        return f"pos + {n} + ifb(body[pos:pos + {n}], 'little')"
    # unknown type: decode-and-discard keeps one width semantics
    env[f"d{k}"] = _make_field_decoder(tc, meta)
    return f"d{k}(body, pos)[1]"


def _skip_plan(tmap: TableMapState, used_bitmap: bytes):
    """Compiled ``(body, pos) -> new_pos`` width-walk of one row image
    for one (table map, used-bitmap) shape, cached on the map instance
    like `_image_plan`.  NULL columns consume zero bytes (their bit is
    set), so the per-column null test only runs when the bitmap is
    non-zero; the fully-non-NULL hot path adds ADJACENT fixed widths
    into one constant (all-fixed images skip in O(1))."""
    plans = tmap.__dict__.get("_skip_plans")
    if plans is None:
        plans = tmap._skip_plans = {}
    plan = plans.get(used_bitmap)
    if plan is None:
        used = _used_cols(len(tmap.col_types), used_bitmap)
        env: dict = {"ifb": int.from_bytes}
        widths = [
            _field_skip_src(k, tmap.col_types[i], tmap.col_meta[i], env)
            for k, i in enumerate(used)
        ]
        plan = _compile_skip_plan(widths, (len(used) + 7) // 8, env)
        plans[used_bitmap] = plan
    return plan


def _compile_skip_plan(widths: list, null_bytes: int, env: dict):
    """Source-compile the width-walk (see `_compile_image_plan`):
    ``widths`` holds one `_field_skip_src` result per used column."""

    def step(w) -> str:
        return f"pos += {w}" if isinstance(w, int) else f"pos = {w}"

    merged: list = []
    for w in widths:
        if isinstance(w, int) and merged and isinstance(merged[-1], int):
            merged[-1] += w
        else:
            merged.append(w)
    args = ", ".join(f"{k}={k}" for k in env)
    if null_bytes == 1:
        null_read = ["    nulls = body[pos]", "    pos += 1"]
    else:
        null_read = [
            f"    nulls = ifb(body[pos:pos + {null_bytes}], 'little')",
            f"    pos += {null_bytes}",
        ]
    lines = [f"def _skip(body, pos, {args}):", *null_read]
    if widths:
        lines.append("    if nulls:")
        for j, w in enumerate(widths):
            lines.append(f"        if not nulls & {1 << j}:")
            lines.append(f"            {step(w)}")
        lines.append("        return pos")
        lines.extend(f"    {step(w)}" for w in merged)
    lines.append("    return pos")
    exec("\n".join(lines), env)  # noqa: S102 — source built from
    # type codes and integer widths only, no external input
    return env["_skip"]


_UPDATE_TYPES = frozenset({
    UPDATE_ROWS_EVENT, UPDATE_ROWS_EVENT_V2, PARTIAL_UPDATE_ROWS_EVENT,
})


def _row_section(tmap: TableMapState, type_code: int, used1: bytes,
                 used2: bytes | None, images: str, stringify: bool):
    """Compile the ``(body, p) -> (before_rows, after_rows)`` decoder of
    a WRITE/UPDATE/DELETE event's row section for one (table map, row
    type, used bitmaps, ``images``, ``stringify``) shape and cache it on
    the map, where `_decode_rows` looks it up: which side each image
    lands on, and whether it is decoded (`_image_plan`) or width-walked
    (`_skip_plan`), is settled here once, so the per-row loop has no
    branches.  A side the projection never reads surfaces as None
    placeholders, so row count and row_idx match a full decode."""
    want = {"before": images in ("both", "before"),
            "after": images in ("both", "after")}
    # (row list, used bitmap) per image, in wire order; WRITE's
    # single image is the after side
    if used2 is not None:
        sides = [("before", used1), ("after", used2)]
    elif type_code in (WRITE_ROWS_EVENT, WRITE_ROWS_EVENT_V2):
        sides = [("after", used1)]
    else:
        sides = [("before", used1)]
    env: dict = {}
    head = ["    end = len(body)"]
    loop: list[str] = []
    for k, (side, used) in enumerate(sides):
        head.append(f"    {side} = []; add_{side} = {side}.append")
        if want[side]:
            env[f"d{k}"] = _image_plan(tmap, used, stringify)
            loop.append(f"img, p = d{k}(body, p); add_{side}(img)")
        else:
            env[f"s{k}"] = _skip_plan(tmap, used)
            loop.append(f"p = s{k}(body, p); add_{side}(None)")
    names = [side for side, _ in sides]
    out = ", ".join(f"{side} or None" if side in names else "None"
                    for side in ("before", "after"))
    args = ", ".join(f"{k}={k}" for k in env)
    lines = [
        f"def _sec(body, p, {args}):",
        *head,
        "    while p < end:",
        "        p0 = p",
        *(f"        {ln}" for ln in loop),
        "        if p <= p0:",   # zero-width image on a non-empty tail
        "            raise ValueError('row image consumed no bytes')",
    ]
    if not all(want[side] for side in names):
        # a width walk that overshoots the body means skipper/
        # decoder width divergence or corruption — surface it, a
        # silent overshoot would drop rows the full decode keeps
        lines += [
            "    if p != end:",
            "        raise ValueError(f'row section misparse under image "
            "pruning: walked to {p}, body is {end}')",
        ]
    lines.append(f"    return {out}")
    exec("\n".join(lines), env)  # noqa: S102 — fixed source over
    # compiled plans, no external input
    sec = env["_sec"]
    tmap.__dict__.setdefault("_row_secs", {})[
        (type_code, used1, used2, images, stringify)
    ] = sec
    return sec


def _decode_rows(ev: dict, type_code: int, body: bytes,
                 tmap: TableMapState | None, images: str,
                 stringify: bool) -> None:
    """Row-event body decode into ``ev`` (reference read-wud-rows,
    mysql_binlog.clj:611-682): post-header, width check and bitmaps,
    then the compiled `_row_section` — or, for PARTIAL_UPDATE, the
    diff-applying loop."""
    if tmap is None:
        raise ValueError("row event without preceding TABLE_MAP")
    ev["db"], ev["tbl"] = tmap.db, tmap.table
    p = 8  # table_id(6) + flags(2)
    if type_code >= WRITE_ROWS_EVENT_V2:
        # v2 post-header (MySQL >=5.6, incl. PARTIAL_UPDATE 39):
        # extra-row-info length u16 INCLUDING its own two bytes;
        # skip the optional payload (NDB info / partition info)
        # real servers may emit.
        extra_len = int.from_bytes(body[8:10], "little")
        if extra_len < 2:
            raise ValueError(f"rows v2 extra-data length {extra_len} < 2")
        p = 8 + extra_len
    n_cols = body[p]
    if n_cols < 251:
        p += 1
    else:
        n_cols, p = read_packed_int(body, p)
    # A real row event's declared width always equals its table
    # map's column count; disagreement means a corrupt body.
    # Without this check a garbage width silently skips the whole
    # row section (the bitmap slice overshoots the body) and the
    # event decodes as an EMPTY row set — worse than failing.
    if n_cols != len(tmap.col_types):
        raise ValueError(
            f"row event declares {n_cols} columns, "
            f"table map has {len(tmap.col_types)}"
        )
    bm_bytes = (n_cols + 7) // 8
    used1 = body[p:p + bm_bytes]; p += bm_bytes
    used2 = None
    if type_code in _UPDATE_TYPES:
        used2 = body[p:p + bm_bytes]; p += bm_bytes
    if type_code == PARTIAL_UPDATE_ROWS_EVENT:
        ev["before"], ev["after"] = _partial_rows(
            body, p, tmap, used1, used2, images, stringify
        )
        return
    secs = tmap.__dict__.get("_row_secs")
    sec = secs.get((type_code, used1, used2, images, stringify)) if secs else None
    if sec is None:
        sec = _row_section(tmap, type_code, used1, used2, images, stringify)
    ev["before"], ev["after"] = sec(body, p)


def _partial_rows(body: bytes, p: int, tmap: TableMapState, used1: bytes,
                  used2: bytes, images: str, stringify: bool):
    """Row section of a PARTIAL_UPDATE_ROWS_EVENT.  Its after-images
    are JSON diffs against the typed before image, so both sides always
    decode fully and ``images=`` only applies the placeholder contract
    afterwards (prune is then not-faster, never wrong)."""
    plan1 = _image_plan(tmap, used1)
    rows_before, rows_after = [], []
    body_len = len(body)
    while p < body_len:
        p0 = p
        img1, p = plan1(body, p)
        img2, p = _read_partial_image(body, p, tmap, used2, img1)
        rows_before.append(img1); rows_after.append(img2)
        if p <= p0:  # zero-width image on a non-empty tail = corrupt
            raise ValueError("row image consumed no bytes")
    n = len(rows_before)
    if images in ("after", "none"):
        rows_before = [None] * n
    if images in ("before", "none"):
        rows_after = [None] * n
    if stringify:
        # decoded typed (diff base) — convert now so the event's
        # string contract matches the string-mode plans
        rows_before = [stringify_image(r) for r in rows_before]
        rows_after = [stringify_image(r) for r in rows_after]
    return rows_before or None, rows_after or None


def _read_partial_image(
    body: bytes,
    pos: int,
    tmap: TableMapState,
    used_bitmap: bytes,
    before: dict,
) -> tuple[dict, int]:
    """After image of a PARTIAL_UPDATE_ROWS_EVENT (8.0 PARTIAL_JSON,
    WL#2955): a net_store_length value_options field precedes the null
    bitmap; when its PARTIAL_JSON bit is set, a partial_bits bitmap
    (one bit per JSON column of the table, null-bitmap bit order)
    follows, and flagged JSON columns carry a length-prefixed diff
    vector instead of a full document — applied here against the
    before image so the envelope surfaces the full after value."""
    col_types, col_meta = tmap.col_types, tmap.col_meta
    unsigned, charsets = tmap.unsigned, tmap.charsets
    value_options, pos = read_packed_int(body, pos)
    json_cols = [i for i, tc in enumerate(col_types) if tc == TYPE_JSON]
    partial_bits = b""
    if value_options & 1 and json_cols:
        nb = (len(json_cols) + 7) // 8
        partial_bits = body[pos:pos + nb]
        pos += nb
    is_partial = {
        i: bool(partial_bits and partial_bits[j >> 3] & (1 << (j & 7)))
        for j, i in enumerate(json_cols)
    }
    used = _used_cols(len(col_types), used_bitmap)
    names = _full_names(tmap)
    null_bytes = (len(used) + 7) // 8
    nulls = body[pos:pos + null_bytes]
    pos += null_bytes
    image: dict[str, object] = {}
    for j, i in enumerate(used):
        if nulls[j >> 3] & (1 << (j & 7)):
            image[names[i]] = None
        elif is_partial.get(i):
            n = int(col_meta[i] or 4)
            ln = int.from_bytes(body[pos:pos + n], "little"); pos += n
            diff_bytes = bytes(body[pos:pos + ln]); pos += ln
            image[names[i]] = apply_json_diffs(before.get(names[i]), diff_bytes)
        else:
            v, pos = _read_value(
                body, pos, col_types[i], col_meta[i],
                bool(unsigned) and unsigned[i],
                charsets[i] if charsets else None,
            )
            image[names[i]] = v
    return image, pos


def decode_binlog(
    data: bytes,
    catalog: dict[tuple[str, str], list[str]] | None = None,
    start_offset: int = 4,
    table_map: TableMapState | None = None,
    on_error: str = "raise",
    checksum: str | None = None,
    only_tables: "set[tuple[str, str]] | None" = None,
    only_ops: "set[str] | None" = None,
    images: str = "both",
    min_row_offset: int = 0,
    row_ts_min: int | None = None,
    row_ts_max: int | None = None,
    stringify: bool = False,
) -> list[dict]:
    """D1+S3/S4: walk the event chain from `start_offset`, threading
    table-map state, with the torn-tail guard (a header or body that
    does not fit inside the data is NOT emitted — reference :316,
    :326-328).  Returns one dict per decoded event.

    `table_map` carries decode state ACROSS incremental reads (the
    reference threads it through agent state between turns, :911-913);
    the final state is available on the last event's ``_table_map``
    via `decode_binlog_incremental`.  Row events without any TABLE_MAP
    raise, as in the reference (:727-729).
    """
    events, _, _, _ = decode_binlog_incremental(
        data, start_offset, table_map, catalog, on_error=on_error,
        checksum=checksum, only_tables=only_tables, only_ops=only_ops,
        images=images, min_row_offset=min_row_offset,
        row_ts_min=row_ts_min, row_ts_max=row_ts_max,
        stringify=stringify,
    )
    return events


def decode_binlog_incremental(
    data: bytes,
    start_offset: int = 4,
    table_map: TableMapState | None = None,
    catalog: dict[tuple[str, str], list[str]] | None = None,
    *,
    base: int = 0,
    on_error: str = "raise",
    checksum: str | None = None,
    advance_by_length: bool = False,
    only_tables: "set[tuple[str, str]] | None" = None,
    only_ops: "set[str] | None" = None,
    seq_base: int = 0,
    images: str = "both",
    min_row_offset: int = 0,
    row_ts_min: int | None = None,
    row_ts_max: int | None = None,
    stringify: bool = False,
) -> tuple[list[dict], int, TableMapState | None, int]:
    """S9 incremental-turn form: decode `[start_offset, end-of-data)`
    and return (events, next_offset, table_map_state, next_seq) so the
    caller can resume exactly where this read stopped (reference
    cdc-turn, mysql_binlog.clj:907-919: offset ← (:next (peek
    events)), table-map carried in agent state).

    ``seq_base`` seeds the frame counter and ``next_seq`` reports
    where it stopped (counting skipped frames and spliced payload
    frames — the seq-slot contract), so a resumed or sliced decode
    numbers frames exactly as one contiguous decode of the whole file
    would: pass the previous call's ``next_seq`` as the next call's
    ``seq_base`` and ``seq`` stays FILE-GLOBAL across slice
    boundaries (r16 ADVICE: slice-local seq collided when a capped
    stream trigger cut a file mid-way).

    ``images`` is PROJECTION pruning pushed below decode — the column
    analog of only_tables/only_ops (the reference decodes every used
    column of every row image unconditionally,
    mysql_binlog.clj:592-604): ``"both"`` (default) decodes fully;
    ``"after"``/``"before"`` width-walk the other side;  ``"none"``
    width-walks both.  A pruned side's rows surface as None
    placeholders, so row COUNT, row_idx and seq are identical to a
    full decode — only the values are absent.  Width walks go through
    compiled skip plans (`_skip_plan`): no per-field Python object,
    no charset/decimal/JSON decode, adjacent fixed-width columns
    collapse to one stride, and an all-fixed non-NULL image skips in
    O(1).  PARTIAL_UPDATE events always decode fully (diff base) and
    only apply the placeholder contract.

    ``base`` is the absolute file position of ``data[0]``: a tailer
    that seeks to its saved offset and reads only the new tail passes
    the tail bytes with ``base=offset`` (mirroring the reference's
    map-from-offset mmap, with-open-binlog* :696-705) — reported
    offsets and the returned next_offset stay absolute.  With the
    default ``base=0`` the data must start with the 4-byte magic.

    ``on_error='quarantine'`` is the dead-letter mode the reference
    lacks (it crashes on the first malformed event, :727-729): a
    complete-but-undecodable event is emitted as op='quarantine' with
    the reason in ``sql``, and the walk CONTINUES at the next header
    (the event frame is intact — only the body failed).  Production
    CDC must drain past poison events; crashing loses the stream.

    ``only_tables={(db, tbl), ...}`` is filter-BEFORE-decode pushdown
    (SURVEY §4 — the reference decodes every used column of every row
    event, mysql_binlog.clj:592-604, and filters afterwards): headers,
    TABLE_MAPs, and all non-row events decode as usual, but a row
    event whose current table map names a table NOT in the set skips
    row-image body decode entirely and is dropped from the output —
    the frame's event_len makes the skip free.  Parity contract:
    emitted events (including their ``seq``, which still counts
    skipped frames) are byte-identical to a full decode filtered to
    ``keep(e) = e.op not a row op or (db, tbl) ∈ only_tables``.  CRC32
    trailers are STILL verified on skipped frames (stream integrity is
    not negotiable; the win is skipping the per-column Python image
    parse, ~100× the crc cost).  The one intended asymmetry: body
    corruption INSIDE a skipped row event on a checksum-free log is
    never observed (no quarantine record), because the body is never
    read.  A row event arriving with no table map yet (tmap None)
    cannot be attributed and takes the normal decode/error path.

    ``only_ops={"write_rows", ...}`` is the DELTA-TYPE predicate (R5,
    jdbc.clj:180-182 — the reference filters delta-type POST-decode)
    pushed below decode, symmetric to ``only_tables``: a row event
    whose op name (known from the type code alone, no table map
    needed) is NOT in the set skips image parsing and is dropped,
    with the same seq-slot and CRC-verification contract.  An
    insert-only consumer passes {"write_rows"} and never pays
    update/delete image decode.  Composes with ``only_tables`` (a
    frame must pass BOTH predicates to decode).  Non-row events
    (query/xid/table_map/...) always decode — only row-image parsing
    is skippable.  Same corruption asymmetry as only_tables, plus
    one more: a skipped-op row event arriving with NO table map is
    dropped without the "row event without preceding TABLE_MAP"
    error a full decode would raise (its op needs no attribution).

    ``stringify=True`` decodes row images straight into the
    MAP-envelope string form — value-for-value `stringify_image` of
    the typed decode (int → str, bytes → hex, str passthrough), fused
    into the compiled image plans so envelope builders skip the
    per-image re-walk.  Everything else (structure, seq, offsets,
    non-row events) is identical to a typed decode.
    """
    if base == 0 and not is_binlog(data):
        raise ValueError("not a binlog file (bad magic)")
    if start_offset < base:
        raise ValueError(f"start_offset {start_offset} precedes base {base}")
    catalog = catalog or {}
    events: list[dict] = []
    tmap = table_map
    # CRC32 framing state (MySQL ≥5.6.6 binlog_checksum): normally
    # auto-detected from this file's FDE; a tailer resuming mid-file
    # past the FDE passes the detected mode back in via `checksum`.
    alg = 1 if checksum == "crc32" else 0
    seq = seq_base
    pos = start_offset - base  # index into `data`; absolute = base + pos
    # hot-walk locals: one global/attr lookup per FRAME adds up at 40M
    # frames per x100 log
    data_len = len(data)
    unpack_header = struct.Struct("<IBIIIH").unpack_from
    unpack_xid = struct.Struct("<Q").unpack_from
    op_name = OP_NAMES.get
    row_types = ROW_EVENT_TYPES
    pushdown = (
        only_tables is not None or only_ops is not None or min_row_offset > 0
        or row_ts_min is not None or row_ts_max is not None
    )
    # TABLE_MAP body bytes → resolved map, for this call: MySQL re-sends
    # an identical map before every row event, so a repeat costs one
    # lookup here instead of the cross-call memo's key building.
    maps_seen: dict[bytes, TableMapState] = {}
    while pos + HEADER_LEN <= data_len:
        ts, type_code, server_id, event_len, next_pos, flags = unpack_header(
            data, pos
        )
        if event_len < HEADER_LEN or pos + event_len > data_len:
            break  # torn tail: incomplete trailing event, retry next turn
        ev: dict = {
            "seq": seq, "offset": base + pos, "ts": ts, "server_id": server_id,
            "event_len": event_len, "next": next_pos, "flags": flags,
            "op": op_name(type_code), "db": None, "tbl": None,
            "xid": None, "sql": None, "before": None, "after": None,
        }
        # Filter-before-decode: a row event for a table outside the
        # pushdown set skips image parsing entirely (but still passes
        # CRC framing below, and still consumes a seq slot so emitted
        # events match a full decode's numbering exactly).
        skip_body = pushdown and type_code in row_types and (
            (
                only_tables is not None
                and tmap is not None
                and (tmap.db, tmap.table) not in only_tables
            )
            or (
                only_ops is not None
                and OP_NAMES[type_code] not in only_ops
            )
            # offset/ts RANGE pushdown (r17): a row frame whose offset
            # or timestamp falls outside the pushed bounds can never
            # pass the post-scan re-filter, so its image parse is pure
            # waste — skip it with the same seq-slot/CRC contract.
            # Only row events skip; non-row events still decode (state
            # and attribution) and Spark drops the out-of-range ones.
            or base + pos < min_row_offset
            or (row_ts_min is not None and ts < row_ts_min)
            or (row_ts_max is not None and ts > row_ts_max)
        )
        try:
            end = pos + event_len
            if type_code == FORMAT_DESCRIPTION_EVENT:
                alg = _fde_checksum_alg(bytes(data[pos + HEADER_LEN:end]))
                ev["checksum_alg"] = "crc32" if alg == 1 else None
            if alg == 1 and event_len >= HEADER_LEN + 4:
                # Trailer = CRC32 over header+body (not itself);
                # verify, then strip so body parsing sees the logical
                # payload.  A mismatch is handled like any corrupt
                # body: raise, or dead-letter in quarantine mode —
                # the frame boundaries are still trustworthy.
                end -= 4
                expect = int.from_bytes(data[end:end + 4], "little")
                actual = zlib.crc32(data[pos:end])
                if actual != expect:
                    raise ValueError(
                        f"CRC32 mismatch on {OP_NAMES.get(type_code, type_code)} "
                        f"at offset {base + pos}: "
                        f"stored {expect:#010x}, computed {actual:#010x}"
                    )
            # A skipped frame never materializes its body bytes at all
            # (r16): the pushdown skip costs one header unpack + one
            # crc32 — no per-frame copy.
            if not skip_body:
                body = bytes(data[pos + HEADER_LEN:end])
                if type_code in row_types:
                    _decode_rows(ev, type_code, body, tmap, images, stringify)
                elif type_code == TABLE_MAP_EVENT:
                    new_map = maps_seen.get(body)
                    if new_map is None:
                        new_map = maps_seen[body] = _table_map_for(body, catalog)
                    ev["db"], ev["tbl"] = new_map.db, new_map.table
                    tmap = new_map
                elif type_code == XID_EVENT:
                    ev["xid"] = unpack_xid(body, 0)[0]
                else:
                    _decode_body(ev, type_code, body, catalog, tmap,
                                 only_tables, only_ops, images,
                                 min_row_offset, row_ts_min, row_ts_max,
                                 stringify)
        except Exception as exc:
            if on_error == "quarantine":
                # Dead-letter the poison event and keep walking: the
                # frame (header + event_len) is intact, so the next
                # header position is still trustworthy.
                if type_code == TABLE_MAP_EVENT:
                    # A corrupt TABLE_MAP must also invalidate the
                    # carried map: otherwise later row events with a
                    # coincidentally-matching column count decode
                    # silently under the stale (db, tbl, types) —
                    # mis-attributed rows are worse than quarantined
                    # ones.  With tmap=None they fail the
                    # "row event without preceding TABLE_MAP" check
                    # and land in the dead letter queue too.
                    tmap = None
                ev.update(
                    op="quarantine",
                    sql=f"{OP_NAMES.get(type_code, type_code)}: {type(exc).__name__}",
                    db=None, tbl=None, before=None, after=None,
                )
                events.append(ev)
                seq += 1
                rel_next = next_pos - base
                if advance_by_length or rel_next <= pos:
                    pos = pos + event_len
                else:
                    pos = rel_next
                continue
            if isinstance(exc, ValueError):
                raise
            # A complete-but-malformed event (flipped bits, bad length
            # fields) must surface as a diagnosable decode error, not a
            # raw IndexError/struct.error from body parsing.  Torn
            # TAILS never reach here — the fits-in-data guard above
            # holds them back for the next turn.
            raise ValueError(
                f"corrupt {OP_NAMES.get(type_code, type_code)} event at "
                f"offset {base + pos}: {exc!r}"
            ) from exc
        seq += 1
        if skip_body:
            pass  # dropped from the output; the frame still took its seq
        elif type_code == TRANSACTION_PAYLOAD_EVENT:
            events.append(ev)
            # Splice a transaction payload's embedded events into the
            # stream; the payload decode already threaded the table
            # map and set absolute offsets.  Each inner event's local
            # seq is its FRAME index within the payload (the nested
            # decode counts skipped frames too), so offsetting by the
            # envelope's successor seq keeps numbering identical to a
            # full decode even when pushdown dropped some frames; the
            # outer counter then advances by the payload's total frame
            # count, not by how many events survived the filter.
            tmap = ev.pop("_new_table_map", tmap)
            for iev in ev.pop("_inner_events"):
                iev["seq"] = seq + iev["seq"]
                events.append(iev)
            seq += ev.pop("_inner_frames")
        else:
            events.append(ev)
        # header's `next` is absolute in the containing log; inside an
        # extracted transaction payload those positions refer to the
        # ORIGINAL log and must be ignored (advance_by_length).
        rel_next = next_pos - base
        if advance_by_length or rel_next <= pos:
            pos = pos + event_len
        else:
            pos = rel_next
    return events, base + pos, tmap, seq


def _decode_body(
    ev: dict,
    type_code: int,
    body: bytes,
    catalog: dict,
    tmap: TableMapState | None,
    only_tables: "set[tuple[str, str]] | None" = None,
    only_ops: "set[str] | None" = None,
    images: str = "both",
    min_row_offset: int = 0,
    row_ts_min: int | None = None,
    row_ts_max: int | None = None,
    stringify: bool = False,
) -> None:
    """Body decode into `ev` for the event types the frame loop does
    not handle itself (rows, TABLE_MAP and XID are decoded there).  A
    transaction payload hands its spliced events and the table map it
    ends on back via ev["_inner_events"] / ev["_inner_frames"] /
    ev["_new_table_map"]; the pushdown and ``stringify`` arguments are
    passed through to the payload's nested decode."""
    if type_code == QUERY_EVENT:
        # post-header: thread_id u32, exec_time u32, db_len u8,
        # error_code u16, status_vars_len u16 (v4).  The reference
        # surfaces all of these for its DBA-facing consumers
        # (read-query, mysql_binlog.clj:368-383).
        ev["thread_id"] = int.from_bytes(body[0:4], "little")
        ev["exec_time"] = int.from_bytes(body[4:8], "little")
        db_len = body[8]
        ev["error_code"] = int.from_bytes(body[9:11], "little")
        sv_len = int.from_bytes(body[11:13], "little")
        p = 13 + sv_len
        ev["db"] = body[p:p + db_len].decode("latin-1")
        ev["sql"] = body[p + db_len + 1:].decode("latin-1")
    elif type_code == ROWS_QUERY_EVENT:
        # binlog_rows_query_log_events=ON: the ORIGINAL statement text
        # for the row events that follow (post-header: 1-byte length,
        # which real servers cap — the text itself may exceed it, so
        # read to end of body as public decoders do).
        ev["sql"] = body[1:].decode("latin-1")
    elif type_code in (GTID_EVENT, ANONYMOUS_GTID_EVENT):
        # MySQL ≥5.6 GTID post-header (public layout): commit-flag u8,
        # sid 16 bytes (server UUID), gno s64 LE.  5.7 appends logical
        # timestamps — trailing bytes, safely ignored.  The reference
        # targets 5.1-era logs and has no GTID handling at all
        # (mysql_binlog.clj:222-259 dispatch table).
        sid = body[1:17]
        gno = int.from_bytes(body[17:25], "little", signed=True)
        ev["gtid"] = f"{_uuid_text(sid)}:{gno}"
        ev["sql"] = ev["gtid"]
    elif type_code == PREVIOUS_GTIDS_EVENT:
        # n_sids u64, then per sid: uuid 16B + n_intervals u64 +
        # [start u64, end u64) pairs — rendered in MySQL's canonical
        # gtid_set text ("uuid:1-5:7", end-exclusive → inclusive).
        n_sids = struct.unpack_from("<Q", body, 0)[0]
        p = 8
        parts = []
        for _ in range(n_sids):
            sid = body[p:p + 16]; p += 16
            n_iv = struct.unpack_from("<Q", body, p)[0]; p += 8
            ivs = []
            for _ in range(n_iv):
                start, end = struct.unpack_from("<QQ", body, p); p += 16
                ivs.append(str(start) if end == start + 1 else f"{start}-{end - 1}")
            parts.append(_uuid_text(sid) + ":" + ":".join(ivs))
        ev["sql"] = ",".join(parts)
    elif type_code == TRANSACTION_PAYLOAD_EVENT:
        # 8.0.20+ binlog_transaction_compression: a whole transaction's
        # events wrapped in one payload event.  Header = TLV fields
        # (type/length/value, all net_store_length varints): 1 = payload
        # size, 2 = compression type (0 ZSTD, 255 NONE), 3 = uncompressed
        # size; field type 0 ends the header, the payload follows to the
        # end of the body.  Embedded events carry NO checksums and their
        # log_pos refers to the original log (ignored via
        # advance_by_length); the decoder splices them into the stream
        # right after this envelope row, threading the table map.
        pos = 0
        comp_type = 255
        unc_size = None
        while pos < len(body):
            ftype, pos = read_packed_int(body, pos)
            if ftype == 0:
                break
            flen, pos = read_packed_int(body, pos)
            val = body[pos:pos + flen]; pos += flen
            if ftype == 2:
                comp_type, _ = read_packed_int(val, 0)
            elif ftype == 3:
                unc_size, _ = read_packed_int(val, 0)
        payload = bytes(body[pos:])
        if comp_type == 0:
            backend = _zstd_backend()
            if backend is None:
                raise ValueError(
                    "ZSTD-compressed transaction payload: no zstd codec "
                    "available (need compression.zstd, zstandard, or pyarrow)"
                )
            if unc_size is None:
                # Field 3 is mandatory for compressed payloads on real
                # servers; without it pyarrow's codec can't size the
                # output buffer, so treat the event as malformed.
                raise ValueError(
                    "ZSTD transaction payload missing uncompressed-size TLV"
                )
            payload = backend[1](payload, unc_size)
            if len(payload) != unc_size:
                raise ValueError(
                    "ZSTD transaction payload decompressed to "
                    f"{len(payload)} bytes, TLV declared {unc_size}"
                )
        elif comp_type != 255:
            raise ValueError(f"unknown payload compression type {comp_type}")
        inner_base = ev["offset"] + HEADER_LEN + pos
        inner, _, inner_tmap, _ = decode_binlog_incremental(
            payload, inner_base, tmap, catalog,
            base=inner_base, on_error="raise", checksum=None,
            advance_by_length=True, only_tables=only_tables,
            only_ops=only_ops, images=images,
            min_row_offset=min_row_offset,
            row_ts_min=row_ts_min, row_ts_max=row_ts_max,
            stringify=stringify,
        )
        # Total frames inside the payload (cheap header walk): the
        # envelope's sql text and the caller's seq accounting must
        # reflect the payload's true size even when pushdown dropped
        # row events — full decode emits one event per frame, so with
        # only_tables=None this equals len(inner).
        n_frames, q = 0, 0
        while q + HEADER_LEN <= len(payload):
            flen = int.from_bytes(payload[q + 9:q + 13], "little")
            if flen < HEADER_LEN or q + flen > len(payload):
                break
            n_frames += 1
            q += flen
        ev["sql"] = f"payload: {n_frames} events, " + (
            "uncompressed" if comp_type == 255 else "zstd"
        )
        ev["_inner_events"] = inner
        ev["_inner_frames"] = n_frames
        if inner_tmap is not tmap:
            ev["_new_table_map"] = inner_tmap
    elif type_code == INTVAR_EVENT:
        # SBR-era session variable for the NEXT statement: subtype u8
        # (1 = LAST_INSERT_ID, 2 = INSERT_ID), value u64
        sub = body[0]
        val = struct.unpack_from("<Q", body, 1)[0]
        ev["sql"] = f"{'LAST_INSERT_ID' if sub == 1 else 'INSERT_ID'}={val}"
    elif type_code in (STOP_EVENT, HEARTBEAT_EVENT):
        pass  # header-only events; op name alone carries the meaning
    elif type_code == ROTATE_EVENT:
        ev["op"] = "rotate"
        ev["sql"] = body[8:].decode("latin-1")  # next log name
    elif type_code == FORMAT_DESCRIPTION_EVENT:
        # D2 (reference read-v4-format-description :343-353):
        # binlog_version u16, server_version char[50], create_ts
        # u32, header_length u8
        ev["op"] = "format_description"
        ev["binlog_version"] = int.from_bytes(body[0:2], "little")
        ev["server_version"] = body[2:52].split(b"\x00", 1)[0].decode("latin-1")
        ev["header_length"] = body[56] if len(body) > 56 else HEADER_LEN
    else:
        ev["op"] = f"unknown_{type_code}"  # bare header pass-through
