"""binlog query registrations (split from queries.py; registration order is governed by _registry.REGISTRATION_ORDER)."""
from __future__ import annotations

from pyspark.sql import functions as F
from mysql_cdc_spark.queries._registry import register  # noqa: E402
from mysql_cdc_spark.queries._shared import (  # noqa: E402
    _FIXTURE_VERSION,
    _STREAM_TMP,
    _drain,
)



# ---------------------------------------------------------------------------
# Binlog byte codec end-to-end (sources/binlog_codec.py + binlog_source
# .py): events → REAL binlog bytes (driver-side encode) → binaryFile +
# mapInArrow decode on executors → envelope, hash-checked against the
# same derivation done in SQL.  This exercises D1-D12 (headers,
# table-map, row bitfields/null maps, packed decimal, packed ints).
# ---------------------------------------------------------------------------

_BINLOG_ORACLE = """
WITH ev AS (
  SELECT event_id,
         CASE WHEN user_id % 2 = 0 THEN 'foo' ELSE 'bench' END AS db,
         CASE WHEN user_id % 2 = 0 THEN 'auto' ELSE 'big' END AS tbl,
         CAST(event_id % 97 AS BIGINT) AS row_id,
         CASE WHEN event_type IN ('signup','purchase') THEN 'write_rows'
              WHEN event_type IN ('click','view') THEN 'update_rows'
              ELSE 'delete_rows' END AS row_op,
         printf('%d.%04d', event_id % 100000, event_id % 10000) AS val,
         printf('%d.%04d', (event_id+1) % 100000, (event_id+3) % 10000) AS val_before,
         CASE WHEN event_id % 10 = 0 THEN NULL ELSE event_type END AS word,
         CASE WHEN event_id % 50 = 0
                THEN CASE WHEN (event_id // 50) % 2 = 0
                       THEN 'ALTER TABLE ' || db || '.' || tbl || ' ADD COLUMN c'
                            || CAST((event_id // 50) % 3 AS VARCHAR) || ' INT'
                       ELSE 'ALTER TABLE ' || db || '.' || tbl || ' DROP COLUMN c'
                            || CAST((event_id // 50) % 3 AS VARCHAR) END
              WHEN event_type IN ('signup','purchase')
                THEN 'INSERT INTO ' || db || '.' || tbl || ' (id, value) VALUES (?, ?)'
              WHEN event_type IN ('click','view')
                THEN 'UPDATE ' || db || '.' || tbl || ' SET value = ? WHERE id = ?'
              ELSE 'DELETE FROM ' || db || '.' || tbl || ' WHERE id = ?' END AS sql_text
  FROM events
)
SELECT * FROM (
  SELECT CAST(event_id*4 AS BIGINT) AS seq, 'query' AS op, db,
         CAST(NULL AS VARCHAR) AS tbl, CAST(NULL AS BIGINT) AS xid, sql_text AS "sql",
         CAST(NULL AS BIGINT) AS before_id, CAST(NULL AS VARCHAR) AS before_val,
         CAST(NULL AS VARCHAR) AS before_word,
         CAST(NULL AS BIGINT) AS after_id, CAST(NULL AS VARCHAR) AS after_val,
         CAST(NULL AS VARCHAR) AS after_word,
         CAST(event_id % 100000 AS BIGINT) AS thread_id,
         CAST(event_id % 3600 AS BIGINT) AS exec_time,
         CAST(CASE WHEN event_id % 1000 = 0 THEN 1062 ELSE 0 END AS BIGINT) AS error_code
  FROM ev
  UNION ALL
  SELECT CAST(event_id*4+1 AS BIGINT), 'table_map', db, tbl, NULL, NULL,
         NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
  FROM ev
  UNION ALL
  SELECT CAST(event_id*4+2 AS BIGINT), row_op, db, tbl, NULL, NULL,
         CASE WHEN row_op = 'write_rows' THEN NULL ELSE row_id END,
         CASE WHEN row_op = 'write_rows' THEN NULL
              WHEN row_op = 'update_rows' THEN val_before ELSE val END,
         CASE WHEN row_op = 'write_rows' THEN NULL ELSE word END,
         CASE WHEN row_op = 'delete_rows' THEN NULL ELSE row_id END,
         CASE WHEN row_op = 'delete_rows' THEN NULL ELSE val END,
         CASE WHEN row_op = 'delete_rows' THEN NULL ELSE word END,
         NULL, NULL, NULL
  FROM ev
  UNION ALL
  SELECT CAST(event_id*4+3 AS BIGINT), 'xid', CAST(NULL AS VARCHAR), NULL,
         CAST(event_id AS BIGINT), NULL, NULL, NULL, NULL, NULL, NULL, NULL,
         NULL, NULL, NULL
  FROM ev
)
""".strip()


def _binlog_envelope_projected(
    spark, sf_dir, prefix: str, checksum: str | None = None, gtid: bool = False,
    rows_v2: bool = False, payload_zstd: bool = False, row_image: str = "full",
):
    """Shared body of cdc_binlog_envelope / cdc_binlog_crc32 /
    cdc_binlog_gtid / cdc_binlog_rows_v2: generate the byte fixture
    (legacy, CRC32-, GTID- or rows-v2-framed), decode, project the
    envelope with a global seq across rotated files (events-per-
    transaction varies: 4 legacy, 5 with GTID)."""
    import pathlib

    from mysql_cdc_spark.sources import binlog_source as bs

    per_txn = 5 if gtid else 4
    out_dir = pathlib.Path(_STREAM_TMP) / f"{prefix}_{pathlib.Path(sf_dir).name}_v{_FIXTURE_VERSION}"
    if not any(out_dir.glob("binlog.*")):
        bs.generate_binlog_from_events(
            sf_dir, str(out_dir), checksum=checksum, gtid=gtid, rows_v2=rows_v2,
            payload_zstd=payload_zstd, row_image=row_image,
        )
    env = bs.read_binlog_envelope(spark, str(out_dir))
    # Global event number across rotated files: each log file holds
    # ROTATE_EVERY source events × per_txn envelope events, so
    # seq_global = file_index * (per_txn * ROTATE_EVERY) + seq_in_file.
    # Keeps the oracle's per_txn*event_id+k numbering valid at any
    # scale factor while the sf0.01 gate spans several files (parallel
    # decode + rotation exercised in the oracle path itself).
    env = env.withColumn(
        "seq",
        F.regexp_extract("log_file", r"binlog\.(\d+)", 1).cast("bigint")
        * (per_txn * bs.ROTATE_EVERY)
        + F.col("seq"),
    )
    return env.select(
        "seq",
        "op",
        "db",
        "tbl",
        "xid",
        "sql",
        F.element_at("before", "id").cast("bigint").alias("before_id"),
        F.element_at("before", "val").alias("before_val"),
        F.element_at("before", "word").alias("before_word"),
        F.element_at("after", "id").cast("bigint").alias("after_id"),
        F.element_at("after", "val").alias("after_val"),
        F.element_at("after", "word").alias("after_word"),
        "thread_id",
        "exec_time",
        "error_code",
    )


# binlog_row_image=MINIMAL oracle: inserts keep the full image; update
# before-images carry only the PK, after-images only the changed
# column; delete images only the PK.  Derived from _BINLOG_ORACLE by
# rewriting the rows-event branch.
_BINLOG_MINIMAL_ORACLE = _BINLOG_ORACLE.replace(
    """  SELECT CAST(event_id*4+2 AS BIGINT), row_op, db, tbl, NULL, NULL,
         CASE WHEN row_op = 'write_rows' THEN NULL ELSE row_id END,
         CASE WHEN row_op = 'write_rows' THEN NULL
              WHEN row_op = 'update_rows' THEN val_before ELSE val END,
         CASE WHEN row_op = 'write_rows' THEN NULL ELSE word END,
         CASE WHEN row_op = 'delete_rows' THEN NULL ELSE row_id END,
         CASE WHEN row_op = 'delete_rows' THEN NULL ELSE val END,
         CASE WHEN row_op = 'delete_rows' THEN NULL ELSE word END,
         NULL, NULL, NULL
  FROM ev""",
    """  SELECT CAST(event_id*4+2 AS BIGINT), row_op, db, tbl, NULL, NULL,
         CASE WHEN row_op = 'write_rows' THEN NULL ELSE row_id END,
         CAST(NULL AS VARCHAR),
         CAST(NULL AS VARCHAR),
         CASE WHEN row_op = 'write_rows' THEN row_id END,
         CASE WHEN row_op = 'delete_rows' THEN NULL ELSE val END,
         CASE WHEN row_op = 'write_rows' THEN word END,
         NULL, NULL, NULL
  FROM ev""",
)
assert _BINLOG_MINIMAL_ORACLE != _BINLOG_ORACLE


@register("cdc_binlog_minimal", _BINLOG_MINIMAL_ORACLE)
def cdc_binlog_minimal(spark, sf_dir):
    """binlog_row_image=MINIMAL fidelity path: update before-images
    carry only the primary key, after-images only the changed column,
    deletes only the PK — the decoder must surface absent columns as
    NOT-IN-IMAGE (missing from the map → NULL projection), distinct
    from SQL NULL, via the per-event used-column bitmaps.  Same
    envelope projection as cdc_binlog_envelope over the minimal-image
    fixture."""
    return _binlog_envelope_projected(spark, sf_dir, "binlog_min", row_image="minimal")


@register(
    "cdc_binlog_rows_query",
    "WITH ev AS (SELECT event_id, event_type, "
    "  CASE WHEN user_id % 2 = 0 THEN 'foo' ELSE 'bench' END AS db, "
    "  CASE WHEN user_id % 2 = 0 THEN 'auto' ELSE 'big' END AS tbl FROM events), "
    "s AS (SELECT CASE "
    "  WHEN event_type IN ('signup','purchase') "
    "    THEN 'INSERT INTO ' || db || '.' || tbl || ' (id, value) VALUES (?, ?)' "
    "  WHEN event_type IN ('click','view') "
    "    THEN 'UPDATE ' || db || '.' || tbl || ' SET value = ? WHERE id = ?' "
    "  ELSE 'DELETE FROM ' || db || '.' || tbl || ' WHERE id = ?' END AS stmt FROM ev) "
    "SELECT stmt, CAST(COUNT(*) AS BIGINT) AS n_rows FROM s GROUP BY stmt",
)
def cdc_binlog_rows_query(spark, sf_dir):
    """Statement attribution via ROWS_QUERY events
    (binlog_rows_query_log_events=ON): the fixture interleaves the
    original DML text between each statement's QUERY and TABLE_MAP —
    even when the QUERY slot carries DDL — and the query carries each
    decoded row image back to its originating statement with a
    per-log-file last-non-null window (the file is the decode unit, so
    the window never crosses the rotation boundary), then counts rows
    per statement.  The reference decodes no ROWS_QUERY at all
    (mysql_binlog.clj:222-259 dispatch)."""
    import pathlib

    from pyspark.sql import Window

    from mysql_cdc_spark.sources import binlog_source as bs

    out_dir = (
        pathlib.Path(_STREAM_TMP)
        / f"binlog_rq_{pathlib.Path(sf_dir).name}_v{_FIXTURE_VERSION}"
    )
    if not any(out_dir.glob("binlog.*")):
        bs.generate_binlog_from_events(sf_dir, str(out_dir), rows_query=True)
    env = bs.read_binlog_envelope(spark, str(out_dir))
    w = Window.partitionBy("log_file").orderBy("seq")
    attributed = env.withColumn(
        "stmt",
        F.last(
            F.when(F.col("op") == "rows_query", F.col("sql")), ignorenulls=True
        ).over(w),
    )
    return (
        attributed.filter(
            F.col("op").isin("write_rows", "update_rows", "delete_rows")
        )
        .groupBy("stmt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )


@register("cdc_binlog_envelope", _BINLOG_ORACLE)
def cdc_binlog_envelope(spark, sf_dir):
    """Full binlog fidelity path: encode the derived change stream as
    real v4 binlog BYTES, decode with the pure-Python codec via
    binaryFile + mapInArrow, and project the envelope.  The oracle
    re-derives the same records relationally — so every header, packed
    int, bitfield, null map and packed decimal must round-trip."""
    return _binlog_envelope_projected(spark, sf_dir, "binlog")


# GTID-framed variant of the envelope oracle: 5 events per txn
# (gtid, query, table_map, rows, xid) — derived from _BINLOG_ORACLE by
# renumbering the seq arithmetic and adding the closed-form gtid block
# (gno = event_id + 1 on a fixed server UUID).
_BINLOG_GTID_ORACLE = (
    _BINLOG_ORACLE
    .replace("event_id*4+3", "event_id*5+4")
    .replace("event_id*4+2", "event_id*5+3")
    .replace("event_id*4+1", "event_id*5+2")
    .replace("event_id*4 AS BIGINT", "event_id*5+1 AS BIGINT")
    .rstrip()
    .removesuffix(")")
    + """  UNION ALL
  SELECT CAST(event_id*5 AS BIGINT), 'gtid', CAST(NULL AS VARCHAR), NULL,
         NULL, '3e11fa47-71ca-11e1-9e33-c80aa9429562:' || CAST(event_id + 1 AS VARCHAR),
         NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
  FROM ev
)"""
)


@register("cdc_binlog_gtid", _BINLOG_GTID_ORACLE)
def cdc_binlog_gtid(spark, sf_dir):
    """GTID-framed byte path (MySQL ≥5.6 gtid_mode=ON): every
    transaction is preceded by a GTID event carrying uuid:gno; the
    decoder surfaces it as op='gtid' rows in the envelope, and the
    oracle recomputes every gtid in closed form (gno = event_id + 1).
    The reference has no GTID handling at all (mysql_binlog.clj
    :222-259)."""
    return _binlog_envelope_projected(spark, sf_dir, "binlog_gtid", gtid=True)


@register("cdc_binlog_crc32", _BINLOG_ORACLE)
def cdc_binlog_crc32(spark, sf_dir):
    """CRC32-checksummed byte path (MySQL ≥5.6.6 binlog_checksum
    framing — beyond BOTH the reference's 5.1 era, mysql_binlog.clj
    :222-259, and the legacy fixture): every event carries a 4-byte
    CRC32 trailer, the FDE declares the algorithm, and the decoder
    must detect, verify and strip it — producing an envelope
    IDENTICAL to the legacy path, so the unchanged relational oracle
    is the equivalence proof."""
    return _binlog_envelope_projected(spark, sf_dir, "binlog_crc32", checksum="crc32")


@register("cdc_binlog_rows_v2", _BINLOG_ORACLE)
def cdc_binlog_rows_v2(spark, sf_dir):
    """MySQL >=5.6/8.0 rows-event framing (type codes 30/31/32 with the
    2-byte extra-row-info post-header) — what every modern server
    actually writes.  The decoder must recognize the v2 codes and skip
    the extra-row-info payload; the envelope is IDENTICAL to the legacy
    v1 path, so the unchanged relational oracle is the equivalence
    proof (same pattern as cdc_binlog_crc32).  Independent real-format
    coverage in tests/test_real_binlog.py."""
    return _binlog_envelope_projected(spark, sf_dir, "binlog_v2", rows_v2=True)


@register(
    "cdc_binlog_partial_json",
    """
WITH ev AS (
  SELECT event_id, ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS k FROM events
)
SELECT CAST(3*k+1 AS BIGINT) AS seq,
       CAST(event_id % 97 AS BIGINT) AS id,
       printf('{"a": %d, "b": "w%d"}', event_id % 50, event_id % 10) AS before_doc,
       CASE WHEN event_id % 2 = 0
            THEN printf('{"a": %d, "c": %d}', event_id % 7, event_id % 3)
            ELSE printf('{"a": %d, "b": "u%d", "c": %d}',
                        event_id % 7, event_id % 5, event_id % 3)
       END AS after_doc,
       printf('n%d', event_id % 4) AS note
FROM ev
""".strip(),
)
def cdc_binlog_partial_json(spark, sf_dir):
    """PARTIAL_UPDATE_ROWS_EVENT (8.0 binlog_row_value_options=
    PARTIAL_JSON, WL#2955): after-image JSON columns arrive as diff
    vectors (replace/insert/remove + JSON path + binary-JSON value);
    the decoder applies them to the before document so the envelope
    surfaces the full after value.  The oracle recomputes both images
    in closed form — proving diff parse, path navigation, and apply
    semantics end-to-end.  Entirely beyond the reference's event set
    (mysql_binlog.clj:222-259)."""
    import pathlib

    from mysql_cdc_spark.sources import binlog_source as bs

    out_dir = pathlib.Path(_STREAM_TMP) / f"binlog_pjson_{pathlib.Path(sf_dir).name}_v{_FIXTURE_VERSION}"
    if not any(out_dir.glob("binlog.*")):
        bs.generate_partial_json_binlog(sf_dir, str(out_dir))
    env = bs.read_binlog_envelope(spark, str(out_dir))
    seq_global = (
        F.regexp_extract("log_file", r"binlog\.(\d+)", 1).cast("bigint")
        * (3 * bs.ROTATE_EVERY)
        + F.col("seq")
    )
    return env.filter(F.col("op") == "update_rows").select(
        seq_global.alias("seq"),
        F.element_at("after", "id").cast("bigint").alias("id"),
        F.element_at("before", "doc").alias("before_doc"),
        F.element_at("after", "doc").alias("after_doc"),
        F.element_at("after", "note").alias("note"),
    )


@register("cdc_binlog_zstd", _BINLOG_ORACLE)
def cdc_binlog_zstd(spark, sf_dir):
    """ZSTD transaction compression (MySQL 8.0.20+
    binlog_transaction_compression=ON): every transaction's events are
    wrapped in one ZSTD-compressed TRANSACTION_PAYLOAD event.  The
    decoder must parse the varint TLV header, zstd-decompress the
    payload (via the pyarrow-bundled codec when no zstandard package
    exists), and splice the embedded events — which carry no checksums
    and foreign log_pos — into the stream with table-map threading.
    The envelope is IDENTICAL to the uncompressed path, so the
    unchanged relational oracle is the equivalence proof (the pattern
    of cdc_binlog_crc32 / cdc_binlog_rows_v2).  Entirely beyond the
    reference's 5.1-era event set (mysql_binlog.clj:222-259)."""
    return _binlog_envelope_projected(
        spark, sf_dir, "binlog_zstd", payload_zstd=True
    )


@register(
    "cdc_binlog_typed_state",
    """
WITH ev AS (
  SELECT event_id,
         CAST(event_id % 97 AS BIGINT) AS id,
         CAST(event_id*4+2 AS BIGINT) AS seq,
         CASE WHEN event_type IN ('signup','purchase') THEN 'write_rows'
              WHEN event_type IN ('click','view') THEN 'update_rows'
              ELSE 'delete_rows' END AS row_op,
         printf('%d.%04d', event_id % 100000, event_id % 10000) AS v,
         CASE WHEN event_id % 10 = 0 THEN NULL ELSE event_type END AS w
  FROM events WHERE user_id % 2 = 0
)
SELECT id, val, word, as_of_seq FROM (
  SELECT id,
         CASE WHEN row_op = 'delete_rows' THEN NULL ELSE v END AS val,
         CASE WHEN row_op = 'delete_rows' THEN NULL ELSE w END AS word,
         seq AS as_of_seq, row_op,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY seq DESC) AS rn
  FROM ev
) WHERE rn = 1 AND row_op <> 'delete_rows'
""".strip(),
)
def cdc_binlog_typed_state(spark, sf_dir):
    """Typed per-table view over the binlog-decoded MAP envelope
    (dynamic→typed bridge), replayed into current state of foo.auto:
    one max_by aggregation per key over the real byte-decoded stream."""
    import pathlib

    from mysql_cdc_spark.sources import binlog_source as bs

    out_dir = pathlib.Path(_STREAM_TMP) / f"binlog_{pathlib.Path(sf_dir).name}_v{_FIXTURE_VERSION}"
    if not any(out_dir.glob("binlog.*")):
        bs.generate_binlog_from_events(sf_dir, str(out_dir))
    env = bs.read_binlog_envelope(spark, str(out_dir))
    # Same global event numbering as cdc_binlog_envelope: replay order
    # across rotated files must follow (file, seq_in_file).
    env = env.withColumn(
        "seq",
        F.regexp_extract("log_file", r"binlog\.(\d+)", 1).cast("bigint")
        * (4 * bs.ROTATE_EVERY)
        + F.col("seq"),
    )
    typed = bs.typed_changes(
        env, "foo", "auto", {"id": "bigint", "val": "string", "word": "string"}
    )
    keyed = typed.select(
        F.coalesce("after_id", "before_id").alias("id"),
        "seq",
        "op",
        F.col("after_val").alias("val"),
        F.col("after_word").alias("word"),
    )
    return (
        keyed.groupBy("id")
        .agg(
            F.expr("max_by(struct(val, word, op), seq)").alias("last"),
            F.max("seq").alias("as_of_seq"),
        )
        .filter(F.col("last.op") != "delete_rows")
        .select("id", F.col("last.val").alias("val"), F.col("last.word").alias("word"), "as_of_seq")
    )


@register(
    "cdc_binlog_pushdown",
    """
WITH ev AS (
  SELECT event_id,
         CAST(event_id % 97 AS BIGINT) AS id,
         CASE WHEN event_type IN ('signup','purchase') THEN 'write_rows'
              WHEN event_type IN ('click','view') THEN 'update_rows'
              ELSE 'delete_rows' END AS row_op,
         printf('%d.%04d', event_id % 100000, event_id % 10000) AS v,
         CASE WHEN event_id % 10 = 0 THEN NULL ELSE event_type END AS w
  FROM events WHERE user_id % 2 = 0
)
SELECT id, val, word FROM (
  SELECT id,
         CASE WHEN row_op = 'delete_rows' THEN NULL ELSE v END AS val,
         CASE WHEN row_op = 'delete_rows' THEN NULL ELSE w END AS word,
         row_op,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY event_id DESC) AS rn
  FROM ev
) WHERE rn = 1 AND row_op <> 'delete_rows'
""".strip(),
)
def cdc_binlog_pushdown(spark, sf_dir):
    """Filter-before-decode pushdown end-to-end (r14 VERDICT #1): the
    (db, tbl) predicate pushed INTO the byte codec via
    `typed_changes_scan` — foreign tables' row events (half the
    multi-table log) skip image parsing entirely; headers and
    TABLE_MAPs still decode so map state threads across skipped
    frames.  Replays foo.auto to latest state ordered by the stable
    (file, offset) identity — envelope seq is delivery-order under
    pushdown, so the byte offset is the replay key (reference anchor:
    mysql_binlog.clj:592-604 decodes every used column; SURVEY §4
    names the skip as the custom gain)."""
    import pathlib

    from mysql_cdc_spark.sources import binlog_source as bs

    out_dir = pathlib.Path(_STREAM_TMP) / f"binlog_{pathlib.Path(sf_dir).name}_v{_FIXTURE_VERSION}"
    if not any(out_dir.glob("binlog.*")):
        bs.generate_binlog_from_events(sf_dir, str(out_dir))
    typed = bs.typed_changes_scan(
        spark, str(out_dir), "foo", "auto",
        {"id": "bigint", "val": "string", "word": "string"},
    )
    keyed = typed.selectExpr(
        "coalesce(after_id, before_id) AS id",
        "struct(CAST(regexp_extract(log_file, 'binlog\\\\.(\\\\d+)', 1) AS BIGINT)"
        " AS file_idx, offset) AS ord",
        "op",
        "after_val AS val",
        "after_word AS word",
    )
    return (
        keyed.groupBy("id")
        .agg(F.expr("max_by(struct(val, word, op), ord)").alias("last"))
        .filter(F.col("last.op") != "delete_rows")
        .select(
            "id",
            F.col("last.val").alias("val"),
            F.col("last.word").alias("word"),
        )
    )


@register(
    "cdc_binlog_only_ops",
    """
WITH ins AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'foo' ELSE 'bench' END AS db,
         CASE WHEN user_id % 2 = 0 THEN 'auto' ELSE 'big' END AS tbl,
         CAST(event_id % 97 AS BIGINT) AS id,
         printf('%d.%04d', event_id % 100000, event_id % 10000) AS val,
         CASE WHEN event_id % 10 = 0 THEN NULL ELSE event_type END AS word
  FROM events WHERE event_type IN ('signup', 'purchase')
)
SELECT db, tbl, id,
       CAST(COUNT(*) AS BIGINT) AS n_inserts,
       MAX(val) AS max_val,
       CAST(SUM(CASE WHEN word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_words
FROM ins GROUP BY db, tbl, id
""".strip(),
)
def cdc_binlog_only_ops(spark, sf_dir):
    """Delta-type pushdown end-to-end (r15 VERDICT #7): an INSERT-ONLY
    consumer passes ``only_ops={'write_rows'}`` and the codec never
    parses update/delete row images — the frame length makes the skip
    free, symmetric to the (db, tbl) pushdown (same seq-slot + CRC
    contract; parity pinned in tests/test_binlog_only_ops.py).
    Aggregates the insert stream per (db, tbl, id) over BOTH fixture
    tables.  Reference anchor: jdbc.clj:180-182 filters delta-type
    AFTER decode; SURVEY §4 names filter-before-decode as the custom
    gain this completes."""
    import pathlib

    from mysql_cdc_spark.sources import binlog_source as bs

    out_dir = pathlib.Path(_STREAM_TMP) / f"binlog_{pathlib.Path(sf_dir).name}_v{_FIXTURE_VERSION}"
    if not any(out_dir.glob("binlog.*")):
        bs.generate_binlog_from_events(sf_dir, str(out_dir))
    env = bs.read_binlog_envelope(
        spark, str(out_dir), only_ops={"write_rows"}
    )
    ins = env.filter(F.col("op") == "write_rows").selectExpr(
        "db", "tbl",
        "CAST(after['id'] AS BIGINT) AS id",
        "after['val'] AS val",
        "after['word'] AS word",
    )
    return ins.groupBy("db", "tbl", "id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_inserts"),
        F.max("val").alias("max_val"),
        F.sum(F.when(F.col("word").isNull(), 1).otherwise(0))
        .cast("bigint").alias("null_words"),
    )


@register(
    "cdc_binlog_schema_evo",
    """
WITH ev AS (
  SELECT event_id,
         CAST(event_id % 97 AS BIGINT) AS id,
         printf('%d.%04d', event_id % 100000, event_id % 10000) AS val,
         ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS k,
         COUNT(*) OVER () AS n
  FROM events
), typed AS (
  SELECT event_id, id, val,
         CASE WHEN k >= n // 2 AND event_id % 10 <> 0
              THEN CAST(event_id % 1000 AS BIGINT) END AS score,
         CASE WHEN k >= n // 2 THEN 1 ELSE 0 END AS phase
  FROM ev
)
SELECT id, val, score, n_rows FROM (
  SELECT id, val, score,
         CAST(COUNT(*) OVER (PARTITION BY id) AS BIGINT) AS n_rows,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY event_id DESC) AS rn
  FROM typed
) WHERE rn = 1
""".strip(),
)
def cdc_binlog_schema_evo(spark, sf_dir):
    """Schema evolution through the BYTE path end-to-end (r14 VERDICT
    #6): the log's first half writes lab.acct as (id, val); a mid-log
    ALTER TABLE adds score, and every later transaction carries a
    WIDER table map (bumped table_id) — envelope, typed view and
    latest-state replay must stay correct across the boundary.  The
    typed view reads `score` from rows on BOTH sides: absent key
    (narrow map, column did not exist) and SQL NULL both surface as
    NULL; n_rows counts every row event per key across the whole log
    (envelope completeness), and the replay's winner may come from
    either phase.  The decode is CATALOG-FREE: both table maps carry
    binlog_row_metadata=FULL COLUMN_NAME TLVs (lab.acct is absent
    from FIXTURE_CATALOG by design), so names rebind with the schema
    straight off the wire.  Reference anchor: mysql_binlog.clj:975-976 — the
    planned-but-never-built DDL story.  Golden byte vector: FILE F in
    tests/test_golden_vectors.py."""
    import pathlib

    from mysql_cdc_spark.sources import binlog_source as bs

    out_dir = pathlib.Path(_STREAM_TMP) / f"binlog_sevo_{pathlib.Path(sf_dir).name}_v{_FIXTURE_VERSION}"
    if not any(out_dir.glob("binlog.*")):
        bs.generate_schema_evo_binlog(sf_dir, str(out_dir))
    typed = bs.typed_changes_scan(
        spark, str(out_dir), "lab", "acct",
        {"id": "bigint", "val": "string", "score": "bigint"},
    )
    keyed = typed.selectExpr(
        "after_id AS id",
        "struct(CAST(regexp_extract(log_file, 'binlog\\\\.(\\\\d+)', 1) AS BIGINT)"
        " AS file_idx, offset) AS ord",
        "after_val AS val",
        "after_score AS score",
    )
    return (
        keyed.groupBy("id")
        .agg(
            F.expr("max_by(struct(val, score), ord)").alias("last"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
        .select(
            "id",
            F.col("last.val").alias("val"),
            F.col("last.score").alias("score"),
            "n_rows",
        )
    )


@register(
    "cdc_binlog_schema_evo_drop",
    """
WITH ev AS (
  SELECT event_id,
         CAST(event_id % 97 AS BIGINT) AS id,
         printf('%d.%04d', event_id % 100000, event_id % 10000) AS val,
         ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS k,
         COUNT(*) OVER () AS n
  FROM events
), typed AS (
  SELECT event_id, id,
         CASE WHEN k < n // 3 THEN val END AS val,
         CASE WHEN event_id % 10 = 0 THEN NULL
              WHEN k >= (2 * n) // 3
                THEN CAST(4000000000 + event_id % 1000 AS BIGINT)
              ELSE CAST(event_id % 1000 AS BIGINT) END AS score
  FROM ev
)
SELECT id, score, max_val, n_rows, n_wide FROM (
  SELECT id, score, event_id,
         MAX(val) OVER (PARTITION BY id) AS max_val,
         CAST(COUNT(*) OVER (PARTITION BY id) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN score > 4294967296 THEN 1 ELSE 0 END)
              OVER (PARTITION BY id) AS BIGINT) AS n_wide,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY event_id DESC) AS rn
  FROM typed
) WHERE rn = 1
""".strip(),
)
def cdc_binlog_schema_evo_drop(spark, sf_dir):
    """Schema evolution BREADTH through the byte path (r15 VERDICT #5;
    the ADD-only gate is cdc_binlog_schema_evo): lab.acct narrows
    mid-log (ALTER DROP COLUMN val → a 2-column map AFTER a 3-column
    one) and then WIDENS a type (ALTER MODIFY score BIGINT: LONG →
    LONGLONG, same width, 8-byte values above 2^32) — envelope, typed
    view, and latest-state replay must rebind across BOTH transitions.
    `max_val` pins phase-0 val decode (post-DROP rows have no val key
    → NULL → ignored by MAX); `n_wide` counts the post-MODIFY 8-byte
    scores per key (impossible under a stale 4-byte codec); the
    replay winner is phase-2.  Catalog-free: COLUMN_NAME TLVs on all
    three maps.  Golden byte vector: FILE H in
    tests/test_golden_vectors.py.  Reference anchor:
    mysql_binlog.clj:975-976 (the planned DDL story)."""
    import pathlib

    from mysql_cdc_spark.sources import binlog_source as bs

    out_dir = pathlib.Path(_STREAM_TMP) / f"binlog_sevod_{pathlib.Path(sf_dir).name}_v{_FIXTURE_VERSION}"
    if not any(out_dir.glob("binlog.*")):
        bs.generate_schema_evo_drop_binlog(sf_dir, str(out_dir))
    typed = bs.typed_changes_scan(
        spark, str(out_dir), "lab", "acct",
        {"id": "bigint", "val": "string", "score": "bigint"},
    )
    keyed = typed.selectExpr(
        "after_id AS id",
        "struct(CAST(regexp_extract(log_file, 'binlog\\\\.(\\\\d+)', 1) AS BIGINT)"
        " AS file_idx, offset) AS ord",
        "after_val AS val",
        "after_score AS score",
    )
    return (
        keyed.groupBy("id")
        .agg(
            F.expr("max_by(score, ord)").alias("score"),
            F.max("val").alias("max_val"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.when(F.col("score") > 4294967296, 1).otherwise(0))
            .cast("bigint").alias("n_wide"),
        )
        .select("id", "score", "max_val", "n_rows", "n_wide")
    )


@register(
    "cdc_binlog_since",
    """
WITH ev AS (
  SELECT event_id,
         CASE WHEN user_id % 2 = 0 THEN 'foo' ELSE 'bench' END AS db,
         CASE WHEN user_id % 2 = 0 THEN 'auto' ELSE 'big' END AS tbl,
         CASE WHEN event_type IN ('signup','purchase') THEN 'write_rows'
              WHEN event_type IN ('click','view') THEN 'update_rows'
              ELSE 'delete_rows' END AS row_op,
         ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS k,
         COUNT(*) OVER () AS n
  FROM events
), since AS (
  SELECT * FROM ev WHERE k >= ((n + 2499) // 2500 // 2) * 2500
)
SELECT op, db, tbl, n_events, n_ids FROM (
  SELECT 'query' AS op, db, CAST(NULL AS VARCHAR) AS tbl,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(0 AS BIGINT) AS n_ids
  FROM since GROUP BY db
  UNION ALL
  SELECT 'table_map', db, tbl, CAST(COUNT(*) AS BIGINT), CAST(0 AS BIGINT)
  FROM since GROUP BY db, tbl
  UNION ALL
  SELECT row_op, db, tbl, CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(DISTINCT event_id % 97) AS BIGINT)
  FROM since GROUP BY row_op, db, tbl
  UNION ALL
  SELECT 'xid', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
         CAST(COUNT(*) AS BIGINT), CAST(0 AS BIGINT)
  FROM since
)
""".strip(),
)
def cdc_binlog_since(spark, sf_dir):
    """Bounded replay from a journaled position (r15, the binlog
    analog of PARTITION PRUNING): `read_binlog_envelope(since=
    (log_file, offset))` prunes earlier rotated files DRIVER-SIDE —
    they never enter the Spark scan — and cuts the boundary file at
    the offset.  A 100 TB resume must not relist or redecode history.
    The gate resumes at the midpoint FILE of the rotation chain
    (binlog.%06d of file ⌈n/2500⌉//2, offset 4) and aggregates the
    remaining stream per (op, db, tbl); the oracle replays the same
    suffix from events by row number.  Mid-file offsets are pinned by
    parity tests (byte offsets are not SQL-expressible)."""
    import math
    import pathlib

    from mysql_cdc_spark.sources import binlog_source as bs
    from mysql_cdc_spark.sources.io import read_table

    out_dir = pathlib.Path(_STREAM_TMP) / f"binlog_{pathlib.Path(sf_dir).name}_v{_FIXTURE_VERSION}"
    if not any(out_dir.glob("binlog.*")):
        bs.generate_binlog_from_events(sf_dir, str(out_dir))
    n = read_table(spark, sf_dir, "events").count()
    mid_file = math.ceil(n / bs.ROTATE_EVERY) // 2
    env = bs.read_binlog_envelope(
        spark, str(out_dir), since=(f"binlog.{mid_file:06d}", 4)
    )
    id_expr = (
        "CAST(coalesce(element_at(after, 'id'), element_at(before, 'id')) AS BIGINT)"
    )
    return env.selectExpr(
        "op",
        # the oracle's derivation carries db/tbl only where the
        # envelope does (query: db only; xid: neither)
        "CASE WHEN op = 'xid' THEN NULL ELSE db END AS db",
        "CASE WHEN op IN ('xid', 'query') THEN NULL ELSE tbl END AS tbl",
        f"{id_expr} AS row_key",
    ).groupBy("op", "db", "tbl").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("row_key").cast("bigint").alias("n_ids"),
    )


@register(
    "cdc_binlog_tags_typed",
    """
WITH ev AS (
  SELECT event_id, ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS k FROM events
)
SELECT CAST(3*k+1 AS BIGINT) AS seq,
       CAST(event_id % 97 AS BIGINT) AS id,
       CASE WHEN event_id % 7 = 0 THEN NULL
            ELSE CAST(1 + event_id % 5 AS INTEGER) END AS state_ordinal,
       CAST(event_id % 16 AS BIGINT) AS flags_bits,
       CAST(event_id % 4096 AS BIGINT) AS perms_bits
FROM ev
""".strip(),
)
def cdc_binlog_tags_typed(spark, sf_dir):
    """Dynamic→typed bridge over ENUM/SET columns: the MAP envelope's
    string payload cast to typed columns — ENUM ordinal to INT, SET
    little-endian hex back to its BIGINT bitset (conv() reverses the
    byte order; engine-neutral via the oracle's closed form)."""
    import pathlib

    from mysql_cdc_spark.sources import binlog_source as bs

    out_dir = pathlib.Path(_STREAM_TMP) / f"binlog_enumset_{pathlib.Path(sf_dir).name}_v{_FIXTURE_VERSION}"
    if not any(out_dir.glob("binlog.*")):
        bs.generate_enum_set_binlog(sf_dir, str(out_dir))
    env = bs.read_binlog_envelope(spark, str(out_dir))

    def hex_le_to_long(col: str):
        # reverse the little-endian byte hex (pairs) then conv base 16
        return F.expr(
            "conv(array_join(reverse(transform("
            f"  sequence(0, length(element_at(after, '{col}')) div 2 - 1),"
            f"  i -> substring(element_at(after, '{col}'), i * 2 + 1, 2))), ''), 16, 10)"
        ).cast("bigint")

    # 3 envelope events per source row; global seq across the rotation
    # chain (see cdc_binlog_enum_set).
    seq_global = (
        F.regexp_extract("log_file", r"binlog\.(\d+)", 1).cast("bigint")
        * (3 * bs.ROTATE_EVERY)
        + F.col("seq")
    )
    return env.filter(F.col("op") == "write_rows").select(
        seq_global.alias("seq"),
        F.element_at("after", "id").cast("bigint").alias("id"),
        F.element_at("after", "state").cast("int").alias("state_ordinal"),
        hex_le_to_long("flags").alias("flags_bits"),
        hex_le_to_long("perms").alias("perms_bits"),
    )


@register(
    "cdc_binlog_enum_set",
    """
WITH ev AS (
  SELECT event_id, ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS k FROM events
)
SELECT CAST(3*k+1 AS BIGINT) AS seq,
       CAST(event_id % 97 AS BIGINT) AS id,
       CASE WHEN event_id % 7 = 0 THEN NULL
            ELSE CAST(1 + event_id % 5 AS VARCHAR) END AS state,
       CAST(1 + event_id % 300 AS VARCHAR) AS wide,
       printf('%02x', event_id % 16) AS flags,
       printf('%02x%02x', (event_id % 4096) % 256, (event_id % 4096) // 256) AS perms
FROM ev
""".strip(),
)
def cdc_binlog_enum_set(spark, sf_dir):
    """ENUM + SET columns through the full byte path (reference
    read-type, mysql_binlog.clj:530-536): encode bench.tags (both ENUM
    ordinal widths, both SET bitset widths, NULLable ENUM) as real
    binlog bytes, decode via binaryFile + mapInArrow, and project the
    after-images.  ENUM surfaces as its 1-based ordinal; SET as the
    little-endian hex of its raw bitset bytes."""
    import pathlib

    from mysql_cdc_spark.sources import binlog_source as bs

    out_dir = pathlib.Path(_STREAM_TMP) / f"binlog_enumset_{pathlib.Path(sf_dir).name}_v{_FIXTURE_VERSION}"
    if not any(out_dir.glob("binlog.*")):
        bs.generate_enum_set_binlog(sf_dir, str(out_dir))
    env = bs.read_binlog_envelope(spark, str(out_dir))
    # 3 envelope events per source row (TABLE_MAP, WRITE_ROWS, XID);
    # rotated files hold ROTATE_EVERY rows each, so seq_global =
    # file_index * (3 * ROTATE_EVERY) + seq_in_file keeps the oracle's
    # 3k+1 numbering valid across the rotation chain.
    seq_global = (
        F.regexp_extract("log_file", r"binlog\.(\d+)", 1).cast("bigint")
        * (3 * bs.ROTATE_EVERY)
        + F.col("seq")
    )
    return env.filter(F.col("op") == "write_rows").select(
        seq_global.alias("seq"),
        F.element_at("after", "id").cast("bigint").alias("id"),
        F.element_at("after", "state").alias("state"),
        F.element_at("after", "wide").alias("wide"),
        F.element_at("after", "flags").alias("flags"),
        F.element_at("after", "perms").alias("perms"),
    )


@register(
    "cdc_binlog_wide_types",
    """
WITH ev AS (
  SELECT event_id, ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS k FROM events
)
SELECT CAST(3*k+1 AS BIGINT) AS seq,
       CAST(event_id % 97 AS BIGINT) AS id,
       CAST((event_id % 256) - 128 AS BIGINT) AS t8,
       CASE WHEN event_id % 13 = 0 THEN NULL
            ELSE CAST(((event_id*7) % 65536) - 32768 AS BIGINT) END AS t16,
       CAST(((event_id*131) % 16777216) - 8388608 AS BIGINT) AS t24,
       CAST((event_id - 5000) * 1000000007 AS BIGINT) AS t64,
       CAST(event_id % 131072 AS DOUBLE) / 64 AS f32,
       CAST(event_id AS DOUBLE) / 1024 AS f64,
       CAST(1970 + event_id % 100 AS BIGINT) AS yr,
       CAST(DATE '1970-01-01' + CAST(event_id % 20000 AS INT) AS VARCHAR) AS d,
       strftime(TIMESTAMP '2020-01-01' + to_seconds(event_id),
                '%Y-%m-%d %H:%M:%S') AS dt,
       printf('%d.%02d', 1500000000 + event_id, event_id % 100) AS ts,
       printf('%s%02d:%02d:%02d.%03d',
              CASE WHEN (event_id % 7200) - 3600 < 0 THEN '-' ELSE '' END,
              abs((event_id % 7200) - 3600)//3600,
              (abs((event_id % 7200) - 3600)%3600)//60,
              abs((event_id % 7200) - 3600)%60,
              (event_id*37)%1000) AS tm,
       CASE WHEN event_id % 17 = 0 THEN NULL
            ELSE lower(hex(encode(CAST(event_id AS VARCHAR)))) END AS bl
FROM ev
""".strip(),
)
def cdc_binlog_wide_types(spark, sf_dir):
    """Full MySQL type matrix through the byte path — every type here
    is BEYOND the reference's decoder (read-type, mysql_binlog.clj:558
    throws on all of them): TINY/SHORT/INT24/LONGLONG signed ints,
    FLOAT/DOUBLE (exact binary fractions so the envelope's string form
    round-trips), YEAR, DATE, packed DATETIME2/TIMESTAMP2/TIME2 with
    0/2/3-digit fractional seconds (TIME2 exercising negative values
    through the offset-binary sign), and BLOB (hex in the envelope).
    Encode bench.wide as real binlog bytes, decode via binaryFile +
    mapInArrow, project + cast the after-images; the oracle recomputes
    every column in closed form from event_id."""
    import pathlib

    from mysql_cdc_spark.sources import binlog_source as bs

    out_dir = pathlib.Path(_STREAM_TMP) / f"binlog_wide_{pathlib.Path(sf_dir).name}_v{_FIXTURE_VERSION}"
    if not any(out_dir.glob("binlog.*")):
        bs.generate_wide_binlog(sf_dir, str(out_dir))
    env = bs.read_binlog_envelope(spark, str(out_dir))
    after = F.col("after")
    # 3 envelope events per source row; global seq across the rotation
    # chain (see cdc_binlog_enum_set).
    seq_global = (
        F.regexp_extract("log_file", r"binlog\.(\d+)", 1).cast("bigint")
        * (3 * bs.ROTATE_EVERY)
        + F.col("seq")
    )
    return env.filter(F.col("op") == "write_rows").select(
        seq_global.alias("seq"),
        *[
            F.element_at(after, c).cast("bigint").alias(c)
            for c in ("id", "t8", "t16", "t24", "t64")
        ],
        F.element_at(after, "f32").cast("double").alias("f32"),
        F.element_at(after, "f64").cast("double").alias("f64"),
        F.element_at(after, "yr").cast("bigint").alias("yr"),
        *[F.element_at(after, c).alias(c) for c in ("d", "dt", "ts", "tm", "bl")],
    )


@register(
    "cdc_binlog_utf8mb4",
    """
WITH ev AS (
  SELECT event_id, ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS k FROM events
)
SELECT CAST(3*k+1 AS BIGINT) AS seq,
       CAST(event_id % 97 AS BIGINT) AS id,
       'é→' || CAST(event_id % 100 AS VARCHAR)
            || '←日本語·' || CAST(event_id % 7 AS VARCHAR) AS name,
       'grüß' || CAST(event_id % 10 AS VARCHAR) AS tag,
       lower(hex(encode(CAST(event_id AS VARCHAR)))) AS bin,
       CASE WHEN event_id % 9 = 0 THEN NULL
            ELSE 'déjà vu ' || CAST(event_id % 13 AS VARCHAR) END AS txt
FROM ev
""".strip(),
)
def cdc_binlog_utf8mb4(spark, sf_dir):
    """Charset-aware string decode through the byte path: the fixture's
    TABLE_MAP carries the 8.0 DEFAULT_CHARSET optional-metadata TLV
    (utf8mb4_0900_ai_ci default + a collation-63 VARBINARY override),
    and every text value contains 2- and 3-byte UTF-8 sequences.  The
    decoder must decode each column under its on-wire collation —
    latin-1 (the reference's hardwired ISO-8859-1 floor,
    mysql_binlog.clj:537-544) would surface mojibake and hash-mismatch
    against the oracle's native strings; the VARBINARY column must
    STAY bytes (hex in the envelope)."""
    import pathlib

    from mysql_cdc_spark.sources import binlog_source as bs

    out_dir = pathlib.Path(_STREAM_TMP) / f"binlog_utf8_{pathlib.Path(sf_dir).name}_v{_FIXTURE_VERSION}"
    if not any(out_dir.glob("binlog.*")):
        bs.generate_utf8_binlog(sf_dir, str(out_dir))
    env = bs.read_binlog_envelope(spark, str(out_dir))
    after = F.col("after")
    seq_global = (
        F.regexp_extract("log_file", r"binlog\.(\d+)", 1).cast("bigint")
        * (3 * bs.ROTATE_EVERY)
        + F.col("seq")
    )
    return env.filter(F.col("op") == "write_rows").select(
        seq_global.alias("seq"),
        F.element_at(after, "id").cast("bigint").alias("id"),
        F.element_at(after, "name").alias("name"),
        F.element_at(after, "tag").alias("tag"),
        F.element_at(after, "bin").alias("bin"),
        F.element_at(after, "txt").alias("txt"),
    )


@register(
    "cdc_binlog_json_bit",
    """
WITH ev AS (
  SELECT event_id, ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS k FROM events
)
SELECT CAST(3*k+1 AS BIGINT) AS seq,
       CAST(event_id % 97 AS BIGINT) AS id,
       CASE WHEN event_id % 11 = 0 THEN NULL
            ELSE printf('{"b": %s, "k": %d, "s": "w%d"}',
                        CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END,
                        event_id % 100, event_id % 10) END AS doc,
       CAST(event_id % 4096 AS BIGINT) AS flags,
       CAST(1600000000 + event_id AS BIGINT) AS created,
       strftime(TIMESTAMP '2020-01-01' + to_seconds(event_id),
                '%Y-%m-%d %H:%M:%S') AS updated,
       printf('%s%02d:%02d:%02d',
              CASE WHEN (event_id % 7200) - 3600 < 0 THEN '-' ELSE '' END,
              abs((event_id % 7200) - 3600)//3600,
              (abs((event_id % 7200) - 3600)%3600)//60,
              abs((event_id % 7200) - 3600)%60) AS took
FROM ev
""".strip(),
)
def cdc_binlog_json_bit(spark, sf_dir):
    """Binary JSON documents (5.7+ json_binary format: small objects,
    inlined literals/int16s, varint strings), BIT, and the legacy
    pre-5.6.4 temporal wire formats through the byte path — all in v2
    rows framing.  The decoder renders JSON exactly as MySQL's text
    form (", "/": " separators, sorted-key binary order), so the
    oracle recomputes every document with printf.  None of these types
    exist in the reference (read-type, mysql_binlog.clj:558 throws)."""
    import pathlib

    from mysql_cdc_spark.sources import binlog_source as bs

    out_dir = pathlib.Path(_STREAM_TMP) / f"binlog_jsonbit_{pathlib.Path(sf_dir).name}_v{_FIXTURE_VERSION}"
    if not any(out_dir.glob("binlog.*")):
        bs.generate_json_bit_binlog(sf_dir, str(out_dir))
    env = bs.read_binlog_envelope(spark, str(out_dir))
    after = F.col("after")
    seq_global = (
        F.regexp_extract("log_file", r"binlog\.(\d+)", 1).cast("bigint")
        * (3 * bs.ROTATE_EVERY)
        + F.col("seq")
    )
    return env.filter(F.col("op") == "write_rows").select(
        seq_global.alias("seq"),
        F.element_at(after, "id").cast("bigint").alias("id"),
        F.element_at(after, "doc").alias("doc"),
        F.element_at(after, "flags").cast("bigint").alias("flags"),
        F.element_at(after, "created").cast("bigint").alias("created"),
        F.element_at(after, "updated").alias("updated"),
        F.element_at(after, "took").alias("took"),
    )


@register(
    "cdc_binlog_json_extract",
    """
SELECT CAST(event_id % 100 AS BIGINT) AS k,
       event_id % 2 = 0 AS b,
       COUNT(*) AS n
FROM events
WHERE event_id % 11 <> 0
GROUP BY 1, 2
""".strip(),
)
def cdc_binlog_json_extract(spark, sf_dir):
    """JSON analytics over the DECODED change stream: the binary JSON
    documents round-trip the byte path, then Spark's JSON path
    functions (`get_json_object`, JVM-side codegen, no Python UDF)
    extract typed fields for a relational aggregation — the end-to-end
    shape of real CDC-to-analytics pipelines on document columns.  The
    oracle recomputes the distribution in closed form from event_id."""
    import pathlib

    from mysql_cdc_spark.sources import binlog_source as bs

    out_dir = pathlib.Path(_STREAM_TMP) / f"binlog_jsonbit_{pathlib.Path(sf_dir).name}_v{_FIXTURE_VERSION}"
    if not any(out_dir.glob("binlog.*")):
        bs.generate_json_bit_binlog(sf_dir, str(out_dir))
    env = bs.read_binlog_envelope(spark, str(out_dir))
    doc = F.element_at(F.col("after"), "doc")
    return (
        env.filter(F.col("op") == "write_rows")
        .select(
            F.get_json_object(doc, "$.k").cast("bigint").alias("k"),
            (F.get_json_object(doc, "$.b") == "true").alias("b"),
        )
        .filter(F.col("k").isNotNull())
        .groupBy("k", "b")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "cdc_binlog_quarantine",
    "SELECT op, CAST(COUNT(*) AS BIGINT) AS n FROM ("
    "  SELECT CASE WHEN event_id % 101 = 0 THEN 'quarantine' "
    "              WHEN event_type IN ('signup','purchase') THEN 'write_rows' "
    "              WHEN event_type IN ('click','view') THEN 'update_rows' "
    "              ELSE 'delete_rows' END AS op "
    "  FROM events"
    ") GROUP BY op",
)
def cdc_binlog_quarantine(spark, sf_dir):
    """Dead-letter decode: a byte log with a poisoned row-event body
    every 101st transaction is decoded with on_error='quarantine' —
    the poison events surface as op='quarantine' rows and the walk
    CONTINUES (the reference crashes on the first malformed event,
    mysql_binlog.clj:727-729; production CDC must drain past poison).
    The oracle derives which events were poisoned and which survive."""
    import pathlib

    from mysql_cdc_spark.sources import binlog_source as bs

    out_dir = (
        pathlib.Path(_STREAM_TMP)
        / f"binlog_corrupt_{pathlib.Path(sf_dir).name}_v{_FIXTURE_VERSION}"
    )
    if not any(out_dir.glob("binlog.*")):
        bs.generate_binlog_from_events(sf_dir, str(out_dir), corrupt_every=101)
    env = bs.read_binlog_envelope(spark, str(out_dir), on_error="quarantine")
    return (
        env.where(
            F.col("op").isin("write_rows", "update_rows", "delete_rows", "quarantine")
        )
        .groupBy("op")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


# ---------------------------------------------------------------------------
# The mysql_binlog Python DataSource (sources/binlog_datasource.py):
# the same byte path exposed as a first-class Spark source —
# format("mysql_binlog") batch scan with Catalyst pushFilters reaching
# the codec, and readStream with frame-aligned offsets in Spark's own
# checkpoint WAL.  Gates reuse the full-fidelity envelope oracle, so
# every header/bitfield/decimal must round-trip through the DataSource
# protocol (arrow RecordBatch ingest) too.
# ---------------------------------------------------------------------------


def _ds_fixture(spark, sf_dir, prefix: str = "binlog"):
    """The standard envelope byte fixture + a registered DataSource."""
    import pathlib

    from mysql_cdc_spark.sources import binlog_source as bs
    from mysql_cdc_spark.sources.binlog_datasource import (
        register_binlog_source,
    )

    out_dir = (
        pathlib.Path(_STREAM_TMP)
        / f"{prefix}_{pathlib.Path(sf_dir).name}_v{_FIXTURE_VERSION}"
    )
    if not any(out_dir.glob("binlog.*")):
        bs.generate_binlog_from_events(sf_dir, str(out_dir))
    register_binlog_source(spark)
    return str(out_dir)


def _ds_envelope_projected(env):
    """Project a DataSource envelope onto the _BINLOG_ORACLE contract.

    The DataSource emits `seq` as the codec FRAME index (pushdown-
    invariant); the oracle numbers DELIVERED envelope events.  A
    per-file dense_rank over the emitted frame seqs (non-envelope
    frames are never emitted) recovers delivered numbering exactly,
    then the rotation arithmetic lifts it to the global oracle
    numbering.  The window is partitioned by log_file — at scale this
    is one shuffle by the natural decode unit, and it exists only for
    oracle presentation (consumers use (log_file, offset, row_idx))."""
    from pyspark.sql import Window

    from mysql_cdc_spark.sources import binlog_source as bs

    w = Window.partitionBy("log_file").orderBy("seq")
    env = env.withColumn(
        "seq",
        (F.dense_rank().over(w) - 1).cast("bigint")
        + F.regexp_extract("log_file", r"binlog\.(\d+)", 1).cast("bigint")
        * (4 * bs.ROTATE_EVERY),
    )
    return env.select(
        "seq",
        "op",
        "db",
        "tbl",
        "xid",
        "sql",
        F.element_at("before", "id").cast("bigint").alias("before_id"),
        F.element_at("before", "val").alias("before_val"),
        F.element_at("before", "word").alias("before_word"),
        F.element_at("after", "id").cast("bigint").alias("after_id"),
        F.element_at("after", "val").alias("after_val"),
        F.element_at("after", "word").alias("after_word"),
        "thread_id",
        "exec_time",
        "error_code",
    )




def _sf_tag(sf_dir: str) -> str:
    import pathlib

    return pathlib.Path(sf_dir).name


def _max_event_id(sf_dir: str) -> int:
    """max(event_id) via the shared footer-statistics helper
    (queries/_shared.py) — fixture generators must size event ranges
    BEFORE any fixture exists, so no Spark fallback here: missing
    statistics are a loud error."""
    from mysql_cdc_spark.queries._shared import _footer_max_event_id

    mx = _footer_max_event_id(sf_dir)
    if mx is None:
        raise ValueError(f"no event_id statistics in {sf_dir}/events.parquet")
    return mx


def _failover_dirs(sf_dir: str) -> tuple[str, str]:
    """The shared failover fixture pair (old primary [0, 60%%), new
    primary [40%%, 100%%) renumbered) — ONE builder for both
    cdc_ds_gtid_failover and cdc_ds_failover_state: the gates share
    the directories by name, so a drifting copy of this block would
    silently reuse a stale fixture against a changed oracle."""
    import pathlib

    from mysql_cdc_spark.sources import binlog_source as bs

    n = _max_event_id(sf_dir) + 1
    e40, e60 = (n * 4) // 10, (n * 6) // 10
    tag = _sf_tag(sf_dir)
    dir_a = pathlib.Path(_STREAM_TMP) / f"binlog_failover_a_{tag}_v{_FIXTURE_VERSION}"
    dir_b = pathlib.Path(_STREAM_TMP) / f"binlog_failover_b_{tag}_v{_FIXTURE_VERSION}"
    if not any(dir_a.glob("binlog.*")):
        bs.generate_binlog_from_events(
            sf_dir, str(dir_a), gtid=True, prev_gtids=True, checksum="crc32",
            event_range=(0, e60),
        )
    if not any(dir_b.glob("binlog.*")):
        bs.generate_binlog_from_events(
            sf_dir, str(dir_b), gtid=True, prev_gtids=True, checksum="crc32",
            event_range=(e40, n), renumber_files=True,
        )
    return str(dir_a), str(dir_b)


def _drain_files(spark, stream, prefix: str):
    """Drain a streaming DataFrame availableNow through a PARQUET sink
    and read the result back as a batch DataFrame.  For stream gates
    whose output is O(input): the memory sink collects every row to
    the driver and trips spark.driver.maxResultSize at x100 (measured
    twice — the r16 sweep caught cdc_ds_stream_envelope at 40M rows
    and cdc_ds_stream_since at the 20M-row suffix).  Executor-side
    sink, same exactly-once contract.  Previous invocations' sink dirs
    are cleaned up lazily (the returned DF reads its files lazily, so
    a run can only delete its predecessors)."""
    import pathlib
    import shutil
    import uuid

    root = pathlib.Path(_STREAM_TMP)
    for old in root.glob(f"{prefix}_*"):
        shutil.rmtree(old, ignore_errors=True)
    sink = str(root / f"{prefix}_{uuid.uuid4().hex[:8]}")
    cp = sink + "_cp"
    try:
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(1800)
    finally:
        shutil.rmtree(cp, ignore_errors=True)
    return spark.read.parquet(sink)


@register("cdc_ds_envelope", _BINLOG_ORACLE)
def cdc_ds_envelope(spark, sf_dir):
    """Full envelope fidelity through the PySpark 4 Python Data Source
    API: spark.read.format("mysql_binlog") plans one InputPartition
    per rotated file, executors decode whole files and hand Spark
    arrow RecordBatches.  Same oracle as cdc_binlog_envelope — the
    two scan paths (binaryFile+mapInArrow vs DataSource) must agree
    byte-for-byte.  Reference anchor: mysql_binlog.clj:907-938 is a
    driver-side tailer; the DataSource is its Spark-native batch
    form."""
    env = spark.read.format("mysql_binlog").load(_ds_fixture(spark, sf_dir))
    return _ds_envelope_projected(env)


@register(
    "cdc_ds_pushdown",
    """
WITH ev AS (
  SELECT event_id,
         CAST(event_id % 97 AS BIGINT) AS id,
         CASE WHEN event_type IN ('signup','purchase') THEN 'write_rows'
              WHEN event_type IN ('click','view') THEN 'update_rows'
              ELSE 'delete_rows' END AS row_op,
         printf('%d.%04d', event_id % 100000, event_id % 10000) AS v,
         CASE WHEN event_id % 10 = 0 THEN NULL ELSE event_type END AS w
  FROM events WHERE user_id % 2 = 0
)
SELECT id, val, word FROM (
  SELECT id,
         CASE WHEN row_op = 'delete_rows' THEN NULL ELSE v END AS val,
         CASE WHEN row_op = 'delete_rows' THEN NULL ELSE w END AS word,
         row_op,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY event_id DESC) AS rn
  FROM ev
) WHERE rn = 1 AND row_op <> 'delete_rows'
""".strip(),
)
def cdc_ds_pushdown(spark, sf_dir):
    """Catalyst filter pushdown reaching the byte codec through
    Spark's OWN pushFilters protocol (PySpark 4.1): a plain
    df.filter("db='foo' AND tbl='auto'") on the DataSource scan maps
    onto the codec's only_tables skip — foreign tables' row images
    never parse — while the filter is ALSO returned to Spark for
    post-scan evaluation (partial pushdown: transparency is never
    traded for the skip).  Replays foo.auto to latest state by the
    stable (file, offset) identity.  Same result contract as
    cdc_binlog_pushdown, which passes only_tables explicitly — the
    keyword and the Catalyst routes must agree."""
    env = spark.read.format("mysql_binlog").load(_ds_fixture(spark, sf_dir))
    rows = env.filter(
        (F.col("db") == "foo")
        & (F.col("tbl") == "auto")
        & F.col("op").isin("write_rows", "update_rows", "delete_rows")
    )
    keyed = rows.selectExpr(
        "coalesce(element_at(after, 'id'), element_at(before, 'id')) AS id_s",
        "struct(CAST(regexp_extract(log_file, 'binlog\\\\.(\\\\d+)', 1) AS BIGINT)"
        " AS file_idx, offset) AS ord",
        "op",
        "element_at(after, 'val') AS val",
        "element_at(after, 'word') AS word",
    ).selectExpr("CAST(id_s AS BIGINT) AS id", "ord", "op", "val", "word")
    return (
        keyed.groupBy("id")
        .agg(F.expr("max_by(struct(val, word, op), ord)").alias("last"))
        .filter(F.col("last.op") != "delete_rows")
        .select(
            "id",
            F.col("last.val").alias("val"),
            F.col("last.word").alias("word"),
        )
    )


@register("cdc_ds_stream_envelope", _BINLOG_ORACLE)
def cdc_ds_stream_envelope(spark, sf_dir):
    """The SAME byte log consumed as a Structured Streaming source:
    spark.readStream.format("mysql_binlog") with frame-aligned
    offsets checkpointed by Spark itself, drained availableNow, then
    projected onto the batch oracle — streaming delivery must lose
    and duplicate nothing vs the batch decode (the full-fidelity
    analog of the reference's tailer loop, mysql_binlog.clj:907-938,
    with offsets in the checkpoint instead of agent memory).

    This gate's output is O(input) — the whole envelope — so unlike
    the other stream gates it drains to a PARQUET sink, not the
    memory sink: the memory sink collects every row to the driver
    and collapses at x100 (measured: 40M rows tripped
    spark.driver.maxResultSize).  Executor-side sink, same
    exactly-once contract."""
    fixture = _ds_fixture(spark, sf_dir)
    stream = spark.readStream.format("mysql_binlog").load(fixture)
    return _ds_envelope_projected(
        _drain_files(spark, stream, f"ds_env_sink_{_sf_tag(sf_dir)}")
    )


@register(
    "cdc_ds_stream_txn",
    """
SELECT CAST(event_id AS BIGINT) AS xid,
       CAST(4 AS BIGINT) AS n_events,
       CAST((event_id % 2500) * 4 + 1 AS BIGINT) AS first_offset,
       CAST((event_id % 2500) * 4 + 4 AS BIGINT) AS last_offset,
       CAST(CASE WHEN event_type IN ('click','view') THEN 1 ELSE 0 END
            AS BIGINT) AS has_update,
       printf('binlog.%06d', event_id // 2500) AS log_file
FROM events
""".strip(),
)
def cdc_ds_stream_txn(spark, sf_dir):
    """Composition: the mysql_binlog STREAMING source feeding the
    stateful transaction assembler — raw binlog bytes in, one row per
    COMMITTED transaction out, all through Spark-native machinery
    (DataSource offsets in the checkpoint WAL; applyInPandasWithState
    assembly with event-time GC).  The assembler needs dense per-file
    offsets (stateful.py's input contract), which is exactly what the
    DataSource's frame-index `seq` provides — FDE (slot 0) sits below
    the anchor and the trailing ROTATE slot is after the last commit,
    so the dense window over emitted events holds.  The oracle derives
    every commit closed-form from the events table (xid = event_id,
    4 frames per transaction, rotation every 2500 source events).
    Reference anchor: mysql_binlog.clj:393-394, :730-733 — the serial
    buffer-until-xid loop, here distributed per file and exactly-once."""
    from mysql_cdc_spark.streaming import stateful

    env = spark.readStream.format("mysql_binlog").load(_ds_fixture(spark, sf_dir))
    rows = env.select(
        "log_file",
        F.col("seq").alias("offset"),
        "op",
        "xid",
        # The fixture's event clock starts at 0; epoch-0 event time
        # collides with Spark's INITIAL watermark (also epoch 0) and
        # the first transaction's rows would be dropped as late before
        # reaching the stateful operator.  Shift the clock one day —
        # presentation-level, the assembler only compares ts gaps.
        F.timestamp_seconds(F.col("ts") + F.lit(86400)).alias("ts"),
    )
    assembled = _drain(stateful.txn_events_stateful(rows), output_mode="append")
    return assembled.select(
        "xid", "n_events", "first_offset", "last_offset", "has_update",
        "log_file",
    )


from mysql_cdc_spark.queries._registry import ORACLES as _ORACLES  # noqa: E402


@register("cdc_ds_schema_evo", _ORACLES["cdc_binlog_schema_evo"])
def cdc_ds_schema_evo(spark, sf_dir):
    """Mid-log schema evolution through the DataSource protocol: the
    sevo fixture (lab.acct widened by a mid-log ALTER; both table maps
    carry binlog_row_metadata=FULL COLUMN_NAME TLVs) scanned with
    format("mysql_binlog") and an EXPLICIT empty catalog option — all
    column names come off the wire, through arrow ingest, and the
    typed view's (db, tbl, op) filter rides Spark's own pushFilters
    into the codec's image-parse skip (no only_tables keyword
    anywhere).  Same oracle as cdc_binlog_schema_evo: the two scan
    protocols must agree across the schema boundary."""
    import pathlib

    from mysql_cdc_spark.sources import binlog_source as bs
    from mysql_cdc_spark.sources.binlog_datasource import (
        register_binlog_source,
    )

    out_dir = pathlib.Path(_STREAM_TMP) / f"binlog_sevo_{pathlib.Path(sf_dir).name}_v{_FIXTURE_VERSION}"
    if not any(out_dir.glob("binlog.*")):
        bs.generate_schema_evo_binlog(sf_dir, str(out_dir))
    register_binlog_source(spark)
    env = (
        spark.read.format("mysql_binlog")
        .option("catalog", "{}")
        .load(str(out_dir))
    )
    typed = bs.typed_changes(
        env, "lab", "acct",
        {"id": "bigint", "val": "string", "score": "bigint"},
    )
    keyed = typed.selectExpr(
        "after_id AS id",
        "struct(CAST(regexp_extract(log_file, 'binlog\\\\.(\\\\d+)', 1) AS BIGINT)"
        " AS file_idx, offset) AS ord",
        "after_val AS val",
        "after_score AS score",
    )
    return (
        keyed.groupBy("id")
        .agg(
            F.expr("max_by(struct(val, score), ord)").alias("last"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
        .select(
            "id",
            F.col("last.val").alias("val"),
            F.col("last.score").alias("score"),
            "n_rows",
        )
    )


# Archive round-trip oracle: the envelope content WITHOUT positional
# columns (seq) and WITHOUT table_map records (the archive regenerates
# its own self-describing table maps) — derived from _BINLOG_ORACLE the
# same way the GTID/MINIMAL variants are.
_ARCHIVE_ORACLE = (
    _BINLOG_ORACLE
    .replace("CAST(event_id*4 AS BIGINT) AS seq, ", "")
    .replace(
        """  UNION ALL
  SELECT CAST(event_id*4+1 AS BIGINT), 'table_map', db, tbl, NULL, NULL,
         NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
  FROM ev
""",
        "",
    )
    .replace("CAST(event_id*4+2 AS BIGINT), ", "")
    .replace("CAST(event_id*4+3 AS BIGINT), ", "")
)
assert "table_map" not in _ARCHIVE_ORACLE
assert "seq" not in _ARCHIVE_ORACLE


@register("cdc_ds_archive_roundtrip", _ARCHIVE_ORACLE)
def cdc_ds_archive_roundtrip(spark, sf_dir):
    """The WRITE half of the DataSource: archive the decoded envelope
    back to REAL binlog bytes with df.write.format("mysql_binlog")
    (each task encodes its partition into one self-contained file —
    magic + FDE, a COLUMN_NAME-TLV table map before every rows event,
    utf8mb4 charset TLVs, present-bitmaps preserving the key-absent vs
    SQL-NULL distinction — temp-file + driver-rename commit), then
    decode the ARCHIVE catalog-free and check the full content
    round-trip against the relational oracle.  Every value that
    survives this gate was encoded twice and decoded twice by two
    independent scan protocols.  The reference has no writer at all;
    this is the CDC archival story (binlog backup/compaction) made
    Spark-native."""
    import pathlib

    fixture = _ds_fixture(spark, sf_dir)
    arch = str(
        pathlib.Path(_STREAM_TMP)
        / f"ds_archive_{pathlib.Path(sf_dir).name}_v{_FIXTURE_VERSION}"
    )
    env = spark.read.format("mysql_binlog").load(fixture)
    # ZERO-SHUFFLE archival: the scan is already one-partition-per-file
    # in offset order, so the archive mirrors the source file-for-file
    # with no exchange and no sort.  (The sweep measured the shuffled
    # alternatives: repartition(8)+sort spilled 10.5 GB at x100 and
    # repartition(32)+sort still spilled 8.5 GB — the sort buffers, not
    # the encode, were the cost.  Mirroring is deterministic for free.)
    env.write.format("mysql_binlog").mode("overwrite").save(arch)
    back = (
        spark.read.format("mysql_binlog")
        .option("catalog", "{}")
        .load(arch)
    )
    return back.filter(
        F.col("op").isin(
            "query", "write_rows", "update_rows", "delete_rows", "xid"
        )
    ).select(
        "op",
        "db",
        "tbl",
        "xid",
        "sql",
        F.element_at("before", "id").cast("bigint").alias("before_id"),
        F.element_at("before", "val").alias("before_val"),
        F.element_at("before", "word").alias("before_word"),
        F.element_at("after", "id").cast("bigint").alias("after_id"),
        F.element_at("after", "val").alias("after_val"),
        F.element_at("after", "word").alias("after_word"),
        "thread_id",
        "exec_time",
        "error_code",
    )


@register(
    "cdc_ds_compact",
    """
WITH ev AS (
  SELECT event_id,
         CASE WHEN user_id % 2 = 0 THEN 'foo' ELSE 'bench' END AS db,
         CASE WHEN user_id % 2 = 0 THEN 'auto' ELSE 'big' END AS tbl,
         CAST(event_id % 97 AS BIGINT) AS id,
         CASE WHEN event_type IN ('signup','purchase') THEN 'write_rows'
              WHEN event_type IN ('click','view') THEN 'update_rows'
              ELSE 'delete_rows' END AS row_op,
         printf('%d.%04d', event_id % 100000, event_id % 10000) AS v,
         CASE WHEN event_id % 10 = 0 THEN NULL ELSE event_type END AS w
  FROM events
)
SELECT db, tbl, id, val, word FROM (
  SELECT db, tbl, id,
         CASE WHEN row_op = 'delete_rows' THEN NULL ELSE v END AS val,
         CASE WHEN row_op = 'delete_rows' THEN NULL ELSE w END AS word,
         row_op,
         ROW_NUMBER() OVER (PARTITION BY db, tbl, id
                            ORDER BY event_id DESC) AS rn
  FROM ev
) WHERE rn = 1 AND row_op <> 'delete_rows'
""".strip(),
)
def cdc_ds_compact(spark, sf_dir):
    """LOG COMPACTION through the DataSource round-trip: replay the
    whole change log to latest state per (db, tbl, id), re-encode the
    survivors as an INSERT-ONLY snapshot binlog (the archival sink),
    and decode the compacted log back — a CDC bootstrap artifact that
    replaces N log files with one insert pass, in the log's own wire
    format (any binlog consumer can bootstrap from it).  Deleted keys
    vanish; the last write/update wins by the stable (file, offset)
    identity.  The oracle replays the same history relationally.
    Composition: DataSource scan → max_by replay → archive write →
    catalog-free DataSource scan of the archive."""
    from mysql_cdc_spark.sources.binlog_datasource import (
        register_binlog_source,
    )
    import pathlib

    fixture = _ds_fixture(spark, sf_dir)
    register_binlog_source(spark)
    env = spark.read.format("mysql_binlog").load(fixture)
    rows = env.filter(
        F.col("op").isin("write_rows", "update_rows", "delete_rows")
    )
    keyed = rows.selectExpr(
        "db",
        "tbl",
        "CAST(coalesce(element_at(after, 'id'), element_at(before, 'id'))"
        " AS BIGINT) AS id",
        "struct(CAST(regexp_extract(log_file, 'binlog\\\\.(\\\\d+)', 1) AS BIGINT)"
        " AS file_idx, offset) AS ord",
        "op",
        "element_at(after, 'val') AS val",
        "element_at(after, 'word') AS word",
    )
    latest = (
        keyed.groupBy("db", "tbl", "id")
        .agg(F.expr("max_by(struct(val, word, op), ord)").alias("last"))
        .filter(F.col("last.op") != "delete_rows")
        .select(
            "db", "tbl", "id",
            F.col("last.val").alias("val"),
            F.col("last.word").alias("word"),
        )
    )
    # survivors → synthetic insert envelope records for the sink
    snapshot = latest.select(
        F.lit("snapshot").alias("log_file"),
        F.lit(0).cast("bigint").alias("seq"),
        F.col("id").alias("offset"),
        F.lit(0).cast("bigint").alias("ts"),
        F.lit(1).cast("bigint").alias("server_id"),
        F.lit(None).cast("bigint").alias("xid"),
        "db",
        "tbl",
        F.lit("write_rows").alias("op"),
        F.lit(0).cast("bigint").alias("row_idx"),
        F.lit(None).cast("map<string,string>").alias("before"),
        F.map_from_arrays(
            F.array(F.lit("id"), F.lit("val"), F.lit("word")),
            F.array(F.col("id").cast("string"), "val", "word"),
        ).alias("after"),
        F.lit(None).cast("string").alias("sql"),
        F.lit(None).cast("bigint").alias("thread_id"),
        F.lit(None).cast("bigint").alias("exec_time"),
        F.lit(None).cast("bigint").alias("error_code"),
    )
    arch = str(
        pathlib.Path(_STREAM_TMP)
        / f"ds_compact_{pathlib.Path(sf_dir).name}_v{_FIXTURE_VERSION}"
    )
    (
        snapshot.repartition(4, "db", "tbl")
        .sortWithinPartitions("db", "tbl", "offset")
        .write.format("mysql_binlog")
        .mode("overwrite")
        .save(arch)
    )
    back = (
        spark.read.format("mysql_binlog")
        .option("catalog", "{}")
        .load(arch)
    )
    return back.filter(F.col("op") == "write_rows").select(
        "db",
        "tbl",
        F.element_at("after", "id").cast("bigint").alias("id"),
        F.element_at("after", "val").alias("val"),
        F.element_at("after", "word").alias("word"),
    )


@register("cdc_ds_stream_since", _ORACLES["cdc_binlog_since"])
def cdc_ds_stream_since(spark, sf_dir):
    """Bounded replay as the STREAMING source's initial position: the
    same journaled resume point cdc_binlog_since replays in batch is
    here the DataSource stream's `since_file` — initialOffset lands on
    it, Spark's checkpoint owns it from then on, and files before it
    never enter any micro-batch's partition plan (the 100 TB resume:
    no relist, no redecode, and after the first checkpoint the option
    is inert — the WAL decides).  Same oracle as the batch gate: the
    two resume routes must agree on the suffix."""
    import math
    import pathlib

    from mysql_cdc_spark.sources import binlog_source as bs
    from mysql_cdc_spark.sources.io import read_table

    fixture = _ds_fixture(spark, sf_dir)
    n = read_table(spark, sf_dir, "events").count()
    mid_file = math.ceil(n / bs.ROTATE_EVERY) // 2
    stream = (
        spark.readStream.format("mysql_binlog")
        .option("since_file", f"binlog.{mid_file:06d}")
        .option("since_offset", "4")
        .load(fixture)
    )
    # O(suffix) output: parquet-sink drain (the memory sink collects
    # to the driver and trips maxResultSize at x100 — sweep-measured)
    env = _drain_files(spark, stream, f"ds_since_sink_{_sf_tag(sf_dir)}")
    id_expr = (
        "CAST(coalesce(element_at(after, 'id'), element_at(before, 'id')) AS BIGINT)"
    )
    return env.selectExpr(
        "op",
        "CASE WHEN op = 'xid' THEN NULL ELSE db END AS db",
        "CASE WHEN op IN ('xid', 'query') THEN NULL ELSE tbl END AS tbl",
        f"{id_expr} AS row_key",
    ).groupBy("op", "db", "tbl").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("row_key").cast("bigint").alias("n_ids"),
    )


@register(
    "cdc_ds_columns_pruned",
    """
SELECT CASE WHEN user_id % 2 = 0 THEN 'foo' ELSE 'bench' END AS db,
       CASE WHEN user_id % 2 = 0 THEN 'auto' ELSE 'big' END AS tbl,
       CASE WHEN event_type IN ('signup','purchase') THEN 'write_rows'
            WHEN event_type IN ('click','view') THEN 'update_rows'
            ELSE 'delete_rows' END AS op,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MAX(event_id % 2147483648) AS BIGINT) AS max_ts
FROM events GROUP BY 1, 2, 3
""".strip(),
)
def cdc_ds_columns_pruned(spark, sf_dir):
    """Projection pruning BELOW decode on the mysql_binlog DataSource:
    .option("columns", ...) narrows the scan schema to the five
    columns this aggregate reads, and because neither image column is
    projected the codec WIDTH-WALKS every row image instead of
    materializing values (the column analog of the §4
    filter-before-decode pushdown; the reference decodes every used
    column of every row unconditionally, mysql_binlog.clj:592-604).
    Row cardinality, row_idx and ts must be exactly what a full decode
    yields — the oracle derives per-(db, tbl, op) row counts and max
    frame timestamps closed-form from the events table.  Spark's
    Python DS protocol does not prune projections into the reader
    (probed, PLANS.md r17), so the projection arrives as an option."""
    env = (
        spark.read.format("mysql_binlog")
        .option("columns", "db,tbl,op,ts,row_idx")
        .load(_ds_fixture(spark, sf_dir))
    )
    return (
        env.filter(F.col("op").isin("write_rows", "update_rows", "delete_rows"))
        .groupBy("db", "tbl", "op")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.max("ts").cast("bigint").alias("max_ts"),
        )
    )


@register(
    "cdc_ds_ts_range",
    """
WITH b AS (
  SELECT (MAX(event_id % 2147483648) * 9) // 10 AS lo FROM events
)
SELECT CASE WHEN user_id % 2 = 0 THEN 'foo' ELSE 'bench' END AS db,
       CASE WHEN user_id % 2 = 0 THEN 'auto' ELSE 'big' END AS tbl,
       CASE WHEN event_type IN ('signup','purchase') THEN 'write_rows'
            WHEN event_type IN ('click','view') THEN 'update_rows'
            ELSE 'delete_rows' END AS op,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(event_id % 2147483648) AS BIGINT) AS min_ts
FROM events, b WHERE event_id % 2147483648 >= b.lo
GROUP BY 1, 2, 3
""".strip(),
)
def cdc_ds_ts_range(spark, sf_dir):
    """The real consumer's "last 10% of changes by time" audit query,
    as a PLAIN Catalyst range filter on the DataSource scan: the
    pushed ts bound prunes whole files driver-side from an O(1)
    first-payload-timestamp peek (the mysqlbinlog --start-datetime
    play — measured 5.0x at x10, tools/ds_bench.py) and skips image
    parsing for the boundary file's out-of-range frames; Spark's
    post-scan re-filter keeps transparency.  The oracle derives the
    same per-(db, tbl, op) tail counts closed-form from events."""
    fixture = _ds_fixture(spark, sf_dir)
    tmax = (
        spark.read.format("mysql_binlog")
        .option("columns", "ts")
        .load(fixture)
        .agg(F.max("ts"))
        .collect()[0][0]
    )
    lo = (tmax * 9) // 10
    env = spark.read.format("mysql_binlog").load(fixture)
    return (
        env.filter(
            (F.col("ts") >= lo)
            & F.col("op").isin("write_rows", "update_rows", "delete_rows")
        )
        .groupBy("db", "tbl", "op")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("ts").cast("bigint").alias("min_ts"),
        )
    )


@register(
    "cdc_ds_since_gtid",
    """
WITH b AS (
  SELECT ((MAX(event_id) + 1) * 6) // 10 AS k FROM events
),
suffix AS (
  SELECT * FROM events, b WHERE event_id + 1 > b.k
)
SELECT op, CAST(COUNT(*) AS BIGINT) AS n FROM (
  SELECT 'gtid' AS op FROM suffix
  UNION ALL SELECT 'query' FROM suffix
  UNION ALL SELECT 'table_map' FROM suffix
  UNION ALL SELECT 'xid' FROM suffix
  UNION ALL
  SELECT CASE WHEN event_type IN ('signup','purchase') THEN 'write_rows'
              WHEN event_type IN ('click','view') THEN 'update_rows'
              ELSE 'delete_rows' END
  FROM suffix
) GROUP BY op
""".strip(),
)
def cdc_ds_since_gtid(spark, sf_dir):
    """GTID-set resume on the DataSource: since_gtid = "transactions
    1..K already applied" resolves onto (file, offset) via the
    PREVIOUS_GTIDS snapshots at each log head (file-level skip) plus
    one state-only walk of the boundary file — the failover-safe
    resume file+pos cannot give (file names reset on promotion; the
    executed set does not).  K = 60% of the corpus, so the resume
    lands mid-directory AND mid-file; the oracle derives the suffix's
    per-op event counts closed-form (gno = event_id + 1, five
    envelope events per transaction under gtid framing).  Reference
    has no GTID handling at all (mysql_binlog.clj:222-259)."""
    import pathlib

    from mysql_cdc_spark.sources import binlog_source as bs
    from mysql_cdc_spark.sources.binlog_datasource import (
        register_binlog_source,
    )

    out_dir = (
        pathlib.Path(_STREAM_TMP)
        / f"binlog_gtidset_{_sf_tag(sf_dir)}_v{_FIXTURE_VERSION}"
    )
    if not any(out_dir.glob("binlog.*")):
        bs.generate_binlog_from_events(
            sf_dir, str(out_dir), gtid=True, prev_gtids=True,
            checksum="crc32",
        )
    register_binlog_source(spark)
    fixture = str(out_dir)
    tmax = (
        spark.read.format("mysql_binlog")
        .option("columns", "ts")
        .load(fixture)
        .agg(F.max("ts"))
        .collect()[0][0]
    )
    k = ((tmax + 1) * 6) // 10
    env = (
        spark.read.format("mysql_binlog")
        .option("since_gtid", f"{bs.GTID_SID}:1-{k}")
        .load(fixture)
    )
    return (
        env.filter(
            F.col("op").isin(
                "gtid", "query", "table_map",
                "write_rows", "update_rows", "delete_rows", "xid",
            )
        )
        .groupBy("op")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@register(
    "cdc_ds_gtid_handoff",
    """
SELECT '3e11fa47-71ca-11e1-9e33-c80aa9429562:1-'
       || CAST(MAX(event_id) + 1 AS VARCHAR) AS executed
FROM events
""".strip(),
)
def cdc_ds_gtid_handoff(spark, sf_dir):
    """The GTID handoff closing the failover loop: after a scan, the
    consumer records the directory's executed set
    (binlog_source.executed_gtid_set — the newest PREVIOUS_GTIDS
    snapshot ∪ the GTID events after it, so the walk is bounded by
    ONE file regardless of history) and passes it to since_gtid= on
    the next scan, wherever that log now lives.  The oracle derives
    the canonical text closed-form (single sid, gno = event_id + 1,
    so the set is one dense interval 1..max+1).  Driver-side by
    design — the executed set is an O(one-file) metadata read, not a
    distributed computation."""
    import pathlib

    from mysql_cdc_spark.sources import binlog_source as bs

    out_dir = (
        pathlib.Path(_STREAM_TMP)
        / f"binlog_gtidset_{_sf_tag(sf_dir)}_v{_FIXTURE_VERSION}"
    )
    if not any(out_dir.glob("binlog.*")):
        bs.generate_binlog_from_events(
            sf_dir, str(out_dir), gtid=True, prev_gtids=True,
            checksum="crc32",
        )
    from mysql_cdc_spark.sources.binlog_codec import gtid_set_text

    text = gtid_set_text(bs.executed_gtid_set(str(out_dir)))
    return spark.createDataFrame([(text,)], "executed string")


_FAILOVER_ORACLE = (
    'SELECT op, db, tbl, xid, "sql", before_id, before_val, before_word, '
    "after_id, after_val, after_word, thread_id, exec_time, error_code "
    f"FROM ({_BINLOG_GTID_ORACLE}) f"
)


@register("cdc_ds_gtid_failover", _FAILOVER_ORACLE)
def cdc_ds_gtid_failover(spark, sf_dir):
    """Cross-DIRECTORY GTID failover resume (r17 VERDICT #2): the
    consumer drains the OLD primary's log directory, records its
    executed set (binlog_source.executed_gtid_set), then resumes
    against the NEW primary's directory — whose file names restart at
    binlog.000000 and whose content OVERLAPS the old one (the promoted
    replica had replicated 40..60%% twice over) — with since_gtid=.
    File+pos resume is impossible here (same names, different bytes);
    the executed set is the whole reason GTID replication exists.

    Old primary: events [0, 60%%).  New primary: events [40%%, 100%%),
    renumbered files, first PREVIOUS_GTIDS snapshot = 1..40%% (what the
    replica had executed when its binlog began).  The resume must skip
    the 40-60%% overlap exactly — the oracle is the FULL corpus content
    (seq excluded: the two directories number files differently), so
    one duplicated or lost transaction fails the hash.  Purged-history
    (executed set older than the new primary's first snapshot) raises —
    pinned in tests/test_gtid_failover.py."""
    from mysql_cdc_spark.sources import binlog_source as bs
    from mysql_cdc_spark.sources.binlog_codec import gtid_set_text
    from mysql_cdc_spark.sources.binlog_datasource import (
        register_binlog_source,
    )

    dir_a, dir_b = _failover_dirs(sf_dir)
    register_binlog_source(spark)

    # the handoff: everything the consumer applied from the old primary
    executed = gtid_set_text(bs.executed_gtid_set(dir_a))

    ops = [
        "gtid", "query", "table_map",
        "write_rows", "update_rows", "delete_rows", "xid",
    ]

    def content(env):
        return env.filter(F.col("op").isin(ops)).select(
            "op", "db", "tbl", "xid", "sql",
            F.element_at("before", "id").cast("bigint").alias("before_id"),
            F.element_at("before", "val").alias("before_val"),
            F.element_at("before", "word").alias("before_word"),
            F.element_at("after", "id").cast("bigint").alias("after_id"),
            F.element_at("after", "val").alias("after_val"),
            F.element_at("after", "word").alias("after_word"),
            "thread_id", "exec_time", "error_code",
        )

    old = spark.read.format("mysql_binlog").load(dir_a)
    resumed = (
        spark.read.format("mysql_binlog")
        .option("since_gtid", executed)
        .load(dir_b)
    )
    return content(old).unionByName(content(resumed))


@register(
    "cdc_ds_failover_state",
    """
WITH ev AS (
  SELECT event_id,
         CASE WHEN user_id % 2 = 0 THEN 'foo' ELSE 'bench' END AS db,
         CASE WHEN user_id % 2 = 0 THEN 'auto' ELSE 'big' END AS tbl,
         CAST(event_id % 97 AS BIGINT) AS id,
         CASE WHEN event_type IN ('signup','purchase') THEN 'insert'
              WHEN event_type IN ('click','view') THEN 'update'
              ELSE 'delete' END AS op,
         printf('%d.%04d', event_id % 100000, event_id % 10000) AS val
  FROM events
)
SELECT db, tbl, id, value FROM (
  SELECT db, tbl, id,
         CASE WHEN op = 'delete' THEN NULL ELSE val END AS value, op,
         ROW_NUMBER() OVER (PARTITION BY db, tbl, id ORDER BY event_id DESC) AS rn
  FROM ev
) WHERE rn = 1 AND op <> 'delete'
""".strip(),
)
def cdc_ds_failover_state(spark, sf_dir):
    """THE production CDC consumer story end-to-end, across a primary
    FAILOVER: maintain a queryable latest-state table from the old
    primary's log, hand off the executed GTID set, resume the new
    primary's directory (file names reset, 40-60%% content overlap)
    with since_gtid=, and keep MERGING into the same StateTable.  The
    oracle is the logical full-history latest state — one duplicated,
    lost, or stale-resurrected key in the overlap fails the hash.
    Image versions carry a (generation, local_order) pair because byte
    offsets do not order across directories (envelope_to_rows'
    generation= — the stale-overlap failure without it is pinned by
    tests/test_failover_state.py).  as_of_offset is deliberately
    excluded from the result: it encodes consumer-side epoch
    arithmetic, not source facts."""
    import pathlib

    from mysql_cdc_spark.operators.state_table import (
        StateTable,
        envelope_to_rows,
    )
    from mysql_cdc_spark.queries._shared import _gc_scratch, _scratch_name
    from mysql_cdc_spark.sources import binlog_source as bs
    from mysql_cdc_spark.sources.binlog_codec import gtid_set_text
    from mysql_cdc_spark.sources.binlog_datasource import (
        register_binlog_source,
    )

    dir_a, dir_b = _failover_dirs(sf_dir)
    register_binlog_source(spark)

    _gc_scratch(_STREAM_TMP, "fostate")
    name = _scratch_name("fostate")
    state = StateTable(str(pathlib.Path(_STREAM_TMP) / name), name, n_buckets=8)

    # generation 0: the old primary's full log
    state.merge_batch(
        envelope_to_rows(
            spark.read.format("mysql_binlog").load(dir_a), generation=0
        ),
        0,
    )
    # the handoff, then generation 1: the new primary, exactly-once
    executed = gtid_set_text(bs.executed_gtid_set(dir_a))
    state.merge_batch(
        envelope_to_rows(
            spark.read.format("mysql_binlog")
            .option("since_gtid", executed)
            .load(dir_b),
            generation=1,
        ),
        1,
    )
    return state.current(spark).select("db", "tbl", "id", "value")


@register(
    "cdc_state_typed_tables",
    """
WITH ev AS (
  SELECT event_id,
         CASE WHEN user_id % 2 = 0 THEN 'foo' ELSE 'bench' END AS db,
         CAST(event_id % 97 AS BIGINT) AS id,
         CASE WHEN event_type IN ('signup','purchase') THEN 'insert'
              WHEN event_type IN ('click','view') THEN 'update'
              ELSE 'delete' END AS op,
         printf('%d.%04d', event_id % 100000, event_id % 10000) AS val,
         CASE WHEN event_id % 10 = 0 THEN NULL
              ELSE event_type END AS word
  FROM events
), latest AS (
  SELECT db, id, val, word, op FROM (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY db, id ORDER BY event_id DESC) AS rn
    FROM ev
  ) WHERE rn = 1 AND op <> 'delete'
)
SELECT 'auto' AS tbl, id,
       CAST(CAST(val AS DECIMAL(12,4)) AS VARCHAR) AS val_dec,
       CAST(NULL AS DOUBLE) AS val_dbl, word
FROM latest WHERE db = 'foo'
UNION ALL
SELECT 'big' AS tbl, id, CAST(NULL AS VARCHAR) AS val_dec,
       CAST(val AS DOUBLE) AS val_dbl, CAST(NULL AS VARCHAR) AS word
FROM latest WHERE db = 'bench'
""".strip(),
)
def cdc_state_typed_tables(spark, sf_dir):
    """GENERALIZED consumer (r18 VERDICT #2): one byte-envelope scan
    maintains TWO StateTables of DIFFERENT schemas — foo.auto as
    (id) → (val DECIMAL(12,4), word STRING) and bench.big as
    (id) → (val DOUBLE) — through the typed bridge
    envelope_to_typed_rows (per-table keys, typed payloads, the
    delete+insert split for key-changing updates).  Each table's
    pointer records its own keys/value_cols/col_types; the oracle is
    the typed latest-state replay of both tables, so one mistyped
    cast, lost key, or cross-table leak fails the hash.  The result
    is a presentation union of the two differently-shaped tables
    (NULL-padded columns); the SIGKILL twin of this path is
    tests/test_state_sigkill.py::test_sigkill_multi_table_*."""
    import pathlib

    from mysql_cdc_spark.operators.state_table import (
        StateTable,
        envelope_to_typed_rows,
    )
    from mysql_cdc_spark.queries._shared import _gc_scratch, _scratch_name

    log_dir = _ds_fixture(spark, sf_dir)
    _gc_scratch(_STREAM_TMP, "typedtbl")
    name = _scratch_name("typedtbl")
    root = pathlib.Path(_STREAM_TMP) / name
    auto = StateTable(
        str(root / "auto"), name + "_auto", n_buckets=8, keys=("id",)
    )
    big = StateTable(
        str(root / "big"), name + "_big", n_buckets=8, keys=("id",)
    )
    # persist(): both merge_batch actions evaluate a typed bridge over
    # this scan — uncached, the byte envelope is DataSource-decoded
    # once per table (r19; N tables would decode N times).  Narrowed
    # to the columns the bridge reads so the cache holds no payloads
    # it doesn't need.
    env = (
        spark.read.format("mysql_binlog")
        .load(log_dir)
        .select(
            "offset", "log_file", "row_idx", "db", "tbl", "op",
            "before", "after",
        )
        .persist()
    )
    try:
        auto.merge_batch(
            envelope_to_typed_rows(
                env,
                {"id": "bigint"},
                {"val": "decimal(12,4)", "word": "string"},
                table=("foo", "auto"),
            ),
            0,
        )
        big.merge_batch(
            envelope_to_typed_rows(
                env, {"id": "bigint"}, {"val": "double"},
                table=("bench", "big"),
            ),
            0,
        )
    finally:
        env.unpersist()
    # presentation: the DECIMAL column hashes as its exact string
    # rendering (both engines print scale-4 decimals identically;
    # DuckDB's pandas bridge would otherwise degrade DECIMAL to
    # float64) — the STORED column stays DECIMAL(12,4), which is the
    # claim under test (ptr col_types assert below)
    assert auto.committed()["col_types"]["val"] == "DECIMAL(12,4)"
    a = auto.current(spark).select(
        F.lit("auto").alias("tbl"),
        "id",
        F.col("val").cast("string").alias("val_dec"),
        F.lit(None).cast("double").alias("val_dbl"),
        "word",
    )
    b = big.current(spark).select(
        F.lit("big").alias("tbl"),
        "id",
        F.lit(None).cast("string").alias("val_dec"),
        F.col("val").alias("val_dbl"),
        F.lit(None).cast("string").alias("word"),
    )
    return a.unionByName(b)


@register(
    "cdc_stream_state_schema_evo",
    """
WITH ev AS (
  SELECT event_id,
         CAST(event_id % 97 AS BIGINT) AS id,
         printf('%d.%04d', event_id % 100000, event_id % 10000) AS val,
         ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS k,
         COUNT(*) OVER () AS n
  FROM events
), typed AS (
  SELECT event_id, id, val,
         CASE WHEN k >= n // 2 AND event_id % 10 <> 0
              THEN CAST(event_id % 1000 AS BIGINT) END AS score
  FROM ev
)
SELECT id, val, score FROM (
  SELECT id, val, score,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY event_id DESC) AS rn
  FROM typed
) WHERE rn = 1
""".strip(),
)
def cdc_stream_state_schema_evo(spark, sf_dir):
    """Schema evolution THROUGH the StateTable (r18 VERDICT #5): the
    log ALTERs mid-stream and the maintained latest-state table
    WIDENS.  The sevo byte fixture (lab.acct: (id, val), a mid-log
    ALTER adds score, binlog_row_metadata=FULL TLVs so decode is
    catalog-free) is delivered in two stream runs over one checkpoint:
    run 1 ends at the ALTER frame's byte offset (the directory is
    staged truncated there), run 2 appends the rest — so the widening
    arrives in a LATER micro-batch of a resumed stream, exactly the
    production shape.  The consumer derives each batch's value
    columns from the after-image keys actually present (pre-ALTER
    batches build the narrow delta; post-ALTER batches carry score and
    the StateTable NULL-backfills history).  Mid-gate asserts pin that
    run 1 really committed the NARROW schema; the oracle is the typed
    full-history latest state with score NULL for pre-ALTER winners."""
    import pathlib
    import shutil

    from mysql_cdc_spark.operators.state_table import (
        StateTable,
        envelope_to_typed_rows,
    )
    from mysql_cdc_spark.queries._shared import _gc_scratch, _scratch_name
    from mysql_cdc_spark.sources import binlog_source as bs
    from mysql_cdc_spark.sources.binlog_codec import (
        decode_binlog_incremental,
    )
    from mysql_cdc_spark.sources.binlog_datasource import (
        register_binlog_source,
    )

    sevo_dir = pathlib.Path(_STREAM_TMP) / (
        f"binlog_sevo_{pathlib.Path(sf_dir).name}_v{_FIXTURE_VERSION}"
    )
    if not any(sevo_dir.glob("binlog.*")):
        bs.generate_schema_evo_binlog(sf_dir, str(sevo_dir))
    register_binlog_source(spark)

    _gc_scratch(_STREAM_TMP, "sevostate")
    name = _scratch_name("sevostate")
    root = pathlib.Path(_STREAM_TMP) / name
    src = root / "src"
    src.mkdir(parents=True)
    state = StateTable(str(root / "state"), name, n_buckets=8, keys=("id",))
    cp = str(root / "cp")

    # stage 1: every file before the ALTER, plus the ALTER's file
    # truncated at the ALTER frame's start (a clean frame boundary)
    files = sorted(sevo_dir.glob("binlog.*"))
    alter_file, alter_off = None, None
    for p in files:
        data = p.read_bytes()
        events, _, _, _ = decode_binlog_incremental(
            data, 4, None, {}, on_error="quarantine", only_ops=frozenset()
        )
        for ev in events:
            if ev.get("op") == "query" and (
                ev.get("sql") or ""
            ).startswith("ALTER"):
                alter_file, alter_off = p, ev["offset"]
                break
        if alter_file is not None:
            break
    assert alter_file is not None, "sevo fixture lost its ALTER event"
    for p in files:
        if p.name < alter_file.name:
            shutil.copyfile(p, src / p.name)
    (src / alter_file.name).write_bytes(
        alter_file.read_bytes()[:alter_off]
    )

    TYPES = {"val": "string", "score": "bigint"}

    def merge(batch, batch_id):
        # Filter to THIS table before probing, and persist across the
        # probe + merge so the batch's decode lineage runs once, not
        # twice.  The probe coalesces after|before images: a
        # delete-only micro-batch carries keys ONLY in before-images
        # (after is NULL on delete_rows) — probing `after` alone
        # would silently drop its tombstones.
        rows = batch.filter(
            (F.col("db") == "lab") & (F.col("tbl") == "acct")
        ).persist()
        try:
            present = {
                r[0]
                for r in rows.select(
                    F.explode(F.map_keys(F.coalesce("after", "before")))
                ).distinct().collect()
            }
            vals = {c: t for c, t in TYPES.items() if c in present}
            if not vals:
                return  # batch with no row images for this table
            state.merge_batch(
                envelope_to_typed_rows(
                    rows, {"id": "bigint"}, vals, table=("lab", "acct")
                ),
                batch_id,
            )
        finally:
            rows.unpersist()

    def drain():
        q = (
            spark.readStream.format("mysql_binlog")
            .load(str(src))
            .writeStream.foreachBatch(merge)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(1800):
            q.stop()
            raise RuntimeError("cdc_stream_state_schema_evo: drain timed out")

    try:
        drain()
        # run 1 committed the NARROW table — the widening really is
        # a later-batch event, not a first-batch accident
        assert state.committed()["value_cols"] == ["val"], (
            state.committed()["value_cols"]
        )
        # the ALTER + post-ALTER rows land; the stream resumes the
        # same checkpoint mid-file
        for p in files:
            if p.name >= alter_file.name:
                shutil.copyfile(p, src / p.name)
        drain()
    finally:
        shutil.rmtree(cp, ignore_errors=True)
    ptr = state.committed()
    assert ptr["value_cols"] == ["val", "score"], ptr["value_cols"]
    assert ptr["col_types"]["score"] == "BIGINT"
    return state.current(spark).select("id", "val", "score")


@register(
    "cdc_state_lifecycle",
    """
WITH ev AS (
  SELECT event_id,
         CASE WHEN user_id % 2 = 0 THEN 'foo' ELSE 'bench' END AS db,
         CAST(event_id % 97 AS BIGINT) AS id,
         CASE WHEN event_type IN ('signup','purchase') THEN 'insert'
              WHEN event_type IN ('click','view') THEN 'update'
              ELSE 'delete' END AS op,
         printf('%d.%04d', event_id % 100000, event_id % 10000) AS val,
         CASE WHEN event_id % 10 = 0 THEN NULL
              ELSE event_type END AS word
  FROM events
)
SELECT id, val, word FROM (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY db, id ORDER BY event_id DESC) AS rn
  FROM ev
) WHERE rn = 1 AND op <> 'delete' AND db = 'foo'
""".strip(),
)
def cdc_state_lifecycle(spark, sf_dir):
    """StateTable LIFECYCLE under a live stream (r19): the maintained
    table survives a mid-stream REBUCKET migration (8 → 16) and a
    mid-stream checkpoint-watermark COMPACTION with merges continuing
    after both — the two operations a long-lived deployment performs
    while its consumer keeps running, under the external hash gate
    instead of unit tests alone.

    The byte log is delivered in three stream runs over ONE
    checkpoint (staged by byte truncation at decoded frame
    boundaries, so it works at any file count — sf0.001's fixture is
    a single file): run 1 commits ~1/3 of the first file, then
    ``rebucket(16)`` migrates the layout; run 2 resumes MID-FILE into
    the re-bucketed table, then ``compact_to_checkpoint`` drops
    tombstones below the watermark the checkpoint itself proves safe
    (checkpoint_safe_watermark — the committed low-water mark,
    computed not hand-supplied); run 3 delivers the rest.  Mid-gate
    asserts pin that the rebucket really committed (pointer
    n_buckets), the compaction really dropped tombstones (raw count
    decreases), and ≥3 micro-batches ran; the oracle is the typed
    full-history latest state of foo.auto — equality proves neither
    rewrite lost or duplicated a row and post-migration merges
    converge exactly."""
    import pathlib
    import shutil

    from mysql_cdc_spark.operators.state_table import (
        StateTable,
        envelope_to_typed_rows,
    )
    from mysql_cdc_spark.queries._shared import _gc_scratch, _scratch_name
    from mysql_cdc_spark.sources.binlog_codec import (
        decode_binlog_incremental,
    )

    log_dir = pathlib.Path(_ds_fixture(spark, sf_dir))
    files = sorted(log_dir.glob("binlog.*"))
    first = files[0].read_bytes()
    events, _, _, _ = decode_binlog_incremental(
        first, 4, None, {}, on_error="quarantine", only_ops=frozenset()
    )
    # frame-boundary cut points at ~1/3 and ~2/3 of the first file
    cut1 = events[len(events) // 3]["offset"]
    cut2 = events[(2 * len(events)) // 3]["offset"]
    assert 4 < cut1 < cut2 < len(first), (cut1, cut2, len(first))

    _gc_scratch(_STREAM_TMP, "lifecycle")
    name = _scratch_name("lifecycle")
    root = pathlib.Path(_STREAM_TMP) / name
    src = root / "src"
    src.mkdir(parents=True)
    state = StateTable(str(root / "state"), name, n_buckets=8, keys=("id",))
    cp = str(root / "cp")

    def merge(batch, batch_id):
        state.merge_batch(
            envelope_to_typed_rows(
                batch,
                {"id": "bigint"},
                {"val": "string", "word": "string"},
                table=("foo", "auto"),
            ),
            batch_id,
        )

    def drain():
        q = (
            spark.readStream.format("mysql_binlog")
            .load(str(src))
            .writeStream.foreachBatch(merge)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(1800):
            q.stop()
            raise RuntimeError("cdc_state_lifecycle: drain timed out")

    try:
        (src / files[0].name).write_bytes(first[:cut1])
        drain()
        assert state.committed() is not None, "run 1 committed nothing"
        assert state.committed()["n_buckets"] == 8
        assert state.rebucket(spark, 16)
        assert state.committed()["n_buckets"] == 16

        (src / files[0].name).write_bytes(first[:cut2])
        drain()  # resumes MID-FILE into the re-bucketed table
        tombs_before = (
            state.current_raw(spark).filter(F.col("is_deleted")).count()
        )
        assert state.compact_to_checkpoint(spark, cp), (
            "no committed batch to compact to"
        )
        tombs_after = (
            state.current_raw(spark).filter(F.col("is_deleted")).count()
        )
        assert tombs_after < tombs_before, (tombs_before, tombs_after)

        for p in files:
            shutil.copyfile(p, src / p.name)
        drain()  # the rest of the log, post-rebucket + post-compact
    finally:
        shutil.rmtree(cp, ignore_errors=True)
    assert state.committed()["batch_id"] >= 2, state.committed()
    return state.current(spark).select("id", "val", "word")
