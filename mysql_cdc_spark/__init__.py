"""mysql_cdc_spark — a PySpark-native change-data-capture analytics engine.

A from-scratch rebuild of the capabilities of hoeck/mysql-cdc (a MySQL
binlog CDC reader with a streaming-SQL JDBC driver) on top of Apache
Spark — the change-event data model is a DataFrame, the query surface
is Spark SQL, the streaming runtime is Structured Streaming, the binlog
byte codec is pure Python behind a `binaryFile` + `mapInArrow` scan —
plus the LLM-training-data operators (dedup, similarity search, text
analysis, multimodal plumbing) a 100 TB pipeline needs.

Layout:
    model.py       — change-event envelope schemas + delta-type vocabulary
    session.py     — tuned SparkSession builder (AQE, Arrow, shuffle sizing)
    api.py         — JDBC-style driver surface (connection/statement/
                     cursor, batch + continuous streaming queries)
    queries/       — driver-facing registry: every operator as a
                     (spark, sf_dir) -> DataFrame with a DuckDB oracle,
                     split by domain (cdc/stream/binlog/llm/ts/sk/sql/
                     dq/mm) with the frozen registration order and the
                     rotation policy in _registry.py / rotation.py
    sources/
        events_cdc.py     — derived change-event stream (envelope + explode)
        io.py             — fixture readers (ns-timestamp handling)
        binlog_codec.py   — v4 binlog byte codec (D1-D12, packed decimal)
        binlog_source.py  — binaryFile + mapInArrow decode, fixture writer
    operators/
        query.py          — the reference's SQL surface (R1-R6, R10)
        relational.py     — joins/aggs/windows/set-ops (SURVEY §2.5),
                            gap-based sessionization
        transactions.py   — xid-boundary transaction assembly
        aggregates.py     — running/grouped aggregates, latest-state replay
        dedup.py          — exact / MinHash-LSH / SimHash / n-gram Jaccard
        similarity.py     — quantized-integer cosine KNN, LSH ANN, centroids
        corpus.py         — splits, length buckets, sequence packing,
                            duplicate-cluster connected components
        contamination.py  — benchmark-overlap scan (capped inverted index)
        linkage.py        — entity resolution (multi-pass blocking +
                            Levenshtein verify)
        graph.py          — fixed-iteration PageRank (integer fixed-point)
        timeseries.py     — as-of/range joins, rollups, OHLC, LTTB
        retrieval.py      — TF-IDF / BM25 / bigram LM
        sketches.py       — HLL / KMV / CMS / quantiles / Bloom
        bpe.py            — BPE merge training + greedy encode
        cursor.py         — forward-only ResultSet cursor (R9) + metadata
    functions/
        scan.py           — chunked distributed prefix scans
        text.py           — tokenization contract + text analysis
        pii.py            — PII detection + redaction (RE2-safe regexes)
        skew.py           — deterministic salted equi-join
        bucketing.py      — bucketed sinks (shuffle-free co-located joins)
        multimodal.py     — binary media columns through mapInPandas
        media_codecs.py   — pure-Python PNG / PCM-WAV codecs
    streaming/
        runtime.py        — file-stream CDC source over the events-table
                            log, checkpointed offsets, rotation,
                            backpressure, blocking cursor, foreachBatch
                            lifecycle
        binlog_tailer.py  — incremental real-byte tail (cdc-turn loop)
        push.py           — no-Spark push delivery + blocking cursors
        stateful.py       — streaming transaction assembler
                            (applyInPandasWithState, XID commit folding)
        schema_state.py   — streaming per-table schema-version fold
        latency.py        — end-to-end CDC latency decomposition bench
"""

from pathlib import Path

__version__ = "0.3.0"

# Scratch root for materialized fixtures, stream logs and checkpoints:
# `.stream_tmp` beside the package, in the checkout it was imported from.
STREAM_TMP = str(Path(__file__).resolve().parent.parent / ".stream_tmp")
