"""Scale-stress evidence beyond the provided fixtures: replicate the
sf0.1 events table K× (shifting event_id/user_id per copy so keys stay
unique and ordering properties hold) and time the headline CDC queries
on the result — ~4M envelope events at K=10.

Usage: python tools/scale_stress.py [K]
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

BASE = "/root/testdata/sf0.1"
SCRATCH = str(Path(__file__).resolve().parent.parent / ".stream_tmp" / "stress")


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10

    from pyspark.sql import functions as F

    from mysql_cdc_spark.queries import QUERIES
    from mysql_cdc_spark.session import get_spark
    from mysql_cdc_spark.sources.io import read_table

    spark = get_spark("stress")
    spark.sparkContext.setLogLevel("ERROR")

    out = Path(SCRATCH) / f"events_x{k}"
    if not (out / "_SUCCESS").exists():
        ev = read_table(spark, BASE, "events")
        n = ev.count()
        copies = [
            ev.select(
                (F.col("event_id") + F.lit(i * n)).alias("event_id"),
                (F.col("ts") + F.expr(f"INTERVAL {i} DAYS")).alias("ts"),
                (F.col("user_id") + F.lit(i * 1_000_000)).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
            for i in range(k)
        ]
        big = copies[0]
        for c in copies[1:]:
            big = big.unionByName(c)
        # ts arrives as TimestampType here; the stress dir stores it as
        # int64 ns to mirror the driver fixtures read by read_table.
        big = big.withColumn("ts", F.unix_micros("ts") * 1000)
        big.repartition(8).write.mode("overwrite").parquet(str(out / "events.parquet"))

    sf_dir = str(out)
    names = ["cdc_envelope", "cdc_select_all", "cdc_update_sum",
             "cdc_latest_state", "cdc_txn_events"]
    for name in names:  # warm
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    walls = {}
    for name in names:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        walls[name] = round(best, 3)
    rows = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    print(json.dumps({"k": k, "source_rows": rows, "envelope_rows": rows * 4,
                      "walls": walls, "total": round(sum(walls.values()), 3)}))




# ---------------------------------------------------------------------------
# Dedup/ANN family soak: replicate documents+embeddings K× and confirm
# the banded-join designs stay near-linear (no bucket blowup).
# Usage: python tools/scale_stress.py dedup [K]
# ---------------------------------------------------------------------------

def _build_adversarial_corpus(spark, k: int) -> Path:
    """Near-dup-copy corpus: duplication DENSITY grows ~K× (every doc
    gains K-1 close neighbors), shared by dedup_soak and density_soak."""
    from pyspark.sql import functions as F

    out = Path(SCRATCH) / f"corpus_x{k}"
    if not (out / "_done").exists():
        docs = spark.read.parquet(f"{BASE}/documents.parquet")
        n_docs = docs.count()
        # Copies are PERTURBED (one extra leading token) so cross-copy
        # pairs are near-dups, not byte-dups: the realistic heavy case
        # for MinHash/Jaccard — shingle DF grows K×, exercising the
        # MAX_SHINGLE_DF cap, while every original doc gains K-1 close
        # neighbors.
        doc_copies = [
            docs.select(
                (F.col("doc_id") + F.lit(i * n_docs)).alias("doc_id"),
                (F.concat(F.lit(f"copyvariant{i} "), F.col("text"))
                 if i else F.col("text")).alias("text"),
                "lang", "source", "n_chars",
            )
            for i in range(k)
        ]
        big_docs = doc_copies[0]
        for c in doc_copies[1:]:
            big_docs = big_docs.unionByName(c)
        big_docs.repartition(8).write.mode("overwrite").parquet(
            str(out / "documents.parquet")
        )
        emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
        n_emb = emb.count()
        emb_copies = [
            emb.select(
                (F.col("vec_id") + F.lit(i * n_emb)).alias("vec_id"),
                "embedding", "label",
            )
            for i in range(k)
        ]
        big_emb = emb_copies[0]
        for c in emb_copies[1:]:
            big_emb = big_emb.unionByName(c)
        big_emb.repartition(8).write.mode("overwrite").parquet(
            str(out / "embeddings.parquet")
        )
        (out / "_done").touch()
    return out


def dedup_soak(k: int) -> None:
    from mysql_cdc_spark.queries import QUERIES
    from mysql_cdc_spark.session import get_spark

    spark = get_spark("stress-dedup")
    spark.sparkContext.setLogLevel("ERROR")

    sf_dir = str(_build_adversarial_corpus(spark, k))
    names = ["llm_dedup_minhash", "llm_dedup_jaccard", "llm_cross_dup",
             "llm_ann_lsh", "llm_knn"]
    walls = {}
    for name in names:
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        walls[name] = round(best, 3)
    print(json.dumps({
        "mode": "dedup_soak", "k": k,
        "docs": spark.read.parquet(f"{sf_dir}/documents.parquet").count(),
        "embeddings": spark.read.parquet(f"{sf_dir}/embeddings.parquet").count(),
        "walls": walls, "total": round(sum(walls.values()), 3),
    }))


# ---------------------------------------------------------------------------
# Organic soak: 10× DATA, not 10× duplication density — the sf1 growth
# profile.  Event copies shift keys/time (as in main()); document copies
# get a per-copy token suffix on EVERY word so cross-copy pairs are NOT
# near-duplicates (vocabulary grows K×, true-pair workload stays ~K×,
# unlike the adversarial dedup_soak); embedding copies are rotated by a
# per-copy scalar so they are distinct vectors.  Runs the full headline
# set + llm_dedup_jaccard and reports the wall ratio per 10× data.
# Usage: python tools/scale_stress.py organic [K]
# ---------------------------------------------------------------------------


def ensure_organic(spark, k: int) -> str:
    """Build (or reuse) the K× organic-growth fixture — K× DATA, not K×
    duplication density: events shift keys/time per copy, document
    copies get a per-copy token suffix on every word (vocabulary grows
    K×, cross-copy pairs are NOT near-dups), embeddings are rotated by
    a per-copy scalar.  Returns the fixture dir path."""
    from pyspark.sql import functions as F

    from mysql_cdc_spark.sources.io import read_table

    # Write timestamps as parquet timestamp[us], not INT96: pyarrow
    # reports INT96 as timestamp[ns], which would make read_table apply
    # its ns→us conversion to a column Spark already reads as TIMESTAMP.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

    out = Path(SCRATCH) / f"organic_x{k}"
    if not (out / "_done").exists():
        ev = read_table(spark, BASE, "events")
        n = ev.count()
        big = None
        for i in range(k):
            c = ev.select(
                (F.col("event_id") + F.lit(i * n)).alias("event_id"),
                (F.col("ts") + F.expr(f"INTERVAL {i} DAYS")).alias("ts"),
                (F.col("user_id") + F.lit(i * 1_000_000)).alias("user_id"),
                "event_type", "value", "props",
            )
            big = c if big is None else big.unionByName(c)
        # ts stays TimestampType (us) — read_table passes it through
        # unchanged, matching what the ts_*/sk_* queries expect; only
        # ns-typed parquet columns get the int64 conversion there.
        big.repartition(8).write.mode("overwrite").parquet(str(out / "events.parquet"))

        docs = spark.read.parquet(f"{BASE}/documents.parquet")
        n_docs = docs.count()
        big_docs = None
        for i in range(k):
            text = (
                F.col("text") if i == 0
                else F.regexp_replace(F.col("text"), r"(\w+)", rf"$1q{i}")
            )
            c = docs.select(
                (F.col("doc_id") + F.lit(i * n_docs)).alias("doc_id"),
                text.alias("text"), "lang", "source", "n_chars",
            )
            big_docs = c if big_docs is None else big_docs.unionByName(c)
        big_docs.repartition(8).write.mode("overwrite").parquet(
            str(out / "documents.parquet")
        )

        emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
        n_emb = emb.count()
        big_emb = None
        for i in range(k):
            c = emb.select(
                (F.col("vec_id") + F.lit(i * n_emb)).alias("vec_id"),
                F.transform(
                    "embedding", lambda x, i=i: x * (1.0 + i * 0.07) + i * 0.013
                ).alias("embedding"),
                "label",
            )
            big_emb = c if big_emb is None else big_emb.unionByName(c)
        big_emb.repartition(8).write.mode("overwrite").parquet(
            str(out / "embeddings.parquet")
        )
        (out / "_done").touch()
    return str(out)


def organic_soak(k: int) -> None:
    from mysql_cdc_spark.queries import HEADLINE, QUERIES
    from mysql_cdc_spark.session import get_spark

    spark = get_spark("stress-organic")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = ensure_organic(spark, k)
    # r9: the newest pair/scan operators ride along so every soak row
    # covers them (incremental LSH probe, span extraction, LM scoring,
    # LTTB argmax) alongside the headline set.
    names = list(HEADLINE) + [
        "llm_dedup_jaccard", "llm_incremental_neardup",
        "llm_dup_span_ranges", "llm_perplexity_filter",
        "ts_downsample_lttb", "llm_span_censor",
    ]
    walls = {}
    for name in names:
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        walls[name] = round(best, 3)

    base_walls = {}
    for name in names:  # same-session sf0.1 reference walls
        QUERIES[name](spark, BASE).write.format("noop").mode("overwrite").save()
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            QUERIES[name](spark, BASE).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        base_walls[name] = round(best, 3)

    print(json.dumps({
        "mode": "organic_soak", "k": k,
        "walls_sf0.1": base_walls, f"walls_{k}x": walls,
        "ratios": {n: round(walls[n] / base_walls[n], 2) for n in names},
        "total_sf0.1": round(sum(base_walls.values()), 3),
        f"total_{k}x": round(sum(walls.values()), 3),
    }))


# ---------------------------------------------------------------------------
# Adversarial DENSITY soak (VERDICT r9 #7): grow duplication density,
# not just size — every copy is a near-dup of the original (one extra
# leading token, the dedup_soak corpus), so true pair/span volume grows
# ~K× per doc while the corpus grows K×.  Runs the r9 span/censor/
# incremental family and reports walls AND output rows at base vs K:
# the caps (max_pairs_per_doc / max_matches_per_delta) must bound
# output growth, and walls must track output, when true dup volume —
# not data size — explodes.
# Usage: python tools/scale_stress.py density [K]
# ---------------------------------------------------------------------------


def density_soak(k: int) -> None:
    from mysql_cdc_spark.queries import QUERIES
    from mysql_cdc_spark.session import get_spark

    spark = get_spark("stress-density")
    spark.sparkContext.setLogLevel("ERROR")

    out = _build_adversarial_corpus(spark, k)

    names = [
        "llm_dup_span_ranges", "llm_span_censor",
        "llm_incremental_neardup", "llm_incremental_components",
        "llm_corpus_diff", "llm_refresh_pipeline",
    ]
    report = {}
    for sf_dir, tag in ((BASE, "base"), (str(out), f"{k}x")):
        for name in names:
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()   # warm
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                # noop WRITE, not count(): count() lets Catalyst prune
                # expensive output expressions (censor's clean_text),
                # understating the wall ~15x.
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            rows = QUERIES[name](spark, sf_dir).count()
            report.setdefault(name, {})[tag] = {
                "wall": round(best, 3), "rows": rows,
            }
    print(json.dumps({
        "mode": "density_soak", "k": k,
        "report": report,
        "ratios": {
            n: {
                "wall": round(r[f"{k}x"]["wall"] / r["base"]["wall"], 2),
                "rows": round(r[f"{k}x"]["rows"] / max(r["base"]["rows"], 1), 2),
            }
            for n, r in report.items()
        },
    }))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "dedup":
        dedup_soak(int(sys.argv[2]) if len(sys.argv) > 2 else 10)
    elif len(sys.argv) > 1 and sys.argv[1] == "organic":
        organic_soak(int(sys.argv[2]) if len(sys.argv) > 2 else 10)
    elif len(sys.argv) > 1 and sys.argv[1] == "density":
        density_soak(int(sys.argv[2]) if len(sys.argv) > 2 else 10)
    else:
        main()
