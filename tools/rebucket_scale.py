"""StateTable rebucket migration at scale (r18 VERDICT #3): build a
K-key state (default 10M) at n_buckets=256, measure

- trickle_before:  a 10-key incremental MERGE wall at 256 buckets
- rebucket_wall:   the full rebucket(1024) migration
- trickle_after:   the same 10-key MERGE wall at 1024 buckets
- files_before/after: parquet file counts (the small-file story)

The claim under test: the migration is a ONE-TIME full rewrite behind
the pointer swap, after which trickle merges keep their O(changed-
buckets) shape at the new count — and with 4x the buckets each touched
bucket is ~4x smaller, so the per-trickle rewrite wall should not
regress (it usually improves once buckets outgrow a task).

A second leg measures compact() at the same scale (r19): delete 10%
of the keys, run 10 trickle merges, then compact at a watermark above
the deletes — the wall of the one-time rewrite, the tombstones it
drops, and the trickle wall after it.  The file counts it records
settled a doc claim the wrong way: a version holds exactly one file
per bucket across the whole trickle chain (touched buckets REPLACE
their file, untouched hardlink theirs), so compact is tombstone GC,
not small-file GC.

Usage: python tools/rebucket_scale.py [K] [n_before] [n_after]
Output: one JSON line.
"""

from __future__ import annotations

import json
import shutil
import sys
import time
import uuid
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SCRATCH = Path(__file__).resolve().parent.parent / ".stream_tmp" / "rebucket_scale"


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_before = int(sys.argv[2]) if len(sys.argv) > 2 else 256
    n_after = int(sys.argv[3]) if len(sys.argv) > 3 else 1024

    from pyspark.sql import functions as F

    from mysql_cdc_spark.operators.state_table import StateTable
    from mysql_cdc_spark.session import get_spark

    spark = get_spark("rebucket-scale")
    spark.sparkContext.setLogLevel("ERROR")

    shutil.rmtree(SCRATCH, ignore_errors=True)
    name = f"rb_{uuid.uuid4().hex[:8]}"
    st = StateTable(str(SCRATCH / name), name, n_buckets=n_before)

    def batch(ids, offset_base):
        return (
            spark.range(*ids)
            .select(
                F.lit("d").alias("db"),
                F.lit("t").alias("tbl"),
                F.col("id"),
                (F.col("id") % 1000).cast("double").alias("value"),
                (F.col("id") + offset_base).alias("offset"),
                F.lit("update").alias("_delta_type"),
            )
        )

    out = {"metric": "rebucket_scale", "keys": k,
           "n_before": n_before, "n_after": n_after}

    t0 = time.time()
    st.merge_batch(batch((0, k), 0), 0)
    out["initial_load_sec"] = round(time.time() - t0, 2)

    def files():
        vdir = Path(st._vdir(st.committed()["version"]))
        return sum(1 for p in vdir.iterdir() if p.suffix == ".parquet")

    def trickle(bid, base):
        t0 = time.time()
        st.merge_batch(batch((0, 10), base), bid)
        return round(time.time() - t0, 2)

    out["trickle_before_sec"] = min(trickle(1, k), trickle(2, 2 * k))
    out["files_before"] = files()

    t0 = time.time()
    assert st.rebucket(spark, n_after) is True
    out["rebucket_sec"] = round(time.time() - t0, 2)
    out["files_after"] = files()

    out["trickle_after_sec"] = min(trickle(3, 3 * k), trickle(4, 4 * k))
    assert st.committed()["n_buckets"] == n_after
    n_live = st.current(spark).count()
    assert n_live == k, n_live

    # -- compact leg (r19): tombstone GC + file-count GC at scale ----
    n_del = k // 10
    deletes = (
        spark.range(0, n_del)
        .select(
            F.lit("d").alias("db"),
            F.lit("t").alias("tbl"),
            F.col("id"),
            F.lit(None).cast("double").alias("value"),
            (F.col("id") + 5 * k).alias("offset"),
            F.lit("delete").alias("_delta_type"),
        )
    )
    t0 = time.time()
    st.merge_batch(deletes, 5)
    out["delete_batch_sec"] = round(time.time() - t0, 2)
    for i in range(10):  # accumulate the hardlinked incremental chain
        st.merge_batch(batch((0, 10), (6 + i) * k), 6 + i)
    out["files_after_trickles"] = files()
    tombs = st.current_raw(spark).filter("is_deleted").count()
    t0 = time.time()
    assert st.compact(spark, watermark_offset=20 * k) is True
    out["compact_sec"] = round(time.time() - t0, 2)
    out["tombstones_dropped"] = tombs - (
        st.current_raw(spark).filter("is_deleted").count()
    )
    out["files_after_compact"] = files()
    out["trickle_after_compact_sec"] = min(
        trickle(16, 16 * k), trickle(17, 17 * k)
    )
    n_live = st.current(spark).count()
    # the 10 post-delete trickles re-upserted ids 0..9
    assert n_live == k - n_del + 10, n_live

    shutil.rmtree(SCRATCH, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
