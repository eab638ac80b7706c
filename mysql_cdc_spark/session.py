"""Tuned SparkSession builder.

Defaults are chosen for the local[32] test harness but the same knobs
are the ones that matter on a real cluster: AQE (runtime re-planning,
skew-join splitting, partition coalescing) and a shuffle-partition
count sized to the parallelism at hand.  At 100 TB you would raise
``spark.sql.shuffle.partitions`` (or let AQE coalesce from a high
initial number) and rely on the same declarative plans.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(env_value: str | None, phys_bytes: int) -> str:
    """`spark.driver.memory`: ``$SPARK_DRIVER_MEM`` when set, else the
    smaller of 16g and half of physical RAM.  A flat 16g is all the RAM
    of a 16 GB host, where a full sf0.1 correctness sweep's driver got
    OOM-killed."""
    if env_value:
        return env_value
    return f"{min(16 << 30, phys_bytes // 2) >> 20}m"


def get_spark(app_name: str = "mysql-cdc-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime partition coalescing + skew-join handling. On a
        # 1000-executor cluster this is what keeps a skewed CDC key or a
        # hot dedup band from stalling a stage.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        # Input-split sizing: 128 MiB splits keep scan tasks uniform; at
        # 100 TB that is ~800k splits — raise alongside executor count
        # so task count stays ~2-3× total cores.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Arrow for any pandas-UDF path (similarity / multimodal).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Catalyst filter pushdown into Python data sources (the
        # mysql_binlog DataSource maps db/tbl/op filters onto the
        # codec's filter-before-decode skip and log_file filters onto
        # driver-side file pruning).
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Driver fixtures store ns-precision timestamps; read them as raw
        # int64 everywhere (sources/io.py converts with exact `div 1000`).
        # Set once here so per-read code never mutates session config.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Fixtures also carry naive us-precision timestamps; read them as
        # TimestampType (session tz = UTC, values unchanged) rather than
        # TIMESTAMP_NTZ so the envelope schema is stable across fixture
        # precision changes.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            driver_memory(
                os.environ.get("SPARK_DRIVER_MEM"),
                os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"),
            ),
        )
    )
    return builder.getOrCreate()


def scale_profile(input_bytes: int, cores: int) -> dict[str, str]:
    """Shuffle/scan sizing as a function of input size and total cores —
    the cluster-scale story made explicit instead of local[32] defaults.

    Rules (standard public Spark sizing guidance, parameterized):

    - **Scan splits** (`spark.sql.files.maxPartitionBytes`): 128 MiB
      uniform splits, shrunk when the input is too small to give every
      core ≥2 scan tasks (avoids idle cores at small SF), floored at
      4 MiB so tiny fixtures don't explode into thousands of splits.
    - **Shuffle partitions**: sized so one shuffle partition holds
      ~128 MiB of input-proportional data, clamped to [2*cores, 200k];
      at 100 TB / 1000 executors this lands ~800k→clamped 200k and AQE
      coalesces down, which is the recommended high-initial +
      runtime-coalesce pattern.
    - **initialPartitionNum**: 2× the input-sized shuffle partitions
      (min 4× cores).  AQE can only MERGE post-shuffle partitions,
      never split them, and it sizes by each exchange's INPUT bytes —
      so a stage whose in-stage work is amplified past its shuffle
      input (a pair-producing join feeding a partial aggregate: the
      r12 x100 sweep measured jaccard's agg state at ~17× its shuffle
      input, spilling 26 GB under input-sized partitioning) is
      under-partitioned unless the initial count carries headroom.
      The multiplier is deliberately modest: an 8× initial (measured,
      x100) pushed every map stage past
      `spark.shuffle.sort.bypassMergeThreshold` (200), switching the
      shuffle writer from per-partition streaming files to the
      buffering sort writer — +15-25% wall on NON-amplified queries
      and spurious writer-side spill accounting.  2× keeps ordinary
      stages on the bypass writer while the 16 MiB advisory below
      still fans the amplified agg stages out to ~advisory-sized
      tasks (the actual spill fix).
    - **AQE advisory size** (`advisoryPartitionSizeInBytes`): 16 MiB
      of compressed shuffle bytes — the post-shuffle target AQE
      coalesces toward.  16 MiB compressed unpacks to ~100-200 MB of
      per-task operator state on agg-heavy stages, inside a fair
      per-task share of executor memory; 64 MiB was measured to push
      hash aggregates into sort-spill fallback at x100.

    All keys are runtime-settable SQL confs, so the profile can be
    applied to a live session (``apply_scale_profile``) — no rebuild.
    """
    mib = 1 << 20
    target_split = 128 * mib
    # ≥2 scan tasks per core when the data is small; 128 MiB otherwise.
    split = max(4 * mib, min(target_split, input_bytes // (2 * cores) or 4 * mib))
    shuffle_parts = max(2 * cores, min(200_000, (input_bytes + target_split - 1) // target_split))
    initial_parts = min(200_000, max(2 * shuffle_parts, 4 * cores))
    return {
        "spark.sql.files.maxPartitionBytes": str(int(split)),
        "spark.sql.shuffle.partitions": str(int(shuffle_parts)),
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(int(initial_parts)),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(16 * mib),
    }


def apply_scale_profile(spark: SparkSession, input_bytes: int, cores: int | None = None) -> dict[str, str]:
    """Apply ``scale_profile`` to a live session; returns what was set."""
    if cores is None:
        cores = spark.sparkContext.defaultParallelism
    prof = scale_profile(input_bytes, cores)
    for k, v in prof.items():
        spark.conf.set(k, v)
    return prof
