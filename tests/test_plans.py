"""Plan-regression tests: the physical-plan properties PLANS.md claims
are asserted here, so an innocent refactor that silently de-optimizes a
headline query (drops a pushdown, adds a cartesian product, loses a
map-side partial) fails CI instead of surfacing in the next bench.
"""

from __future__ import annotations

import re
from collections import Counter

import pytest

from mysql_cdc_spark.queries import HEADLINE, QUERIES


@pytest.fixture(autouse=True)
def _no_cache_substitution(spark):
    """Other test modules cache fixture DataFrames; the CacheManager
    would substitute those cached (fully-computed) plans into the
    queries under inspection and mask the pruning/pushdown properties
    being asserted."""
    spark.catalog.clearCache()
    yield


def _plan(spark, sf_dir, name: str) -> str:
    return QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


HEADLINE_NAMES = [
    "cdc_envelope", "cdc_select_all", "cdc_update_sum",
    "cdc_latest_state", "cdc_txn_events", "llm_text_stats",
]


# Plan fingerprint of each bench headline query: operator counts in the
# pre-execution physical plan.  The counts read the same at local[4] and
# local[32], and at sf0.001 and sf0.1, so this pins the plan regressions
# (a new shuffle, a lost pushdown, a Python boundary) on any host, where
# a wall-clock floor could only discriminate on the host that recorded
# it.
_FP_NODES = frozenset({
    "Exchange", "BroadcastExchange",
    "BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
    "FileScan", "BatchScan", "InMemoryTableScan", "Window", "Generate",
    # Python-boundary execs
    "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas", "AggregateInPandas", "WindowInPandas",
    "ArrowEvalPython", "BatchEvalPython",
})
_NODE = re.compile(r"^[\s:+-]*(?:\*\(\d+\) )?(\w+)")

HEADLINE_FINGERPRINTS: dict[str, dict[str, int]] = {
    "cdc_envelope": {"FileScan": 1, "Exchange": 1, "Generate": 1},
    "cdc_select_all": {"FileScan": 1, "Generate": 2},
    "cdc_update_sum": {"FileScan": 1, "Exchange": 1},
    "cdc_latest_state": {"FileScan": 1, "Exchange": 1},
    "cdc_txn_events": {"FileScan": 1},
    # the cached signature table prints once per InMemoryTableScan
    "llm_dedup_minhash": {
        "FileScan": 3, "InMemoryTableScan": 3, "Exchange": 2,
        "BroadcastExchange": 2, "BroadcastHashJoin": 2, "Generate": 2,
        "Window": 3,
    },
    "llm_knn": {"FileScan": 1, "MapInArrow": 1, "Exchange": 1, "Window": 1},
    "llm_text_stats": {"FileScan": 1},
    "ts_asof_join": {
        "FileScan": 2, "pushed_scans": 2, "Exchange": 1, "Window": 1,
    },
    "ts_range_join": {
        "FileScan": 2, "pushed_scans": 2, "Exchange": 1,
        "BroadcastExchange": 1, "BroadcastHashJoin": 1, "Generate": 1,
    },
    "sk_hll_user_minutes": {"FileScan": 1, "Exchange": 2},
}


def _fingerprint(plan: str) -> dict[str, int]:
    fp: Counter[str] = Counter()
    for line in plan.splitlines():
        m = _NODE.match(line)
        if m and m.group(1) in _FP_NODES:
            fp[m.group(1)] += 1
            if "PushedFilters: [" in line and "PushedFilters: []" not in line:
                fp["pushed_scans"] += 1
    return dict(fp)


@pytest.mark.parametrize("name", HEADLINE)
def test_headline_plan_fingerprint(spark, sf_dir, name):
    want = dict(HEADLINE_FINGERPRINTS[name])
    if name == "cdc_envelope" and spark.sparkContext.defaultParallelism < 4:
        # the small-input rebalance fires only when the one-split
        # fixture is under half the parallelism (_rebalance_small_input)
        want.pop("Exchange")
    got = _fingerprint(_plan(spark, sf_dir, name))
    assert got == want, f"{name} plan fingerprint changed: {got}"


def test_no_cartesian_products_anywhere(spark, sf_dir):
    """The only nested-loop join allowed is the documented broadcast
    NLJ in the KNN scorer; plain CartesianProduct is always a bug."""
    for name in [*HEADLINE_NAMES, "llm_dedup_minhash", "llm_knn", "llm_dup_components",
                 "llm_incremental_neardup", "llm_perplexity_filter",
                 "ts_downsample_lttb", "llm_dup_span_ranges"]:
        assert "CartesianProduct" not in _plan(spark, sf_dir, name), name


def test_lttb_anchors_equijoin_not_forced(spark, sf_dir):
    """The bucket-anchor table joins back onto the point stream as a
    plain EQUI-join (hash or sort-merge — AQE's call, since anchors
    grow with series x time and must not be force-broadcast), never a
    nested loop."""
    plan = _plan(spark, sf_dir, "ts_downsample_lttb")
    assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    src = open("mysql_cdc_spark/operators/timeseries.py").read()
    import re
    seg = src[src.index("def lttb_downsample"):]
    assert not re.search(r"F\.broadcast\(\s*anchors", seg)


def test_incremental_components_skips_base_lsh_with_persisted_labels(
    spark, sf_dir, monkeypatch
):
    """With `base_labels` supplied (the persisted-index production
    shape), the incremental job must never generate base-corpus
    pairs: `minhash_lsh_pairs` runs exactly once (the delta-internal
    pass — incremental_neardup's probe has its own band builder), and
    the only connected-components run is over the tiny CONDENSED
    graph, not the base corpus.  This pins the docstring's 'O(delta +
    touched components)' claim at the API level — eager checkpoints
    inside duplicate_components make plan text blind to it."""
    from mysql_cdc_spark.operators import corpus, dedup
    from mysql_cdc_spark.queries import _docs

    lsh_calls, cc_calls = [], []
    orig_lsh, orig_cc = dedup.minhash_lsh_pairs, corpus.duplicate_components

    def spy_lsh(docs, *a, **k):
        lsh_calls.append(docs)
        return orig_lsh(docs, *a, **k)

    def spy_cc(docs, pairs=None, *a, **k):
        cc_calls.append(docs)
        return orig_cc(docs, pairs, *a, **k)

    monkeypatch.setattr(dedup, "minhash_lsh_pairs", spy_lsh)
    monkeypatch.setattr(corpus, "duplicate_components", spy_cc)

    docs = _docs(spark, sf_dir)
    base = docs.filter("doc_id % 10 != 0")
    delta = docs.filter("doc_id % 10 = 0")
    labels = orig_cc(base, orig_lsh(base)).localCheckpoint()
    lsh_calls.clear(); cc_calls.clear()

    out = corpus.incremental_components(base, delta, base_labels=labels)
    assert out.count() == docs.count()
    assert len(lsh_calls) == 1                # delta-internal only
    assert lsh_calls[0] is delta
    assert len(cc_calls) == 1                 # condensed graph only
    assert cc_calls[0] is not base and cc_calls[0] is not docs

    # And the registered query wires the persisted labels through a
    # materialization boundary (localCheckpoint → ExistingRDD scan).
    assert "ExistingRDD" in _plan(spark, sf_dir, "llm_incremental_components")


def test_incremental_neardup_skips_base_signing_with_persisted_index(
    spark, sf_dir, monkeypatch
):
    """With `base_index` supplied (dedup.build_lsh_index's output, the
    persisted-index production shape), the incremental probe must not
    re-shingle or re-sign the base corpus: minhash_signatures runs
    exactly once, on the delta."""
    from mysql_cdc_spark.operators import dedup
    from mysql_cdc_spark.queries import _docs

    docs = _docs(spark, sf_dir)
    base = docs.filter("doc_id % 10 != 0")
    delta = docs.filter("doc_id % 10 = 0")
    index = dedup.build_lsh_index(base).localCheckpoint()

    calls = []
    orig = dedup.minhash_signatures

    def spy(d, *a, **k):
        calls.append(d)
        return orig(d, *a, **k)

    monkeypatch.setattr(dedup, "minhash_signatures", spy)
    out = dedup.incremental_neardup(base, delta, base_index=index)
    assert out.count() > 0
    assert len(calls) == 1 and calls[0] is delta

    # Results identical to the in-job-index convenience form.
    monkeypatch.setattr(dedup, "minhash_signatures", orig)
    inline = dedup.incremental_neardup(base, delta)
    key = lambda r: (r["delta_id"], r["base_id"])
    assert sorted(map(key, out.collect())) == sorted(map(key, inline.collect()))


def test_span_censor_spans_join_not_forced(spark, sf_dir):
    """censor_dup_spans' spans side grows with duplicated-text volume;
    the join must be an un-hinted equi-join so AQE can shuffle it at
    scale."""
    import re
    src = open("mysql_cdc_spark/operators/dedup.py").read()
    seg = src[src.index("def censor_dup_spans"):]
    assert not re.search(r"F\.broadcast\(\s*spans", seg)
    plan = _plan(spark, sf_dir, "llm_span_censor")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_incremental_neardup_probes_index_by_band(spark, sf_dir):
    """Candidate generation must be the (band, band_hash) equi-join —
    never a nested-loop over the corpus."""
    plan = _plan(spark, sf_dir, "llm_incremental_neardup")
    assert "band" in plan and "BroadcastNestedLoopJoin" not in plan


def test_envelope_prunes_unused_expressions(spark, sf_dir):
    """Generator pruning (PLANS.md fix 1): a query that doesn't read
    log_file/sql must not compute format_string or the SQL-text
    concat."""
    plan = _plan(spark, sf_dir, "cdc_txn_events")
    assert "format_string" not in plan
    assert "INSERT INTO" not in plan


def test_aggregations_have_map_side_partials(spark, sf_dir):
    """Every shuffle aggregate combines before its exchange."""
    for name in ["cdc_update_sum", "cdc_count_changes", "cdc_latest_state"]:
        plan = _plan(spark, sf_dir, name)
        assert "partial_" in plan, name


def test_latest_state_is_single_shuffle_aggregate(spark, sf_dir):
    """State replay must stay max(struct) aggregation (O(1) state per
    key), not a row_number window (sorts every hot key's rows)."""
    plan = _plan(spark, sf_dir, "cdc_latest_state")
    assert "partial_max" in plan
    assert "row_number" not in plan


def test_knn_pushes_topk_before_exchange(spark, sf_dir):
    """Top-k must rank-limit on the map side (WindowGroupLimit
    Partial), not ship every scored pair."""
    plan = _plan(spark, sf_dir, "llm_knn")
    assert "WindowGroupLimit" in plan


def test_dim_join_broadcasts(spark, sf_dir):
    """The customer dimension join must broadcast, never shuffle the
    change stream."""
    plan = _plan(spark, sf_dir, "cdc_join_dim")
    assert "BroadcastHashJoin" in plan


def test_filters_reach_the_scan(spark, sf_dir):
    """Filter pushdown: a selective documents query must show pushed
    filters at the parquet scan."""
    from pyspark.sql import functions as F

    from mysql_cdc_spark.sources.io import read_table

    df = read_table(spark, sf_dir, "documents").filter(F.col("lang") == "en").select("doc_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "lang" in plan.split("PushedFilters")[1][:80]


def test_no_python_udfs_in_relational_paths(spark, sf_dir):
    """Text/dedup/CDC paths are JVM-side expressions; BatchEvalPython
    (row-at-a-time Python) must never appear.  (mapInPandas shows as
    ArrowEvalPython/MapInPandas and only in the multimodal/binlog
    paths.)"""
    for name in [*HEADLINE_NAMES, "llm_dedup_minhash", "llm_quality_score", "llm_lang_id"]:
        assert "BatchEvalPython" not in _plan(spark, sf_dir, name), name


def test_priority_semijoin_is_semi_not_inner(spark, sf_dir):
    """Q4 shape: the EXISTS must plan as a LeftSemi hash join (dedups
    while joining), never an inner join + distinct."""
    plan = _plan(spark, sf_dir, "sql_priority_semijoin")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_large_orders_broadcasts_reduced_side(spark, sf_dir):
    """Q18 shape: the HAVING-reduced orderkey set must broadcast onto
    the fact tables — no shuffle of orders."""
    plan = _plan(spark, sf_dir, "sql_large_orders")
    assert "BroadcastHashJoin" in plan


def test_idle_rich_customers_is_anti_join(spark, sf_dir):
    """Q22 shape: NOT EXISTS plans as LeftAnti."""
    plan = _plan(spark, sf_dir, "sql_idle_rich_customers")
    assert "LeftAnti" in plan


def test_hot_keys_aggregates_before_window(spark, sf_dir):
    """The window (total + rank) must run over the per-key aggregate,
    not the raw change log: the plan has a partial count first."""
    plan = _plan(spark, sf_dir, "cdc_hot_keys")
    assert "partial_count" in plan
    assert "row_number" in plan


def test_snapshot_split_uses_footer_stats_not_a_spark_job(spark, sf_dir):
    """VERDICT r8 #6: the snapshot-split queries derive their split
    offset from the parquet footer's event_id statistics — building
    the plan must run NO Spark job (no .collect scan of the log), and
    the footer-derived head must equal the scanned maximum."""
    from pyspark.sql import DataFrame

    from mysql_cdc_spark import queries as q
    from mysql_cdc_spark.queries import QUERIES, _head_offset

    head = _head_offset(spark, sf_dir)
    scanned = q._rows_dt(spark, sf_dir).agg(
        __import__("pyspark.sql.functions", fromlist=["max"]).max("offset")
    ).collect()[0][0]
    # rows_dt tops out at seq 2 (the rows event); the head is seq 3
    # (xid) — same split point after // 2 for every event count.
    assert head == scanned + 1
    assert head // 2 == int(scanned) // 2

    real_collect = DataFrame.collect
    def _no_collect(self):
        raise AssertionError("snapshot-split construction ran a Spark job")
    DataFrame.collect = _no_collect
    try:
        QUERIES["cdc_incremental_state"](spark, sf_dir)
        QUERIES["cdc_ivm_state_sum"](spark, sf_dir)
    finally:
        DataFrame.collect = real_collect


def test_head_offset_falls_back_when_footer_lacks_stats(spark, sf_dir, tmp_path):
    """A parquet written without column statistics must not break the
    snapshot split: _head_offset falls back to the Spark aggregate and
    returns the same head."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mysql_cdc_spark.queries import _head_offset

    src = pq.read_table(f"{sf_dir}/events.parquet")
    pq.write_table(src, str(tmp_path / "events.parquet"), write_statistics=False)
    with_stats = _head_offset(spark, sf_dir)
    # same data, no footer stats → must take the fallback path yet agree
    assert _head_offset(spark, str(tmp_path)) == with_stats


def test_media_dedup_caches_decoded_keys(spark, sf_dir):
    """The decoded key table feeds three DAG branches; without the
    cache the Python decode of the whole corpus runs 3x (the 20s->2s
    round-9 fix).  InMemoryRelation in the plan pins it."""
    from mysql_cdc_spark.functions import multimodal as mm

    df = mm.image_dedup(mm.synth_image_corpus(spark, sf_dir))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan


def test_hot_gram_paths_stay_codegen(spark, sf_dir):
    """Regression guard for the r10 expression-shape findings: the
    span/ngram gram hash must stay a post-explode top-level scalar
    (no higher-order lambda anywhere in the plan), and simhash must
    never re-grow its per-bit aggregate() fold (its one remaining
    transform is the legitimate array-valued shingle build)."""
    for name in ("llm_dup_span_ranges", "llm_top_ngrams"):
        plan = _plan(spark, sf_dir, name)
        assert "lambdafunction" not in plan.lower(), name
    simhash_plan = _plan(spark, sf_dir, "llm_simhash")
    assert "aggregate(" not in simhash_plan


def test_aqe_skew_join_split_fires(spark):
    """The engine's skew story is AQE splitting (session.py enables it;
    functions/skew.py salts the joins AQE can't reach).  This pins that
    the split actually FIRES on a hot key: one key owning ~90% of a
    sort-merge-joined fact side must show `SortMergeJoin(skew=true)` +
    an `AQEShuffleRead skewed` in the FINAL adaptive plan (thresholds
    lowered to fixture scale; detection logic itself is unchanged).
    Note the split only applies when downstream does not reuse the
    join's partitioning — the probe therefore has no same-key groupBy."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        fact = spark.range(120_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id") % 97).alias("k"),
            F.lpad(F.col("id").cast("string"), 64, "x").alias("payload"),
        )
        dim = spark.range(97).select(F.col("id").alias("k"), F.col("id").alias("dval"))
        j = fact.join(dim, "k")
        assert len(j.collect()) == 120_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_scale_profile_sizing_and_application(spark):
    """session.scale_profile sizes shuffle/scan confs from input bytes
    and cores (the cluster-scale config story, r10 VERDICT #7): 128 MiB
    scan splits shrunk so every core gets >=2 scan tasks at small SF,
    shuffle partitions ~input/128MiB clamped to [2*cores, 200k], and
    apply_scale_profile sets them on a LIVE session (all runtime-settable)."""
    from mysql_cdc_spark.session import apply_scale_profile, scale_profile

    mib = 1 << 20
    small = scale_profile(64 * mib, 32)       # sf0.1-ish
    assert int(small["spark.sql.files.maxPartitionBytes"]) == max(4 * mib, 64 * mib // 64)
    assert int(small["spark.sql.shuffle.partitions"]) == 64  # floor 2*cores

    # r13: initialPartitionNum carries 2x amplification headroom (AQE
    # can only merge, never split — the x100 jaccard agg spilled 26 GB
    # under input-sized initial partitioning; a larger 8x initial
    # pushed map stages past the bypass-merge writer threshold, costing
    # 15-25% on non-amplified queries) and advisory drops to 16 MiB
    # compressed so amplified agg stages stay inside per-task memory
    assert int(small["spark.sql.adaptive.coalescePartitions.initialPartitionNum"]) == 128
    assert int(small["spark.sql.adaptive.advisoryPartitionSizeInBytes"]) == 16 * mib

    big = scale_profile(100 * (1 << 40), 8000)  # the 100 TB target
    assert int(big["spark.sql.files.maxPartitionBytes"]) == 128 * mib
    assert int(big["spark.sql.shuffle.partitions"]) == 200_000  # clamped; AQE coalesces
    assert int(big["spark.sql.adaptive.coalescePartitions.initialPartitionNum"]) == 200_000

    mid = scale_profile(10 * (1 << 30), 32)   # 10 GiB on local[32]
    assert int(mid["spark.sql.files.maxPartitionBytes"]) == 128 * mib
    assert int(mid["spark.sql.shuffle.partitions"]) == 80  # ceil(10GiB/128MiB)
    assert int(mid["spark.sql.adaptive.coalescePartitions.initialPartitionNum"]) == 160

    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    old_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        applied = apply_scale_profile(spark, 10 * (1 << 30), cores=32)
        assert spark.conf.get("spark.sql.shuffle.partitions") == applied["spark.sql.shuffle.partitions"]
        assert spark.conf.get("spark.sql.files.maxPartitionBytes") == applied["spark.sql.files.maxPartitionBytes"]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_split)
        spark.conf.unset("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
