"""Similarity search over the `embeddings` table (array<float> column)
— brute-force cosine top-k as the exact baseline, sign-random-projection
LSH as the scale path, plus exact vector aggregation (centroids).

Engine-neutral exactness ("quantized-integer" contract, shared with the
DuckDB oracles):

  q_j = CAST(floor(CAST(x_j AS DOUBLE) * 1e6) AS BIGINT)

Dot products and squared norms over q are pure BIGINT arithmetic —
associative, order-independent, overflow-safe (|q| <= ~1e6, 64 dims →
dot <= ~6.4e13 << 2^63) — so every engine computes the identical
integer.  The ONLY floating-point steps are one multiply, one sqrt and
one divide at the very end (cosine = dot / sqrt(na*nb)), each a single
IEEE-754 operation on identical inputs → bit-identical doubles across
Spark and DuckDB.  No rounding, no tolerance.

Spark-plan shape:
- embeddings stay as ARRAY columns end-to-end; dot products are
  `zip_with` + `aggregate` (JVM codegen, no explode, no Python UDF);
- the query set is broadcast (it is small by construction); the corpus
  scan stays partition-parallel — per-partition local top-k first
  (window over (query, shard)), then a global top-k over the tiny
  shard-winner set: no single giant window partition;
- LSH candidates come from an equi-join on (band, bucket-key): never
  all-pairs.

The hyperplane weights are md5-derived integers computed once in
Python (hashlib) and embedded as literals in BOTH the Spark plan and
the generated oracle SQL — one definition, two engines.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

QUANT = 1_000_000
DIMS = 64
N_PLANES = 8
PLANES_PER_BAND = 4          # 2 bands of 4 sign bits → 16 buckets/band
DEFAULT_K = 5
DEFAULT_N_QUERIES = 10
NEARDUP_COS = 0.3
# IVF coarse-quantizer probe count, shared with the DuckDB oracles
# (queries/llm.py interpolates it).  2 -> 3 in r14: measured recall@5
# on the noisy-copies fixture 0.864 -> 0.916 (tools/ann_recall.py)
# for a 1.5x QUERY-side candidate fan-out only - the corpus side of
# the inverted-file join is untouched.
IVF_PROBES = 3
# near-dup candidate fan-out per (band, bucket) member — the ONE
# shared chain constant (see dedup.MAX_BAND_CHAIN for the measured
# derivation; r11's embedding-only value of 8 measured 0.87 pair
# recall vs 0.9986 at 32 on the adversarial interleaved fixture)
from mysql_cdc_spark.operators.dedup import MAX_BAND_CHAIN as CHAIN_WINDOW  # noqa: E402


def _weight(p: int, j: int) -> int:
    """Deterministic pseudo-random odd weight in [-15, 15] from md5 —
    reproducible in any engine/language (here: computed once, embedded
    as literals everywhere)."""
    d = int(hashlib.md5(f"{p}:{j}".encode()).hexdigest()[0], 16)
    return 2 * d - 15


WEIGHTS = [[_weight(p, j) for j in range(DIMS)] for p in range(N_PLANES)]

# Two extra md5-derived planes used ONLY as a within-bucket locality
# ORDER for chain-bounded candidates (r12): near-dup vectors have
# near-equal raw projections (|r·qa − r·qb| ≤ |r|·|qa−qb|) even when
# they straddle a bucketing hyperplane's SIGN — so sorting a hot
# bucket by the integer dot groups true neighbors into runs the chain
# window covers, which the bit-signature sort provably cannot
# (hot-bucket-only pairs differ in the other band's bits BY
# DEFINITION; measured: tools/chain_recall.py — bit-sig order left
# embedding pair recall at 0.21, projection order recovers it).
ORDER_PLANES = [[_weight(p, j) for j in range(DIMS)] for p in (N_PLANES, N_PLANES + 1)]


def quantized(emb: DataFrame) -> DataFrame:
    """Append the quantized integer vector `qv` and its squared norm
    `nq` (both exact BIGINT)."""
    return emb.selectExpr(
        "*",
        f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv",
    ).selectExpr("*", "aggregate(qv, 0L, (acc, v) -> acc + v * v) AS nq")


def _cosine(dot_col: str, na: str, nb: str) -> F.Column:
    return F.col(dot_col).cast("double") / F.sqrt(
        F.col(na).cast("double") * F.col(nb).cast("double")
    )


_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"


def _qv_matrix(col) -> "object":
    """pyarrow list<int64> column of one RecordBatch → (n, d) int64
    ndarray.  Fast path: uniform-length lists reshape the flat values
    buffer (zero row loop); ragged input falls back to to_pylist."""
    import numpy as np

    offs = col.offsets.to_numpy(zero_copy_only=False)
    widths = offs[1:] - offs[:-1]
    if len(widths) and (widths == widths[0]).all():
        flat = col.values.to_numpy(zero_copy_only=False)
        return np.asarray(flat, dtype=np.int64).reshape(len(widths), int(widths[0]))
    return np.array(col.to_pylist(), dtype=np.int64)


def knn(
    emb: DataFrame,
    n_queries: int = DEFAULT_N_QUERIES,
    k: int = DEFAULT_K,
    shards: int = 16,
) -> DataFrame:
    """Exact brute-force cosine top-k: the query set rides into a
    `mapInArrow` over the corpus scan, each task scores its partition
    with ONE int64 matrix multiply and emits only its per-partition
    top-k per query; a final window over the tiny survivor set
    (partitions × n_queries × k rows) picks the global top-k.

    r19 restructure (guide §4.2/§8 pattern: hand whole batches to
    vectorized native code, shuffle survivors not pairs).  The old
    form BroadcastNestedLoopJoin'd corpus × queries and pushed every
    scored pair through two window shuffles; per pair the zip_with +
    aggregate dot walked the arrays element-by-element in codegen.
    Now the n×m dot matrix is one exact numpy int64 matmul (the
    quantized-integer contract: associative, overflow-safe), cosine is
    the same two float64 ops applied elementwise, and ONLY
    per-partition winners reach the exchange.  Measured (6-rep
    interleaved A/B, sf0.1, construction included): 0.87→0.64 s min,
    1.06→0.77 s median, results row-identical.  At scale the win
    compounds: the shuffle carries O(partitions·m·k) rows instead of
    O(|corpus|·m) scored pairs.

    The query vectors are collected driver-side — n_queries is a small
    constant (bounded collect, same class as the centroid/codebook
    collects) — and shipped in the task closure.  `shards` is kept for
    signature compatibility; the per-partition top-k replaces the
    explicit shard stage.

    This is the exact baseline; at 100 TB the linear scan per query is
    the cost — use `ann_lsh` for the bucketed approximate path.
    """
    import numpy as np

    q = quantized(emb)
    qrows = sorted(
        q.filter(F.col("vec_id") < n_queries).select("vec_id", "qv", "nq").collect()
    )
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = (
        np.array([r[1] for r in qrows], dtype=np.int64)
        if qrows
        else np.zeros((0, 1), dtype=np.int64)
    )
    qn = np.array([r[2] for r in qrows], dtype=np.int64)

    def score(batches):
        import pyarrow as pa

        out_schema = pa.schema(
            [
                ("query_id", pa.int64()),
                ("neighbor_id", pa.int64()),
                ("cosine", pa.float64()),
            ]
        )
        if len(qids) == 0:
            return
        qn_f = qn.astype(np.float64)
        for batch in batches:
            nid = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            if len(nid) == 0:
                continue
            C = _qv_matrix(batch.column(1))
            cn_f = (
                batch.column(2).to_numpy(zero_copy_only=False).astype(np.int64)
            ).astype(np.float64)
            dots = C @ Q.T  # (n, m), exact int64 — same integers as zip_with/aggregate
            # cosine = double(dot) / sqrt(double(nq_q) * double(nq_c)):
            # identical IEEE op sequence to the _cosine expression.
            cos = dots.astype(np.float64) / np.sqrt(cn_f[:, None] * qn_f[None, :])
            qs, ns, cs = [], [], []
            for j in range(len(qids)):
                mask = nid != qids[j]
                cj, nj = cos[mask, j], nid[mask]
                if len(cj) == 0:
                    continue
                take = np.lexsort((nj, -cj))[:k]  # (cosine desc, neighbor asc)
                qs.append(np.full(len(take), qids[j], dtype=np.int64))
                ns.append(nj[take])
                cs.append(cj[take])
            if qs:
                yield pa.record_batch(
                    [np.concatenate(qs), np.concatenate(ns), np.concatenate(cs)],
                    schema=out_schema,
                )

    scored = q.select("vec_id", "qv", "nq").mapInArrow(
        score, "query_id long, neighbor_id long, cosine double"
    )
    return scored.selectExpr(
        "query_id",
        "neighbor_id",
        "cosine",
        "CAST(row_number() OVER (PARTITION BY query_id "
        "ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank",
    ).filter(f"rank <= {k}")


def _band_bits_sql(qv_col: str, band: int) -> str:
    """4 sign bits of the band's hyperplane projections, as a string
    bucket key.  Integer-exact: w·q is BIGINT arithmetic."""
    bits = []
    for p in range(band * PLANES_PER_BAND, (band + 1) * PLANES_PER_BAND):
        w = "array(" + ",".join(str(v) for v in WEIGHTS[p]) + ")"
        dot = _DOT.format(a=qv_col, b=w)
        bits.append(f"case when {dot} >= 0 then '1' else '0' end")
    return "concat(" + ",".join(bits) + ")"


def _band_bits(qv_col: str, band: int) -> F.Column:
    return F.expr(_band_bits_sql(qv_col, band))


def lsh_buckets(emb: DataFrame) -> DataFrame:
    """(vec_id, band, bucket) rows: one row per band per vector."""
    q = quantized(emb)
    n_bands = N_PLANES // PLANES_PER_BAND
    structs = ", ".join(
        f"named_struct('band', {b}, 'bucket', {_band_bits_sql('qv', b)})"
        for b in range(n_bands)
    )
    return q.selectExpr(
        "vec_id", "qv", "nq", f"explode(array({structs})) AS bb"
    ).selectExpr("vec_id", "qv", "nq", "bb.band", "bb.bucket")


def _probe_buckets(bucket_col: str = "bucket") -> F.Column:
    """MULTI-PROBE bucket set for a query: its own bucket plus every
    Hamming-1 variant (each of the band's sign bits flipped once).

    Sign-LSH's systematic miss is a true neighbor whose projection on
    one hyperplane is near zero: noise flips that ONE bit and the
    neighbor lands in an adjacent bucket in every band (measured r14,
    tools/ann_recall.py: single-probe recall@5 on a noisy-copies
    corpus was 0.784 mean / 0.2 min — a genuine cliff the hash-parity
    oracle cannot see).  Probing the 4 Hamming-1 buckets recovers
    exactly those misses.  Cost is bounded and QUERY-side only: the
    broadcast query set fans out ×(1+PLANES_PER_BAND); the corpus side
    (the 100 TB side) is untouched."""
    variants = [F.col(bucket_col)]
    for i in range(PLANES_PER_BAND):
        variants.append(
            F.expr(
                f"concat(substring({bucket_col}, 1, {i}), "
                f"case when substring({bucket_col}, {i + 1}, 1) = '1' "
                f"then '0' else '1' end, "
                f"substring({bucket_col}, {i + 2}, {PLANES_PER_BAND - i - 1}))"
            )
        )
    return F.array(*variants)


# Default re-rank fan-in bound (r15 VERDICT #4→r16: capped is the
# 100 TB plan AND the faster one — x100 measured 7.09 s capped vs
# 9.23 s uncapped, with the probe join's 170× shuffle fan-in feeding
# an O(n_queries × cap) re-rank instead of an unbounded one).  Recall
# trade at this cap, measured r16 and pinned in tests/test_ann_recall:
# copies 0.788/0.4 (uncapped 0.924/0.8), adversarial 0.976 (1.0).
ANN_DEFAULT_CAP = 24


def ann_lsh(
    emb: DataFrame,
    n_queries: int = DEFAULT_N_QUERIES,
    k: int = DEFAULT_K,
    max_candidates_per_query: int | None = ANN_DEFAULT_CAP,
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing at least
    one LSH band bucket with any of the query's MULTI-PROBE buckets
    (own + Hamming-1 variants, `_probe_buckets`), exact cosine re-rank
    within candidates.

    Recall is the standard sign-LSH trade-off (more planes/bands →
    better; multi-probe recovers the near-zero-projection misses);
    determinism is total — the oracle replicates the same buckets and
    probes, so results are exactly reproducible.

    `max_candidates_per_query` is the RESULT-BOUNDING knob for the
    multi-probe fan-in (r14 VERDICT #4, mirroring the as-of join's
    `max_matches_per_point`): before the exact re-rank, each query
    keeps only its top-N candidates by (band-hit count DESC, L1
    order-plane distance ASC, neighbor_id ASC).  Hit count alone is
    too coarse with 2 bands (measured: cap=7 on the copies fixture
    collapsed recall to 0.596/0.0 — hundreds of candidates tie at
    n_hits=2 and the id tiebreak cuts true copies), so the secondary
    key is the exact-BIGINT |Δord0|+|Δord1| over the dedicated
    ORDER_PLANES projections — the same locality signal the chain
    dedup uses: true near-neighbors have near-equal raw projections.
    All keys are integer-exact and the final id tiebreak makes the
    cut fully deterministic.  At x100 the probe join's shuffle grows with
    bucket occupancy (measured 170× in the r14 sweep); the cap turns
    the re-rank input into an explicit O(n_queries × N) bound.

    The cap is ON by default (`ANN_DEFAULT_CAP`) — at x100 the capped
    plan is both bounded and FASTER (7.09 vs 9.23 s), so the bounded
    form is the one a 100 TB corpus gets without asking.  Pass
    ``max_candidates_per_query=None`` to opt out (exact multi-probe
    candidate set, the highest-recall form — copies-fixture recall
    0.924/0.8 vs 0.788/0.4 capped).
    """
    buckets = lsh_buckets(emb)
    ord0 = _DOT.format(
        a="qv", b="array(" + ",".join(str(v) for v in ORDER_PLANES[0]) + ")"
    )
    ord1 = _DOT.format(
        a="qv", b="array(" + ",".join(str(v) for v in ORDER_PLANES[1]) + ")"
    )
    queries = (
        buckets.filter(F.col("vec_id") < n_queries)
        .selectExpr(
            "vec_id AS query_id", "qv AS q_qv", "nq AS q_nq",
            f"{ord0} AS q_ord0", f"{ord1} AS q_ord1", "band", "bucket",
        )
        .withColumn("bucket", F.explode(_probe_buckets("bucket")))
    )
    corpus = buckets.selectExpr(
        "vec_id AS neighbor_id", "qv AS c_qv", "nq AS c_nq",
        f"{ord0} AS c_ord0", f"{ord1} AS c_ord1", "band", "bucket",
    )
    # Per (query, neighbor): n_hits = number of BANDS whose bucket
    # matched one of the query's probes (within a band the probe
    # variants are distinct, so at most one matches — n_hits is
    # engine-independent).  The aggregate replaces the former
    # dropDuplicates (itself a groupBy) at identical shuffle width.
    cand = (
        corpus.join(
            F.broadcast(queries),
            ["band", "bucket"],
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.first(
                F.abs(F.col("q_ord0") - F.col("c_ord0"))
                + F.abs(F.col("q_ord1") - F.col("c_ord1"))
            ).alias("ord_dist"),
            F.first("q_qv").alias("q_qv"),
            F.first("q_nq").alias("q_nq"),
            F.first("c_qv").alias("c_qv"),
            F.first("c_nq").alias("c_nq"),
        )
    )
    if max_candidates_per_query is not None:
        # L1 over BOTH order planes: a single plane's |Δ| is a 1-D
        # squash with chance collisions (measured: a true copy at
        # d0=1.57M ranked behind four non-family candidates at
        # 0.4-0.7M; the 2-D sum separates family ≤2.4M from
        # non-family ≥11M on the copies fixture).
        wc = Window.partitionBy("query_id").orderBy(
            F.col("n_hits").desc(), F.col("ord_dist"), F.col("neighbor_id")
        )
        cand = (
            cand.withColumn("cand_rank", F.row_number().over(wc))
            .filter(F.col("cand_rank") <= max_candidates_per_query)
        )
    scored = (
        cand.withColumn("dot", F.expr(_DOT.format(a="q_qv", b="c_qv")))
        .withColumn("cosine", _cosine("dot", "q_nq", "c_nq"))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def neardup_candidates(
    emb: DataFrame, chain: int = CHAIN_WINDOW, locality_order: bool = True
) -> DataFrame:
    """Bounded near-dup candidate id pairs: per (band, bucket), each
    member pairs with its next `chain` successors in vec_id order —
    O(n · bands · chain) candidates REGARDLESS of the bucket-size
    distribution.

    Why not all bucket pairs: an LSH bucket over a dup-heavy corpus is
    a hot key — all-pairs within it is |bucket|², and the r11
    sf-metrics sweep measured a single 13.5k-member degenerate bucket
    at 10× data producing 146M candidate pairs / 128 GB of spill
    (disk-full abort).  Chain adjacency is the banded-join result cap
    of the text-dedup path (dedup.py max_pairs_per_doc) applied to the
    embedding side.

    Exactness: for a true near-dup CLIQUE inside one bucket (the case
    dedup cares about) every consecutive pair passes the cosine
    verify, so the component closure downstream is identical to
    all-pairs.  Recall can only drop for id-interleaved DISTINCT
    clusters sharing a bucket — the standard banding trade, measured
    by llm_ann_recall/llm_minhash_recall.  Emitted as (vec_a < vec_b),
    ids only (vectors join back at verify time, so the explosion never
    carries array payloads)."""
    # Bounded FOLLOWING frame (see dedup._chain_candidates): collect
    # exactly the real successors, so the explode emits only true
    # candidates instead of n·bands·chain mostly-null rows.
    #
    # locality_order (r12): sort each bucket by the RAW projections of
    # two dedicated order-planes (exact BIGINT dots) before vec_id —
    # near-dups have near-equal projections even when their SIGN bits
    # straddle a bucketing hyperplane, so same-cluster members form
    # chain-coverable runs regardless of adversarial vec_id
    # interleaving (measured: tools/chain_recall.py).  Pairs are
    # least/greatest-normalized, so buckets with ≤ chain+1 members
    # emit the identical full pair set under either ordering.
    ords = [
        F.expr(_DOT.format(
            a="qv", b="array(" + ",".join(str(v) for v in w) + ")"
        )).alias(f"ord{i}")
        for i, w in enumerate(ORDER_PLANES)
    ]
    b = lsh_buckets(emb).select("vec_id", "band", "bucket", *ords)
    order = ["ord0", "ord1", "vec_id"] if locality_order else ["vec_id"]
    w = Window.partitionBy("band", "bucket").orderBy(*order).rowsBetween(1, chain)
    return (
        b.select(
            F.col("vec_id").alias("_cur"),
            F.collect_list("vec_id").over(w).alias("_succ"),
        )
        .select("_cur", F.explode("_succ").alias("_nxt"))
        .select(
            F.least("_cur", "_nxt").alias("vec_a"),
            F.greatest("_cur", "_nxt").alias("vec_b"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = NEARDUP_COS,
    chain: int = CHAIN_WINDOW,
    locality_order: bool = True,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: chain-bounded LSH-bucket
    candidates (see `neardup_candidates`), verified by exact
    quantized cosine >= threshold.  Same determinism guarantee as
    `ann_lsh`; candidate volume is O(n · bands · chain)."""
    q = quantized(emb)
    cand = neardup_candidates(emb, chain, locality_order)
    a = q.select(
        F.col("vec_id").alias("vec_a"), F.col("qv").alias("qa"), F.col("nq").alias("na")
    )
    b = q.select(
        F.col("vec_id").alias("vec_b"), F.col("qv").alias("qb"), F.col("nq").alias("nb")
    )
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn("dot", F.expr(_DOT.format(a="qa", b="qb")))
        .withColumn("cosine", _cosine("dot", "na", "nb"))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def _quantized_centroids(emb: DataFrame) -> DataFrame:
    """Coarse-quantizer cells: per-label centroid re-quantized to the
    same integer scale as the vectors (floor(csum/n) per dim — one
    IEEE divide + floor, engine-deterministic; bounded ≤ QUANT so all
    downstream dot products stay exact BIGINT)."""
    cents = label_centroids(emb).withColumn(
        "cq",
        F.floor(F.col("qsum").cast("double") / F.col("n").cast("double")).cast("bigint"),
    )
    # cache() (r20, guide §5): the remaining DataFrame consumers
    # (ann_ivf / ann_ivfpq) broadcast this frame twice with DIFFERENT
    # projections, and exchange reuse only merges identical subtrees —
    # the cache makes the corpus-wide explode+aggregate lineage
    # materialize once (lazily: no barrier job; measured −4–9 % on the
    # ivf family vs both a localCheckpoint and a driver LocalRelation,
    # which each cost more than they saved at sf0.1).  The residual /
    # opq paths instead COLLECT this frame once via
    # _collected_centroids for their mapInArrow encode, which drops
    # the cache entry once the rows are on the driver.  Tiny
    # (label-cardinality rows); intra-query intermediate.
    return (
        cents.groupBy("label")
        .agg(F.expr("array_agg(struct(dim, cq))").alias("pairs"))
        .select(
            "label",
            F.expr("transform(array_sort(pairs, (a, b) -> a.dim - b.dim), p -> p.cq)").alias("cqv"),
        )
        .withColumn("ncq", F.expr("aggregate(cqv, 0L, (acc, v) -> acc + v * v)"))
        .cache()
    )


def _cell_assign(q: DataFrame, cents: DataFrame, probes: int) -> DataFrame:
    """Rank cells per vector by exact-integer cosine; keep top
    `probes` (probes=1 → the IVF assignment)."""
    scored = (
        q.select("vec_id", "qv", "nq")  # drop the vector's own label
        .crossJoin(F.broadcast(cents))
        .withColumn("cdot", F.expr(_DOT.format(a="qv", b="cqv")))
        .withColumn("ccos", _cosine("cdot", "nq", "ncq"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("label"))
    return (
        scored.withColumn("cr", F.row_number().over(w))
        .filter(F.col("cr") <= probes)
        .select("vec_id", "qv", "nq", F.col("label").alias("cell"))
    )


def ann_ivf(
    emb: DataFrame,
    n_queries: int = DEFAULT_N_QUERIES,
    k: int = DEFAULT_K,
    probes: int = IVF_PROBES,
) -> DataFrame:
    """IVF-flavored ANN: the label centroids act as the coarse
    quantizer — every corpus vector is assigned to its nearest cell
    (exact-integer cosine, 1 probe), queries probe the `probes`
    nearest cells, and only vectors in probed cells are exactly
    re-ranked.  The candidate join is an equi-join on the cell id —
    at 100 TB this is the inverted-file structure: one partition per
    cell, queries touch `probes` partitions instead of the corpus.
    """
    q = quantized(emb)
    cents = _quantized_centroids(emb)
    corpus = _cell_assign(q, cents, probes=1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("qv").alias("c_qv"),
        F.col("nq").alias("c_nq"),
        "cell",
    )
    queries = _cell_assign(q.filter(F.col("vec_id") < n_queries), cents, probes=probes).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.col("nq").alias("q_nq"),
        "cell",
    )
    scored = (
        corpus.join(F.broadcast(queries), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("dot", F.expr(_DOT.format(a="q_qv", b="c_qv")))
        .withColumn("cosine", _cosine("dot", "q_nq", "c_nq"))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


KMEANS_K = 4
KMEANS_ITERS = 2


def _nearest_centroid(q: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign every vector to its nearest centroid by EXACT integer
    squared-L2 (zip_with + aggregate over BIGINTs — associative, so
    partition order can't change the result); ties break on the lower
    centroid id.  Centroids are broadcast (K rows)."""
    dist = "aggregate(zip_with(qv, cv, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
    scored = q.crossJoin(F.broadcast(cents)).withColumn("dist", F.expr(dist))
    w = Window.partitionBy("vec_id").orderBy(F.col("dist").asc(), F.col("cid").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "qv", "cid", "dist")
    )


def kmeans_assign(
    emb: DataFrame, k: int = KMEANS_K, iters: int = KMEANS_ITERS
) -> DataFrame:
    """Lloyd's k-means over the quantized integer vectors, run for a
    FIXED number of iterations so the result is a pure function of the
    input (seeds = the k lowest vec_ids; every assignment is an exact
    BIGINT argmin; centroid updates are floor(sum/n) per dimension —
    one IEEE divide + floor on exact integer inputs, the same
    engine-deterministic contract as `_quantized_centroids`).

    Scale shape per iteration: one broadcast of K centroid rows + one
    map-side-combined shuffle on (cid, dim) for the update — the
    canonical distributed k-means; nothing grows with K*N except the
    broadcast compare, and K is small.  The driver loop is `iters`
    plan-building steps, not data pulls (no collect; the centroid
    frame stays distributed and is broadcast by the optimizer).

    Returns (vec_id, cid, dist) after `iters` assignment rounds.
    """
    q = quantized(emb).select("vec_id", "qv")
    cents = q.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )
    assigned = _nearest_centroid(q, cents)
    for _ in range(iters - 1):
        cents = (
            assigned.select("cid", F.posexplode("qv").alias("dim", "v"))
            .groupBy("cid", "dim")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .withColumn(
                "cvd",
                F.floor(F.col("s").cast("double") / F.col("n").cast("double")).cast("bigint"),
            )
            .groupBy("cid")
            .agg(F.expr("array_agg(struct(dim, cvd))").alias("pairs"))
            .select(
                "cid",
                F.expr(
                    "transform(array_sort(pairs, (a, b) -> a.dim - b.dim), p -> p.cvd)"
                ).alias("cv"),
            )
        )
        assigned = _nearest_centroid(q, cents)
    return assigned.select(
        "vec_id",
        F.col("cid").cast("bigint").alias("cid"),
        F.col("dist").cast("bigint").alias("dist"),
    )


def kmeans_sizes(emb: DataFrame, k: int = KMEANS_K, iters: int = KMEANS_ITERS) -> DataFrame:
    """Cluster cardinalities + exact total within-cluster squared
    distance (all BIGINT) — the convergence diagnostic."""
    return (
        kmeans_assign(emb, k, iters)
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.sum("dist").cast("bigint").alias("total_dist"),
        )
    )


def label_centroids(emb: DataFrame) -> DataFrame:
    """Exact per-label centroids: positional explode → integer sums per
    (label, dim) → single double division.  One map-side-combined
    shuffle on (label, dim) — the canonical distributed vector mean."""
    q = quantized(emb)
    exploded = q.select("label", F.posexplode("qv").alias("dim", "qval"))
    return (
        exploded.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("qval").cast("bigint").alias("qsum"),
        )
        .withColumn("mean", F.col("qsum").cast("double") / F.col("n").cast("double") / F.lit(float(QUANT)))
        .select("label", "dim", "n", "qsum", "mean")
    )


PQ_M = 4              # subspaces
PQ_KSUB = 16          # codebook entries per subspace → 4 bits/subspace


def pq_codes(emb: DataFrame, m: int = PQ_M, ksub: int = PQ_KSUB) -> DataFrame:
    """Product-quantization encoding: split each vector into `m`
    subvectors, assign each subvector to its nearest codebook entry by
    EXACT integer squared-L2, emit the code word plus the exact
    reconstruction error.  64 dims × 4 bytes become m×log2(ksub) bits
    (here 16 bits — a 128× compression), which is what makes
    billion-vector ANN indexes fit in memory; search then scans codes
    with per-subspace lookup tables instead of raw vectors.

    Deterministic contract: codebooks are the quantized subvectors of
    the `ksub` lowest vec_ids (same seeding rule as kmeans_assign);
    assignments are BIGINT argmins with ties to the lower code — a
    pure function of the input on any engine.

    Scale shape: the codebook is m·ksub tiny rows, broadcast; the data
    side explodes to m rows per vector (bounded fan-out), does a
    broadcast join + per-(vector, subspace) argmin, and folds back
    with one groupBy on vec_id.  No all-pairs anything; shuffle volume
    is m rows per input vector.
    """
    best = pq_subcodes(emb, m, ksub)
    return best.groupBy("vec_id").agg(
        F.expr(
            "concat_ws('-', transform(array_sort(array_agg(struct(sub, code)), "
            "(a, b) -> a.sub - b.sub), p -> CAST(p.code AS STRING)))"
        ).alias("codes"),
        F.sum("dist").cast("bigint").alias("recon_err"),
    )


def pq_subcodes(emb: DataFrame, m: int = PQ_M, ksub: int = PQ_KSUB) -> DataFrame:
    """(vec_id, sub, code, dist): the per-subspace PQ assignment —
    the shared build step for `pq_codes` (the stored index) and
    `ann_adc` (the search path)."""
    d_sub = DIMS // m
    q = quantized(emb).select("vec_id", "qv")
    sub = q.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {m - 1}), s -> slice(qv, s * {d_sub} + 1, {d_sub}))"
            )
        ).alias("sub", "sv"),
    )
    cb = sub.filter(F.col("vec_id") < ksub).select(
        F.col("vec_id").alias("code"),
        F.col("sub").alias("csub"),
        F.col("sv").alias("cv"),
    )
    dist = "aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
    scored = sub.join(F.broadcast(cb), F.col("sub") == F.col("csub")).withColumn(
        "dist", F.expr(dist)
    )
    w = Window.partitionBy("vec_id", "sub").orderBy(F.col("dist").asc(), F.col("code").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "sub", "code", "dist")
    )


def ann_adc(
    emb: DataFrame,
    n_queries: int = DEFAULT_N_QUERIES,
    k: int = DEFAULT_K,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
) -> DataFrame:
    """PQ asymmetric-distance search: each query keeps its FULL vector,
    the database is only its PQ codes; distance(query, vec) =
    Σ_sub LUT[query][sub][code(vec, sub)], where the LUT holds the
    exact integer squared-L2 from the query's subvector to every
    codebook entry.

    This is how a compressed ANN index actually answers queries: the
    corpus-sized operand is the CODES table (m small ints per vector,
    not DIMS floats); per query the work is one LUT of m·ksub entries
    (broadcast — here 640 rows total) + a code lookup join.  All
    integer, ties to the lower neighbor id; two-stage top-k like knn.
    """
    d_sub = DIMS // m
    q = quantized(emb).select("vec_id", "qv")
    qsub = (
        q.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, {m - 1}), s -> slice(qv, s * {d_sub} + 1, {d_sub}))"
                )
            ).alias("sub", "qsv"),
        )
    )
    cb = pq_subcodes(emb, m, ksub).alias("codes")
    cb_entries = (
        q.filter(F.col("vec_id") < ksub)
        .select(
            F.col("vec_id").alias("code"),
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, {m - 1}), s -> slice(qv, s * {d_sub} + 1, {d_sub}))"
                )
            ).alias("csub", "cv"),
        )
    )
    lut_dist = "aggregate(zip_with(qsv, cv, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
    lut = (
        qsub.join(F.broadcast(cb_entries), F.col("sub") == F.col("csub"))
        .withColumn("d", F.expr(lut_dist))
        .select("query_id", "sub", "code", "d")
    )
    scored = (
        cb.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d").cast("bigint").alias("adc_dist"))
    )
    order = [F.col("adc_dist").asc(), F.col("neighbor_id")]
    shards = 16
    local = Window.partitionBy("query_id", F.col("neighbor_id") % shards).orderBy(*order)
    survivors = (
        scored.withColumn("lr", F.row_number().over(local))
        .filter(F.col("lr") <= k)
        .drop("lr")
    )
    final = Window.partitionBy("query_id").orderBy(*order)
    return (
        survivors.withColumn("rank", F.row_number().over(final).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def ann_ivfpq(
    emb: DataFrame,
    n_queries: int = DEFAULT_N_QUERIES,
    k: int = DEFAULT_K,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    probes: int = IVF_PROBES,
) -> DataFrame:
    """The full compressed-index ANN pipeline (FAISS IVFADC, Jégou et
    al. 2011): coarse quantizer prunes the corpus to `probes` cells per
    query, then PQ asymmetric distance ranks ONLY the surviving cells'
    vectors through their codes — composition of the verified `ann_ivf`
    cell topology and `ann_adc` LUT scoring.

    Scale: the inverted-file equi-join bounds candidates to the probed
    cells' population (queries never touch the whole corpus), and the
    scored operand per candidate is m code rows, not DIMS floats; the
    per-query LUT (m·ksub integer entries) broadcasts.  All-integer
    distances, ties to the lower neighbor id.
    """
    d_sub = DIMS // m
    q = quantized(emb)
    cents = _quantized_centroids(emb)
    corpus_cells = _cell_assign(q, cents, probes=1).select(
        F.col("vec_id").alias("neighbor_id"), "cell"
    )
    query_cells = _cell_assign(
        q.filter(F.col("vec_id") < n_queries), cents, probes=probes
    ).select(F.col("vec_id").alias("query_id"), "cell")
    cand = (
        corpus_cells.join(F.broadcast(query_cells), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )

    sub_slices = (
        f"transform(sequence(0, {m - 1}), s -> slice(qv, s * {d_sub} + 1, {d_sub}))"
    )
    qsub = q.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.posexplode(F.expr(sub_slices)).alias("sub", "qsv"),
    )
    cb_entries = q.filter(F.col("vec_id") < ksub).select(
        F.col("vec_id").alias("code"),
        F.posexplode(F.expr(sub_slices)).alias("csub", "cv"),
    )
    lut_dist = (
        "aggregate(zip_with(qsv, cv, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
    )
    lut = (
        qsub.join(F.broadcast(cb_entries), F.col("sub") == F.col("csub"))
        .withColumn("d", F.expr(lut_dist))
        .select("query_id", "sub", "code", "d")
    )
    codes = pq_subcodes(emb, m, ksub).select(
        F.col("vec_id").alias("neighbor_id"), "sub", "code"
    )
    scored = (
        cand.join(codes, "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").cast("bigint").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def _collected_centroids(emb: DataFrame):
    """Driver-side copy of `_quantized_centroids`, sorted by label asc:
    (labels int64[ncell], Cq int64[ncell, DIMS], Cn int64[ncell]).
    Bounded by cell cardinality — the exact rows every consumer already
    broadcasts, collected ONCE instead of once per broadcast."""
    import numpy as np

    cents = _quantized_centroids(emb)
    try:
        rows = sorted(cents.collect())
    finally:
        # the cache serves broadcast consumers; once collected, a
        # pinned copy would outlive the query
        cents.unpersist()
    labels = np.array([r["label"] for r in rows], dtype=np.int64)
    Cq = (
        np.array([r["cqv"] for r in rows], dtype=np.int64)
        if rows else np.zeros((0, DIMS), dtype=np.int64)
    )
    Cn = np.array([r["ncq"] for r in rows], dtype=np.int64)
    return labels, Cq, Cn


def _assign_cells_np(V, vn, Cq, Cn):
    """Nearest cell per vector — the numpy twin of `_cell_assign`
    (probes=1): exact int64 dots, then the SAME two IEEE float64 ops as
    `_cosine` (cast-divide by sqrt of cast-product), argmax with ties
    to the FIRST (= lowest label: centroids arrive label-sorted),
    mirroring ORDER BY ccos DESC, label ASC."""
    import numpy as np

    dots = V @ Cq.T  # exact int64 — same integers as zip_with/aggregate
    ccos = dots.astype(np.float64) / np.sqrt(
        vn.astype(np.float64)[:, None] * Cn.astype(np.float64)[None, :]
    )
    return np.argmax(ccos, axis=1)


def _residuals_np(V, cell_idx, Cq, r_int):
    """Exact integer residuals qv − centroid[cell], optionally rotated
    — the numpy twin of `zip_with(qv, cqv, x−y)` + `_rotate_sql`:
    rot[k] = floor(double(Σ_j r_int[k][j]·rv[j]) / OPQ_SCALE), one
    int64 matmul + one IEEE divide + floor per component."""
    import numpy as np

    rv = V - Cq[cell_idx]
    if r_int is not None:
        R = np.asarray(r_int, dtype=np.int64)
        rv = np.floor((rv @ R.T).astype(np.float64) / float(OPQ_SCALE)).astype(
            np.int64
        )
    return rv


def _residual_codebook(q, labels, Cq, Cn, m, d_sub, ksub, r_int):
    """The shared residual codebook, computed DRIVER-side from the ksub
    lowest vec_ids (a bounded collect, same class as the knn query-set
    collect): (code_ids int64[ncodes], cb list of m (ncodes, d_sub)
    int64 arrays).  Value-identical to the old rsub.filter(vec_id <
    ksub) sub-plan — same assignment, residual and rotation arithmetic
    via the numpy twins above."""
    import numpy as np

    qrows = sorted(
        q.filter(F.col("vec_id") < ksub).select("vec_id", "qv", "nq").collect()
    )
    code_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    if len(qrows) == 0 or len(labels) == 0:
        return code_ids, [np.zeros((0, d_sub), dtype=np.int64)] * m
    V = np.array([r["qv"] for r in qrows], dtype=np.int64)
    vn = np.array([r["nq"] for r in qrows], dtype=np.int64)
    cell_idx = _assign_cells_np(V, vn, Cq, Cn)
    rv = _residuals_np(V, cell_idx, Cq, r_int)
    cb = [rv[:, s * d_sub:(s + 1) * d_sub].copy() for s in range(m)]
    return code_ids, cb


def _residual_codes_arrow(q, labels, Cq, Cn, code_ids, cb, m, d_sub, r_int):
    """Corpus-side IVFADC encode as ONE `mapInArrow` pass (r20, guide
    §4.2/§8 — the knn pattern): per partition batch, nearest cell,
    exact residual (optionally rotated) and per-subspace PQ code are
    computed with int64 matmuls + the identical IEEE float64 cosine
    ops, emitting m (neighbor_id, cell, sub, code) rows per vector.
    Replaces the old sub-plan's corpus×cells crossjoin + per-vec_id
    window + centroid join + codebook crossjoin + per-(vec_id, sub)
    window — the corpus rows now never hit an exchange at all.  Ties:
    argmax/argmin first-occurrence over label- and code-sorted arrays =
    ORDER BY ... label ASC / code ASC."""
    import numpy as np

    spark = q.sparkSession
    out_type = "neighbor_id long, cell long, sub int, code long"
    if len(labels) == 0 or len(code_ids) == 0:
        return spark.createDataFrame(spark.sparkContext.emptyRDD(), out_type)
    subs = np.arange(m, dtype=np.int32)

    def encode(batches):
        import pyarrow as pa

        out_schema = pa.schema(
            [
                ("neighbor_id", pa.int64()),
                ("cell", pa.int64()),
                ("sub", pa.int32()),
                ("code", pa.int64()),
            ]
        )
        for batch in batches:
            vid = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            n = len(vid)
            if n == 0:
                continue
            V = _qv_matrix(batch.column(1))
            vn = batch.column(2).to_numpy(zero_copy_only=False).astype(np.int64)
            cell_idx = _assign_cells_np(V, vn, Cq, Cn)
            rv = _residuals_np(V, cell_idx, Cq, r_int)
            code_cols = []
            for s in range(m):
                sv = rv[:, s * d_sub:(s + 1) * d_sub]
                diff = sv[:, None, :] - cb[s][None, :, :]
                dist = (diff * diff).sum(axis=2)  # exact int64
                code_cols.append(code_ids[np.argmin(dist, axis=1)])
            yield pa.record_batch(
                [
                    np.repeat(vid, m),
                    np.repeat(labels[cell_idx], m),
                    np.tile(subs, n),
                    np.stack(code_cols, axis=1).reshape(-1),
                ],
                schema=out_schema,
            )

    return q.select("vec_id", "qv", "nq").mapInArrow(encode, out_type)


# IVFADC+R shortlist multiplier: re-rank the top rerank·k ADC rows
# exactly.  64 (shortlist 320 at k=5) is sized by measurement: at x100
# occupancy one query's true neighbors sat between ADC ranks 80 and
# 320 behind code-tuple-colliding lower-id families (rerank=16 left
# min recall 0.0; 64 restores 1.0/1.0 at x10 AND x100) — collision
# depth grows with corpus density, so the default carries the
# measured x100 margin; the knob stays per-call for larger corpora.
PQ_RERANK = 64


def ann_ivfpq_residual(
    emb: DataFrame,
    n_queries: int = DEFAULT_N_QUERIES,
    k: int = DEFAULT_K,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    probes: int = IVF_PROBES,
    rerank: int | None = PQ_RERANK,
) -> DataFrame:
    """True FAISS IVFADC (Jégou et al. 2011 §III.C): PQ over RESIDUALS
    `x − centroid(cell)`, not raw vectors.  On clustered corpora the
    raw-vector PQ (`ann_ivfpq`) wastes its 16 codewords describing the
    cluster CENTERS — which the coarse quantizer already encodes — so
    within-cluster ranking is quantization noise (measured r14:
    recall@5 0.572 on the adversarial clustered fixture).  Encoding
    residuals spends the whole codebook on the within-cell geometry.

    Shapes and determinism match the rest of the family: residuals are
    exact BIGINT (qv − floor-centroid), ONE shared residual codebook
    across cells (FAISS default; the ksub lowest vec_ids' residual
    subvectors — the same deterministic seeding rule as `pq_codes`),
    LUTs are per (query, probed cell) because the query residual
    depends on the cell, all-integer distances, ties to the lower
    code / neighbor id.  Scale: the corpus-side operand is m code rows
    per vector; LUTs are (n_queries × probes × m × ksub) rows,
    broadcast; candidates bounded by probed-cell population via the
    (cell, sub, code) equi-join — no all-pairs anywhere.

    r18 — IVFADC+R (the refinement stage of Jégou et al. 2011 §V /
    FAISS IndexRefine): the ADC shortlist's top ``rerank·k`` rows are
    RE-RANKED by exact integer L2 over the quantized vectors.  With
    m=4/ksub=16 the code space holds 65k tuples, so distinct vector
    families collide on code tuples and ADC alone ties them — measured
    at x10/x100: one query's true neighbors sat at ADC ranks ≤20
    behind a lower-id colliding family, min recall@5 = 0.0.  The
    re-rank costs O(n_queries · rerank·k) exact distances (shortlist
    broadcast — no corpus-side work) and restores min recall to 1.0
    on the organic fixtures (tools/ann_recall.py; floor pinned in
    tests/test_ann_recall.py).
    """
    d_sub = DIMS // m
    q = quantized(emb)
    # r20 (guide §4.2/§8, the knn pattern): centroids and codebook are
    # collected once (bounded — every consumer already broadcast them,
    # so the driver held these rows anyway) and the WHOLE corpus-side
    # encode (cell assign → residual → PQ code) runs as one mapInArrow
    # pass with exact int64 matmuls + the identical IEEE float64
    # cosine ops.  The old sub-plan pushed every corpus row through a
    # cells-crossjoin + per-vec_id window + centroid join + codebook
    # crossjoin + per-(vec_id, sub) window (2 corpus-sized exchanges,
    # 2 sorts); corpus rows now reach their first exchange only as
    # (cell, sub, code) triples inside the scored aggregation.
    labels, Cq, Cn = _collected_centroids(emb)
    code_ids, cb_np = _residual_codebook(q, labels, Cq, Cn, m, d_sub, ksub, None)
    codes = _residual_codes_arrow(q, labels, Cq, Cn, code_ids, cb_np, m, d_sub, None)
    spark = emb.sparkSession
    cents = spark.createDataFrame(
        [(int(l), [int(x) for x in cq], int(n)) for l, cq, n in zip(labels, Cq, Cn)],
        "label bigint, cqv array<bigint>, ncq bigint",
    )
    cvec = cents.select(F.col("label").alias("cell"), "cqv")
    cb = spark.createDataFrame(
        [
            (int(c), int(s), [int(x) for x in cb_np[s][i]])
            for i, c in enumerate(code_ids)
            for s in range(m)
        ],
        "code long, csub int, cv array<bigint>",
    )
    sub_slices = (
        "posexplode(transform(sequence(0, {m}), s -> "
        "slice({vec}, s * {d} + 1, {d}))) AS (sub, {out})"
    )

    # queries: probed cells -> PER-CELL residuals -> per-(query, cell)
    # LUT against the shared codebook (bounded by n_queries — stays in
    # SQL over the LocalRelation centroids/codebook)
    qsub = (
        _cell_assign(q.filter(F.col("vec_id") < n_queries), cents, probes=probes)
        .join(F.broadcast(cvec), "cell")
        .selectExpr(
            "vec_id AS query_id", "cell",
            "zip_with(qv, cqv, (x, y) -> x - y) AS qrv",
        )
        .selectExpr(
            "query_id", "cell",
            sub_slices.format(m=m - 1, vec="qrv", d=d_sub, out="qsv"),
        )
    )
    lut_dist = "aggregate(zip_with(qsv, cv, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
    lut = (
        qsub.join(F.broadcast(cb), F.col("sub") == F.col("csub"))
        .withColumn("d", F.expr(lut_dist))
        .select("query_id", "cell", "sub", "code", "d")
    )
    scored = (
        codes.join(F.broadcast(lut), ["cell", "sub", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").cast("bigint").alias("adc_dist"))
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    if not rerank:
        # pure-ADC ranking: the rotation-comparison baseline
        # (tools/ann_recall.py's ann_ivfpq_residual_noR) and the
        # pre-r18 behavior
        return (
            scored.withColumn("rank", F.row_number().over(ws).cast("bigint"))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "adc_dist", "rank")
        )
    # IVFADC+R: exact-L2 re-rank of the ADC shortlist (see docstring)
    short = (
        scored.withColumn("srank", F.row_number().over(ws))
        .filter(F.col("srank") <= rerank * k)
        .drop("srank")
    )
    qv_n = q.select(F.col("vec_id").alias("neighbor_id"), F.col("qv").alias("n_qv"))
    qv_q = q.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("q_qv")
    )
    xdist = (
        "aggregate(zip_with(q_qv, n_qv, (x, y) -> (x - y) * (x - y)), "
        "0L, (acc, v) -> acc + v)"
    )
    rer = (
        qv_n.join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(qv_q), "query_id")
        .withColumn("xdist", F.expr(xdist).cast("bigint"))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("xdist").asc(), F.col("neighbor_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def embedding_covariance(emb: DataFrame) -> DataFrame:
    """Exact integer second-moment accumulation over the quantized
    embedding corpus: for every dimension pair i ≤ j, the count and
    the sums (Σqᵢ, Σqⱼ, Σqᵢqⱼ) — everything a driver-side PCA / OPQ
    rotation needs to form the d×d covariance matrix exactly.

    This is the RIGHT split of PCA across a cluster at any corpus
    size: the data-proportional part is one shuffle-free double
    explode (per vector: dimension i, then the j ≥ i tail of the
    array — upper triangle only) into a map-side-combined groupBy on
    d(d+1)/2 keys; the eigendecomposition then runs on a constant
    d×d matrix on the driver (`pca_rotation`), independent of corpus
    size.  Integer sums over quantized values are exact and
    order-independent, so the oracle matches bit-for-bit.
    """
    ex = quantized(emb).select(
        "qv", F.posexplode("qv").alias("i", "vi")
    )
    pairs = ex.select(
        "i",
        "vi",
        F.posexplode(F.expr("slice(qv, i + 1, size(qv) - i)")).alias("dj", "vj"),
    ).select(
        F.col("i").cast("bigint").alias("dim_i"),
        (F.col("i") + F.col("dj")).cast("bigint").alias("dim_j"),
        "vi",
        "vj",
    )
    return pairs.groupBy("dim_i", "dim_j").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("vi").cast("bigint").alias("sum_i"),
        F.sum("vj").cast("bigint").alias("sum_j"),
        F.sum(F.col("vi") * F.col("vj")).cast("bigint").alias("sum_ij"),
    )


def pca_rotation(cov_rows: list) -> "object":
    """Driver-side tail of distributed PCA: turn the exact
    (dim_i, dim_j, n, sum_i, sum_j, sum_ij) rows from
    `embedding_covariance` into an orthonormal rotation (numpy eigh
    on the d×d covariance — a constant-size problem at any corpus
    scale).  Returns the (d, d) array of eigenvectors as columns,
    sorted by descending eigenvalue — the OPQ-style pre-rotation for
    the PQ/IVFADC path."""
    import numpy as np

    d = int(max(r["dim_j"] for r in cov_rows)) + 1
    cov = np.zeros((d, d))
    for r in cov_rows:
        i, j, n = int(r["dim_i"]), int(r["dim_j"]), int(r["n"])
        c = r["sum_ij"] / n - (r["sum_i"] / n) * (r["sum_j"] / n)
        cov[i, j] = cov[j, i] = c
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1]
    return vecs[:, order]


# ---------------------------------------------------------------------------
# OPQ (r14 VERDICT #5): rotate residuals by the corpus covariance
# eigenbasis BEFORE codebook assignment (Gou et al.'s OPQ initialized
# the PCA way; FAISS OPQMatrix pre-rotation).  PQ splits dimensions
# into contiguous subspaces, so correlated dimensions spread variance
# across subspace boundaries where the per-subspace codebooks cannot
# trade it off; the eigenbasis decorrelates first.
#
# Exactness: the rotation is quantized to integers (round(R * 1e4))
# and embedded as array literals in ONE Spark expression; the rotated
# component is floor(Σ R_int[k][j]·rv[j] / 1e4) — the integer dot is
# exact BIGINT (|Σ| ≤ 64·2e6·1e4 ≈ 1.3e12 < 2^53), its double cast is
# exact, and the true quotient is ≥1e-4 away from any integer unless
# exact, so the floor is bit-deterministic on any engine.  The
# EIGENDECOMPOSITION itself (numpy eigh on the exact integer moments
# from embedding_covariance) is not SQL-expressible — so the GATE
# (llm_ann_ivfpq_rr) hash-verifies the identical pipeline under the
# deterministic data-independent `fixed_rotation_int()` instead, and
# the learned rotation's QUALITY is pinned by the recall floors
# (tests/test_ann_recall.py), exactly as the r13/r14 recall story
# argued hash parity never could.
# ---------------------------------------------------------------------------

OPQ_SCALE = 10_000

# rotation memo: covariance + eigh once per corpus plan (the playbook
# rule: construction-time driver jobs must be memoized or the bench
# pays them per pass).  Keyed by (semanticHash, m, source freshness):
# the plan hash alone would return a stale rotation after the
# underlying parquet is rewritten under an identical plan (r15
# ADVICE) — the newest (mtime_ns, size) of the plan's input files is
# folded in, mirroring io.py's read memo.
_ROTATION_MEMO: dict[tuple, list[list[int]]] = {}
_ROTATION_MEMO_MAX = 32


def _source_stamp(df) -> tuple:
    """Freshness stamp for a DataFrame's file-based sources: the
    newest (mtime_ns, size) across its input files plus the file
    count.  Empty tuple for non-file plans (pure in-memory fixtures) —
    those can't be rewritten underneath an identical plan."""
    import os

    newest = (0, 0)
    n = 0
    try:
        files = df.inputFiles()
    except Exception:
        return ()
    for uri in files:
        local = uri[5:] if uri.startswith("file:") else uri
        try:
            st = os.stat(local)
        except OSError:
            # non-local URI: the path string itself is the best stamp
            return ("uris", tuple(sorted(files)))
        newest = max(newest, (st.st_mtime_ns, st.st_size))
        n += 1
    return (n,) + newest


def _balanced_allocation(eigvals, m: int) -> list[int]:
    """Parametric OPQ's eigenvalue allocation (Ge et al. 2013 §4.1):
    assign eigen-directions to the m PQ subspaces so each subspace
    gets a BALANCED variance product — greedy: eigenvalues descending,
    each into the open subspace with the smallest log-variance sum.
    Pure PCA ordering is counterproductive for PQ (measured r15:
    recall@5 0.36 vs 0.516 un-rotated on an anisotropic fixture —
    subspace 0 swallowed nearly all the energy and its 16 codewords
    drowned); balancing is what makes the rotation help."""
    import math

    d = len(eigvals)
    cap = d // m
    order = sorted(range(d), key=lambda i: -eigvals[i])
    sums = [0.0] * m
    counts = [0] * m
    slots: list[list[int]] = [[] for _ in range(m)]
    for i in order:
        open_subs = [s for s in range(m) if counts[s] < cap]
        s = min(open_subs, key=lambda s: sums[s])
        slots[s].append(i)
        counts[s] += 1
        sums[s] += math.log(max(float(eigvals[i]), 1e-12))
    return [i for sub in slots for i in sub]


def opq_rotation_int(emb: DataFrame, m: int = PQ_M) -> list[list[int]]:
    """The corpus covariance eigenbasis, balanced-allocated across the
    m PQ subspaces, as an integer-quantized rotation matrix (rows =
    output dims), memoized by the input plan's semanticHash + the
    source files' freshness stamp (a rewrite under an identical plan
    misses).  Row k
    dotted with a vector gives the eigen-component assigned to output
    position k."""
    import numpy as np

    key = (emb.semanticHash(), m, _source_stamp(emb))
    hit = _ROTATION_MEMO.get(key)
    if hit is not None:
        return hit
    cov_rows = embedding_covariance(emb).collect()
    d = int(max(r["dim_j"] for r in cov_rows)) + 1
    cov = np.zeros((d, d))
    for r in cov_rows:
        i, j, n = int(r["dim_i"]), int(r["dim_j"]), int(r["n"])
        c = r["sum_ij"] / n - (r["sum_i"] / n) * (r["sum_j"] / n)
        cov[i, j] = cov[j, i] = c
    vals, vecs = np.linalg.eigh(cov)
    perm = _balanced_allocation([float(v) for v in vals], m)
    r_int = [
        [int(round(float(vecs[j][p]) * OPQ_SCALE)) for j in range(d)]
        for p in perm
    ]
    if len(_ROTATION_MEMO) >= _ROTATION_MEMO_MAX:
        _ROTATION_MEMO.clear()
    _ROTATION_MEMO[key] = r_int
    return r_int


_FIXED_ROTATION: list[list[int]] | None = None


def fixed_rotation_int() -> list[list[int]]:
    """A DETERMINISTIC orthonormal rotation (QR of md5-style seeded
    gaussians, quantized like the OPQ rotation): Jégou et al.'s
    "random rotation" PQ baseline.  Data-independent, so — unlike the
    eigh-derived OPQ rotation — it can be embedded verbatim in a
    DuckDB oracle: the llm_ann_ivfpq_rr gate hash-verifies the entire
    rotated-residual-PQ machinery (rotation application, floor
    quantization, codebook, LUT, ADC) bit-for-bit; only the
    eigendecomposition itself is left to the recall floors."""
    global _FIXED_ROTATION
    if _FIXED_ROTATION is None:
        import numpy as np

        rng = np.random.default_rng(15)
        q, _ = np.linalg.qr(rng.normal(0, 1, (DIMS, DIMS)))
        _FIXED_ROTATION = [
            [int(round(float(q[j][k]) * OPQ_SCALE)) for j in range(DIMS)]
            for k in range(DIMS)
        ]
    return _FIXED_ROTATION


def _rotate_sql(vec: str, r_int: list[list[int]]) -> str:
    rows = ", ".join(
        "array(" + ",".join(str(v) for v in row) + ")" for row in r_int
    )
    return (
        f"transform(array({rows}), row -> CAST(floor(CAST("
        f"aggregate(zip_with(row, {vec}, (x, y) -> x * y), 0L, "
        f"(acc, v) -> acc + v) AS DOUBLE) / {OPQ_SCALE}.0) AS BIGINT))"
    )


def ann_ivfpq_opq(
    emb: DataFrame,
    n_queries: int = DEFAULT_N_QUERIES,
    k: int = DEFAULT_K,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    probes: int = IVF_PROBES,
    rotation_int: list[list[int]] | None = None,
) -> DataFrame:
    """IVFADC over OPQ-rotated residuals: identical topology to
    `ann_ivfpq_residual` (coarse cells → exact integer residuals →
    shared codebook → per-(query, cell) LUT → ADC scoring), with the
    residuals rotated into the covariance eigenbasis before the
    subspace split.  Orthonormal rotation preserves L2, so the ADC
    distance semantics are unchanged; what changes is how much of the
    within-cell variance each PQ subspace can explain.

    `rotation_int` overrides the learned rotation with a caller-
    supplied integer matrix (e.g. `fixed_rotation_int()` — the
    oracle-verifiable random-rotation baseline)."""
    d_sub = DIMS // m
    q = quantized(emb)
    r_int = rotation_int if rotation_int is not None else opq_rotation_int(emb, m)
    # r20: same mapInArrow corpus encode as ann_ivfpq_residual, with
    # the rotation folded into the per-batch integer matmul (see
    # _residuals_np — floor(double(R·rv)/OPQ_SCALE), the exact
    # _rotate_sql arithmetic).
    labels, Cq, Cn = _collected_centroids(emb)
    code_ids, cb_np = _residual_codebook(q, labels, Cq, Cn, m, d_sub, ksub, r_int)
    codes = _residual_codes_arrow(q, labels, Cq, Cn, code_ids, cb_np, m, d_sub, r_int)
    spark = emb.sparkSession
    cents = spark.createDataFrame(
        [(int(l), [int(x) for x in cq], int(n)) for l, cq, n in zip(labels, Cq, Cn)],
        "label bigint, cqv array<bigint>, ncq bigint",
    )
    cvec = cents.select(F.col("label").alias("cell"), "cqv")
    cb = spark.createDataFrame(
        [
            (int(c), int(s), [int(x) for x in cb_np[s][i]])
            for i, c in enumerate(code_ids)
            for s in range(m)
        ],
        "code long, csub int, cv array<bigint>",
    )
    sub_slices = (
        "posexplode(transform(sequence(0, {m}), s -> "
        "slice({vec}, s * {d} + 1, {d}))) AS (sub, {out})"
    )

    qsub = (
        _cell_assign(q.filter(F.col("vec_id") < n_queries), cents, probes=probes)
        .join(F.broadcast(cvec), "cell")
        .selectExpr(
            "vec_id AS query_id", "cell",
            "zip_with(qv, cqv, (x, y) -> x - y) AS qrv0",
        )
        .selectExpr("query_id", "cell", _rotate_sql("qrv0", r_int) + " AS qrv")
        .selectExpr(
            "query_id", "cell",
            sub_slices.format(m=m - 1, vec="qrv", d=d_sub, out="qsv"),
        )
    )
    lut_dist = "aggregate(zip_with(qsv, cv, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
    lut = (
        qsub.join(F.broadcast(cb), F.col("sub") == F.col("csub"))
        .withColumn("d", F.expr(lut_dist))
        .select("query_id", "cell", "sub", "code", "d")
    )
    scored = (
        codes.join(F.broadcast(lut), ["cell", "sub", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").cast("bigint").alias("adc_dist"))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )
