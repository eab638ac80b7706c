"""Similarity operator tests: exactness of the quantized-integer cosine
against a NumPy reference, top-k ordering, LSH candidate containment."""

from __future__ import annotations

import math

import pytest

from mysql_cdc_spark.operators import similarity


def _vec(seed: int, dims: int = 64) -> list[float]:
    # Deterministic pseudo-random unit-ish vector without RNG state.
    raw = [math.sin(seed * 31 + j * 7) for j in range(dims)]
    norm = math.sqrt(sum(x * x for x in raw))
    return [float(x / norm) for x in raw]


@pytest.fixture(scope="module")
def emb(spark):
    rows = [(i, _vec(i), i % 3) for i in range(30)]
    # plant a near-duplicate of vector 0
    rows.append((30, [float(x) for x in _vec(0)], 0))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def _quant_cos(a, b):
    qa = [math.floor(float(x) * similarity.QUANT) for x in a]
    qb = [math.floor(float(x) * similarity.QUANT) for x in b]
    dot = sum(x * y for x, y in zip(qa, qb))
    na = sum(x * x for x in qa)
    nb = sum(x * x for x in qb)
    return dot / math.sqrt(float(na) * float(nb))


def test_knn_matches_python_reference(spark, emb):
    import numpy as np  # noqa: F401  (env sanity)

    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in emb.collect()}  # float32 round-trip, as Spark sees them
    got = similarity.knn(emb, n_queries=3, k=4).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cosine"]))
    for qid in range(3):
        scored = sorted(
            ((-_quant_cos(vecs[qid], vecs[nid]), nid) for nid in vecs if nid != qid),
        )[:4]
        expect = [(i + 1, nid, -negcos) for i, (negcos, nid) in enumerate(scored)]
        assert sorted(by_q[qid]) == expect


def test_knn_finds_planted_duplicate(emb):
    got = similarity.knn(emb, n_queries=1, k=1).collect()
    assert got[0]["neighbor_id"] == 30
    assert got[0]["cosine"] > 0.999999


def test_ann_results_are_subset_of_knn_universe(emb):
    """Every ANN hit must carry the exact cosine and correct per-query
    descending rank order."""
    got = similarity.ann_lsh(emb, n_queries=5, k=3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["cosine"]))
    for q, rows in by_q.items():
        rows.sort()
        coss = [c for _, c in rows]
        assert coss == sorted(coss, reverse=True)
        assert [r for r, _ in rows] == list(range(1, len(rows) + 1))


def test_ann_finds_planted_duplicate(emb):
    """cos≈1 ⇒ identical sign pattern on every hyperplane ⇒ the pair
    shares ALL bands: LSH must surface it."""
    got = similarity.ann_lsh(emb, n_queries=1, k=1).collect()
    assert got and got[0]["neighbor_id"] == 30


def test_label_centroids_exact(emb):
    rows = emb.collect()
    got = {(r["label"], r["dim"]): (r["n"], r["qsum"]) for r in
           similarity.label_centroids(emb).collect()}
    for label in (0, 1, 2):
        members = [[math.floor(float(x) * similarity.QUANT) for x in r["embedding"]]
                   for r in rows if r["label"] == label]
        for dim in (0, 13, 63):
            expect = (len(members), sum(m[dim] for m in members))
            assert got[(label, dim)] == expect


def test_ivf_finds_planted_duplicate(emb):
    """cos≈1 ⇒ same nearest centroid ⇒ same cell ⇒ IVF must pair them."""
    got = similarity.ann_ivf(emb, n_queries=1, k=1).collect()
    assert got and got[0]["neighbor_id"] == 30
    assert got[0]["cosine"] > 0.999999


def test_ivf_ranks_descending(emb):
    got = similarity.ann_ivf(emb, n_queries=5, k=3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["cosine"]))
    for rows in by_q.values():
        rows.sort()
        coss = [c for _, c in rows]
        assert coss == sorted(coss, reverse=True)


# --- k-means ---------------------------------------------------------------


def test_kmeans_separates_obvious_clusters(spark):
    from mysql_cdc_spark.operators.similarity import kmeans_assign

    # two tight groups far apart; seeds 0 and 1 land one in each
    rows = [
        (0, "a", [0.0] * 63 + [0.1]),
        (1, "a", [1.0] * 63 + [0.9]),
        (2, "a", [0.01] * 63 + [0.12]),
        (3, "a", [0.99] * 63 + [0.88]),
        (4, "a", [0.02] * 63 + [0.11]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    out = {r.vec_id: r.cid for r in kmeans_assign(emb, k=2, iters=2).collect()}
    assert out[0] == out[2] == out[4]
    assert out[1] == out[3]
    assert out[0] != out[1]


def test_kmeans_deterministic_and_exact(spark):
    from mysql_cdc_spark.operators.similarity import kmeans_assign

    import random

    rng = random.Random(7)
    rows = [
        (i, "x", [rng.uniform(-1, 1) for _ in range(64)]) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    a = sorted((r.vec_id, r.cid, r.dist) for r in kmeans_assign(emb).collect())
    b = sorted((r.vec_id, r.cid, r.dist) for r in kmeans_assign(emb).collect())
    assert a == b  # bit-exact across runs (integer argmin, fixed seeds)
    assert all(d >= 0 for _, _, d in a)


def test_kmeans_seed_vectors_have_zero_distance_iter1(spark):
    from mysql_cdc_spark.operators.similarity import kmeans_assign

    rows = [(i, "x", [float(i)] * 64) for i in range(6)]
    emb = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    # with a single iteration, each seed is its own centroid → dist 0
    out = {r.vec_id: r for r in kmeans_assign(emb, k=3, iters=1).collect()}
    for i in range(3):
        assert out[i].cid == i and out[i].dist == 0


def test_pq_codes_seed_vectors_have_zero_error(spark, sf_dir):
    """A codebook seed vector reconstructs itself exactly (error 0,
    codes = its own id in every subspace); every vector gets exactly
    PQ_M codes."""
    from mysql_cdc_spark.operators import similarity as S
    from mysql_cdc_spark.sources.io import read_table

    got = {r["vec_id"]: r for r in S.pq_codes(read_table(spark, sf_dir, "embeddings")).collect()}
    for seed in range(3):
        assert got[seed]["recon_err"] == 0
        assert got[seed]["codes"] == "-".join([str(seed)] * S.PQ_M)
    assert all(len(r["codes"].split("-")) == S.PQ_M for r in got.values())
    # non-seed vectors have strictly positive error (vectors are dense
    # floats — exact collision with a seed subvector is not possible
    # in this fixture)
    assert got[max(got)]["recon_err"] > 0


class TestAnnIvfPq:
    """Composed IVFADC pipeline (similarity.ann_ivfpq)."""

    def test_ranks_contiguous_and_candidates_cell_bounded(self, spark, emb):
        got = similarity.ann_ivfpq(emb, n_queries=3, k=4).collect()
        by_q = {}
        for r in got:
            assert r["neighbor_id"] != r["query_id"]
            by_q.setdefault(r["query_id"], []).append(r)
        for qid, rows in by_q.items():
            rows.sort(key=lambda r: r["rank"])
            assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
            dists = [r["adc_dist"] for r in rows]
            assert dists == sorted(dists)
        # every reported pair must share a probed cell
        q = similarity.quantized(emb)
        cents = similarity._quantized_centroids(emb)
        assign = {
            r["vec_id"]: r["cell"]
            for r in similarity._cell_assign(q, cents, probes=1).collect()
        }
        probed = {}
        for r in similarity._cell_assign(
            q.filter("vec_id < 3"), cents, probes=2
        ).collect():
            probed.setdefault(r["vec_id"], set()).add(r["cell"])
        for r in got:
            assert assign[r["neighbor_id"]] in probed[r["query_id"]]


class TestPCARotation:
    def test_rotation_orthonormal_and_variance_sorted(self, spark, sf_dir):
        """Driver-side PCA tail: the rotation from the exact covariance
        sums must be orthonormal, and projecting the corpus onto it
        must yield per-dimension variances in descending order."""
        import numpy as np

        from mysql_cdc_spark.operators.similarity import (
            embedding_covariance,
            pca_rotation,
            quantized,
        )
        from mysql_cdc_spark.sources.io import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        rows = embedding_covariance(emb).collect()
        R = pca_rotation(rows)
        d = R.shape[0]
        assert R.shape == (d, d)
        assert np.allclose(R.T @ R, np.eye(d), atol=1e-8)

        X = np.array([r["qv"] for r in quantized(emb).select("qv").collect()],
                     dtype=float)
        proj_var = (X - X.mean(axis=0)).dot(R).var(axis=0)
        assert all(proj_var[i] >= proj_var[i + 1] - 1e-6 for i in range(d - 1))
        # the rotation concentrates variance: top component holds more
        # than a uniform share
        assert proj_var[0] > X.var(axis=0).mean()


def test_neardup_candidates_bounded_on_degenerate_bucket(spark):
    """r11 scale fix: a corpus where EVERY vector lands in the same LSH
    bucket (near-identical vectors — exactly a dup-heavy corpus) must
    produce O(n·bands·chain) candidates, not |bucket|² ≈ n²/2, and the
    true near-dup clique must still close into ONE component (chain
    adjacency: every consecutive pair verifies).  The unbounded form
    measured 146M pairs / 128 GB spill from one 13.5k bucket at 10×
    data (PLANS.md r11)."""
    import pyspark.sql.functions as F

    from mysql_cdc_spark.operators import corpus

    n = 400
    base = _vec(7)
    rows = [
        (i, [float(x * (1.0 + i * 1e-6)) for x in base], 0) for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    n_bands = similarity.N_PLANES // similarity.PLANES_PER_BAND
    cand = similarity.neardup_candidates(emb)
    n_cand = cand.count()
    assert n_cand <= n * n_bands * similarity.CHAIN_WINDOW
    assert n_cand < n * n * 0.1  # nowhere near |bucket|²/2

    pairs = similarity.embedding_neardup_pairs(emb).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    comp = corpus.duplicate_components(
        emb.select(F.col("vec_id").alias("doc_id")), pairs
    )
    comps = comp.select("component").distinct().count()
    assert comps == 1  # the clique stays fully connected under chaining


def test_opq_rotation_memo_source_freshness(spark, tmp_path):
    """r15 ADVICE: rewriting the corpus parquet under an IDENTICAL
    plan must miss the rotation memo (the semanticHash alone is the
    same; the source freshness stamp is what invalidates)."""
    import numpy as np

    from mysql_cdc_spark.operators.similarity import opq_rotation_int

    path = str(tmp_path / "emb.parquet")

    def write(anisotropy):
        rng = np.random.default_rng(7)
        scale = np.ones(8) if anisotropy is None else np.asarray(anisotropy)
        rows = [
            (i, [float(x) for x in rng.normal(0.0, 1.0, 8) * scale])
            for i in range(96)
        ]
        spark.createDataFrame(
            rows, "id long, embedding array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(path)

    write(None)
    r1 = opq_rotation_int(spark.read.parquet(path), m=2)
    # identical plan + identical bytes: stable answer (memo or not)
    assert opq_rotation_int(spark.read.parquet(path), m=2) == r1
    # rewrite IN PLACE with a different covariance structure: the plan
    # hash is unchanged, so a stale memo would hand back r1
    write([50.0, 1, 1, 1, 1, 1, 1, 0.02])
    r2 = opq_rotation_int(spark.read.parquet(path), m=2)
    assert r2 != r1


def test_arrow_residual_codes_match_sql_subplan(spark):
    """r20: the mapInArrow corpus encode (cell assign → residual →
    rotation → PQ code, computed with numpy int64 matmuls + IEEE
    float64 cosine) must emit row-for-row what the r19 SQL sub-plan
    (cells crossjoin + windows + codebook join) emitted — including
    cosine TIES, forced here by two labels with identical centroids
    (tie must go to the LOWER label / lower code)."""
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mysql_cdc_spark.operators import similarity as S

    rng = np.random.default_rng(42)
    rows = []
    # labels 0 and 1 get IDENTICAL member vectors -> identical
    # centroids -> every ccos ties between cells 0 and 1
    base = rng.normal(0.0, 1.0, (8, S.DIMS))
    for i in range(8):
        rows.append((i, [float(x) for x in base[i]], 0))
        rows.append((100 + i, [float(x) for x in base[i]], 1))
    for i in range(40):
        rows.append((200 + i, [float(x) for x in rng.normal(0.0, 1.0, S.DIMS)], 2 + (i % 3)))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")

    m, ksub = S.PQ_M, S.PQ_KSUB
    d_sub = S.DIMS // m
    for r_int in (None, S.fixed_rotation_int()):
        q = S.quantized(emb)
        labels, Cq, Cn = S._collected_centroids(emb)
        code_ids, cb_np = S._residual_codebook(q, labels, Cq, Cn, m, d_sub, ksub, r_int)
        got = S._residual_codes_arrow(
            q, labels, Cq, Cn, code_ids, cb_np, m, d_sub, r_int
        )

        # r19 reference sub-plan, verbatim
        cents = S._quantized_centroids(emb)
        cvec = cents.select(F.col("label").alias("cell"), "cqv")
        sub_slices = (
            "posexplode(transform(sequence(0, {m}), s -> "
            "slice({vec}, s * {d} + 1, {d}))) AS (sub, {out})"
        )
        corpus = S._cell_assign(q, cents, probes=1)
        rsub = (
            corpus.join(F.broadcast(cvec), "cell")
            .selectExpr("vec_id", "cell", "zip_with(qv, cqv, (x, y) -> x - y) AS rv0")
        )
        rot = (
            "rv0" if r_int is None else S._rotate_sql("rv0", r_int)
        )
        rsub = rsub.selectExpr("vec_id", "cell", f"{rot} AS rv").selectExpr(
            "vec_id", "cell", sub_slices.format(m=m - 1, vec="rv", d=d_sub, out="sv")
        )
        cb = rsub.filter(F.col("vec_id") < ksub).selectExpr(
            "vec_id AS code", "sub AS csub", "sv AS cv"
        )
        dist = "aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
        w = Window.partitionBy("vec_id", "sub").orderBy(F.col("dist").asc(), F.col("code").asc())
        want = (
            rsub.join(F.broadcast(cb), F.col("sub") == F.col("csub"))
            .withColumn("dist", F.expr(dist))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .selectExpr("vec_id AS neighbor_id", "cell", "sub", "code")
        )

        got_rows = {(r[0], r[1], r[2], r[3]) for r in got.collect()}
        want_rows = {(r[0], r[1], r[2], r[3]) for r in want.collect()}
        assert got_rows == want_rows, f"rotation={r_int is not None}"
        # the tie actually happened: every label-1 vector landed in
        # cell 0 (lower label wins)
        assert not any(c == 1 for (_, c, _, _) in got_rows)
        assert any(v >= 100 and v < 200 and c == 0 for (v, c, _, _) in got_rows)


def test_collected_centroids_leaves_no_cache_entry(spark, emb, monkeypatch):
    """`_quantized_centroids` caches its frame for broadcast consumers;
    the collecting consumer must drop that cache entry once it holds
    the rows, or every residual/OPQ query pins a copy for the session."""
    from mysql_cdc_spark.operators import similarity as S

    built = []
    make = S._quantized_centroids

    def spy(e):
        built.append(make(e))
        return built[-1]

    monkeypatch.setattr(S, "_quantized_centroids", spy)
    labels, _, _ = S._collected_centroids(emb)
    assert len(labels) == 3 and len(built) == 1
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.lookupCachedData(built[0]._jdf).isEmpty()
    assert not built[0].storageLevel.useMemory


@pytest.mark.parametrize("op", ["ann_ivfpq_residual", "ann_ivfpq_opq"])
def test_ivfpq_centroid_frame_carries_int64_labels(spark, op):
    """`_collected_centroids` holds int64 labels, so the centroid frame
    rebuilt from them must declare `label bigint`: a label of 2^31 or
    more used to fail the frame's INT schema.  Shifting every label by
    2^31 keeps their order (the cell tie rule), so the result must
    equal the small-label run row for row."""
    from mysql_cdc_spark.operators import similarity as S

    schema = "vec_id long, embedding array<float>, label bigint"
    rows = [(i, _vec(i), i % 3) for i in range(40)]
    small = spark.createDataFrame(rows, schema)
    big = spark.createDataFrame([(v, e, lbl + 2**31) for v, e, lbl in rows], schema)
    kw = {"rotation_int": S.fixed_rotation_int()} if op == "ann_ivfpq_opq" else {}
    fn = getattr(S, op)
    want = sorted(map(tuple, fn(small, n_queries=4, k=3, **kw).collect()))
    got = sorted(map(tuple, fn(big, n_queries=4, k=3, **kw).collect()))
    assert len(want) == 4 * 3
    assert got == want
