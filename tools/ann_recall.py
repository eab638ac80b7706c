"""ANN recall@k vs exact-KNN ground truth (r13 VERDICT #3).

The ANN paths (similarity.ann_lsh / ann_ivf / ann_adc / ann_ivfpq) are
oracle-checked for hash parity only — the DuckDB oracle replicates the
SAME probe construction, so a recall cliff (buckets/cells/codes that
systematically miss true neighbors) is invisible to the gate.  This
tool measures recall@k of every ANN path against the exact brute-force
`knn` top-k on three fixtures:

- the organic embeddings at sf0.1,
- the x10 organic fixture (recall must not decay with scale),
- the ADVERSARIAL clustered fixture from tools/chain_recall.py
  (mutually near-orthogonal cluster centers funneled into one hot
  LSH bucket, members straddling a band hyperplane — the known
  sign-LSH miss shape).

recall@k per query = |ANN top-k ∩ exact top-k| / k, macro-averaged;
`min` is the worst single query.  Ties in both rankings break
identically (cosine desc, neighbor_id asc), so 1.0 is achievable.

Floors measured here are pinned in tests/test_ann_recall.py the same
way tests/test_chain_recall.py pins the dedup chain floors.

Usage: python tools/ann_recall.py [n_queries] [k]
Output: one JSON line per (fixture, path) + per-fixture truth stats.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

STRESS = Path(__file__).resolve().parent.parent / ".stream_tmp" / "stress"
ORGANIC_X10 = str(STRESS / "organic_x10")
ORGANIC_X100 = str(STRESS / "organic_x100")


def topk_sets(df) -> dict[int, set[int]]:
    """(query_id -> set of neighbor_ids) from a (query_id, neighbor_id,
    cosine, rank) result — driver-side, n_queries x k rows only."""
    out: dict[int, set[int]] = {}
    for r in df.select("query_id", "neighbor_id").collect():
        out.setdefault(r[0], set()).add(r[1])
    return out


def recall_at_k(truth: dict[int, set[int]], got: dict[int, set[int]]) -> dict:
    per_q = [
        len(truth[q] & got.get(q, set())) / len(truth[q])
        for q in truth
        if truth[q]
    ]
    return {
        "mean": round(sum(per_q) / len(per_q), 4),
        "min": round(min(per_q), 4),
        "n_queries": len(per_q),
    }


def adversarial_embeddings(spark, k_clusters: int = 12, members: int = 10):
    """The chain_recall adversarial embedding fixture as a DataFrame,
    with cluster ids as labels (the IVF coarse quantizer's cells)."""
    from tools.chain_recall import emb_fixture

    vecs = emb_fixture(k_clusters, members)
    rows = [(i, v, i % k_clusters) for i, v in vecs]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label long"
    )


def measure_one(spark, emb, n_queries: int, k: int, path_fn) -> dict:
    """recall@k of one ANN path (a callable emb -> result DataFrame)
    against the exact knn on the same fixture."""
    from mysql_cdc_spark.operators import similarity as sim

    emb = emb.cache()
    emb.count()
    truth = topk_sets(sim.knn(emb, n_queries=n_queries, k=k))
    got = topk_sets(path_fn(emb))
    emb.unpersist()
    return recall_at_k(truth, got)


def measure(spark, emb, n_queries: int, k: int) -> list[dict]:
    from mysql_cdc_spark.operators import similarity as sim

    emb = emb.cache()
    emb.count()
    truth = topk_sets(sim.knn(emb, n_queries=n_queries, k=k))
    paths = {
        # default = capped at ANN_DEFAULT_CAP (r16); the uncapped
        # opt-out is measured alongside so the cap's recall trade
        # stays visible round over round
        "ann_lsh": lambda: sim.ann_lsh(emb, n_queries=n_queries, k=k),
        "ann_lsh_uncapped": lambda: sim.ann_lsh(
            emb, n_queries=n_queries, k=k, max_candidates_per_query=None
        ),
        "ann_ivf": lambda: sim.ann_ivf(emb, n_queries=n_queries, k=k),
        "ann_adc": lambda: sim.ann_adc(emb, n_queries=n_queries, k=k),
        "ann_ivfpq": lambda: sim.ann_ivfpq(emb, n_queries=n_queries, k=k),
        "ann_ivfpq_residual": lambda: sim.ann_ivfpq_residual(
            emb, n_queries=n_queries, k=k
        ),
        # pure-ADC residual (rerank off): the rotation-comparison
        # baseline — r18's IVFADC+R default would mask what the OPQ
        # rotation itself buys
        "ann_ivfpq_residual_noR": lambda: sim.ann_ivfpq_residual(
            emb, n_queries=n_queries, k=k, rerank=None
        ),
        "ann_ivfpq_opq": lambda: sim.ann_ivfpq_opq(
            emb, n_queries=n_queries, k=k
        ),
    }
    out = []
    for name, fn in paths.items():
        got = topk_sets(fn())
        out.append({"path": name, **recall_at_k(truth, got)})
    emb.unpersist()
    return out


def main() -> None:
    n_queries = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 5

    from mysql_cdc_spark.session import get_spark
    from mysql_cdc_spark.sources.io import read_table

    spark = get_spark("ann-recall")
    spark.sparkContext.setLogLevel("ERROR")

    fixtures = [("sf0.1", read_table(spark, "/root/testdata/sf0.1", "embeddings"))]
    if Path(ORGANIC_X10, "_done").exists():
        fixtures.append(("x10", read_table(spark, ORGANIC_X10, "embeddings")))
    if Path(ORGANIC_X100, "_done").exists():
        # r17: recall at REAL x100 bucket occupancy — the candidate
        # cap went default in r16 on x10-and-below evidence; this row
        # pins what the cap does where buckets are 100x fuller.
        fixtures.append(("x100", read_table(spark, ORGANIC_X100, "embeddings")))
    fixtures.append(("adversarial", adversarial_embeddings(spark)))

    for label, emb in fixtures:
        n = emb.count()
        for row in measure(spark, emb, n_queries, k):
            print(json.dumps({"fixture": label, "n_vectors": n, "k": k, **row}),
                  flush=True)


if __name__ == "__main__":
    main()
