"""Retrieval and embedding evaluation keys (operators/llm_eval.py)
against brute-force definitions."""

from __future__ import annotations

from parquet_to_clickhouse_schema_spark import registry
from parquet_to_clickhouse_schema_spark.sources.io import load_table
from tests.conftest import SF_SMOKE

Q = registry.all_queries()


def test_map_eval_matches_bruteforce_ap(spark):
    """AP@k per query must equal the textbook computation done driver-side
    from the exact cosine ranking (same (cos desc, nbr_id) order)."""
    import math

    from parquet_to_clickhouse_schema_spark.operators.llm_ann import RQ_K

    rows = {r.vec_id: r for r in Q["q_map_eval"](spark, SF_SMOKE).collect()}
    emb = load_table(spark, SF_SMOKE, "embeddings").collect()
    vecs = {r.vec_id: (r.embedding, r.label) for r in emb}
    from collections import Counter

    label_counts = Counter(l for _, l in vecs.values())
    for qid, r in rows.items():
        qv, ql = vecs[qid]
        scored = []
        qn = math.sqrt(sum(x * x for x in qv))
        for nid, (nv, nl) in vecs.items():
            if nid == qid:
                continue
            dot = sum(float(a) * float(b) for a, b in zip(qv, nv))
            nn = math.sqrt(sum(float(x) * float(x) for x in nv))
            scored.append((-(dot / (qn * nn)), nid, nl))
        scored.sort()
        top = scored[:RQ_K]
        hits = cum = 0
        ap = 0.0
        for pos, (_, _, nl) in enumerate(top, start=1):
            if nl == ql:
                cum += 1
                ap += cum / pos
        denom = min(label_counts[ql] - 1, RQ_K)
        ap = ap / denom if denom > 0 else 0.0
        assert r.n_rel_topk == cum
        assert abs(r.ap - ap) < 2e-6


def test_class_weights_rebalance_exactly(spark):
    """Counts sum to the corpus, and the weighted example mass per class is
    uniform: w_c * n_c = N / k for every class (the 'balanced' identity)."""
    rows = Q["q_class_weights"](spark, SF_SMOKE).collect()
    emb = load_table(spark, SF_SMOKE, "embeddings")
    n = emb.count()
    k = len(rows)
    assert sum(r.n_examples for r in rows) == n
    for r in rows:
        assert abs(r.class_weight * r.n_examples - n / k) < n * 2e-6
        assert abs(r.freq - r.n_examples / n) < 2e-6


def test_dup_cluster_sizes_account_for_the_corpus(spark):
    """Cluster doc mass sums to the corpus, removable = docs − clusters,
    and totals agree with q_coverage_curve's 100% level."""
    rows = Q["q_dup_cluster_sizes"](spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    n = d.count()
    uniq = d.select("text").distinct().count()
    assert sum(r.n_docs for r in rows) == n
    assert sum(r.n_clusters for r in rows) == uniq
    assert sum(r.n_removable for r in rows) == n - uniq
    for r in rows:
        assert r.n_removable == r.n_docs - r.n_clusters
