"""Connected-components dedup clustering + observe() instrumentation."""

from pyspark.sql import functions as F

from parquet_to_clickhouse_schema_spark.operators.graph import (
    connected_components,
    dedup_clusters,
)
from parquet_to_clickhouse_schema_spark.plans.observe import with_quality_metrics
from parquet_to_clickhouse_schema_spark.sources.io import load_table
from tests.conftest import SF_SMOKE


def test_connected_components_planted_clusters(spark):
    # two triangles + one chain + one isolated pair: 4 clusters
    edges = spark.createDataFrame(
        [
            (1, 2), (2, 3), (1, 3),          # cluster min=1
            (10, 11), (11, 12),              # chain, min=10
            (20, 21),                        # pair, min=20
            (30, 31), (31, 32), (30, 32),    # triangle, min=30
        ],
        "doc_a long, doc_b long",
    )
    cc = {r.doc_id: r.cluster_id for r in connected_components(edges).collect()}
    assert cc == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
        30: 30, 31: 30, 32: 30,
    }


def test_connected_components_bridges_transitively(spark):
    # a-b and b-c pairs, never a-c directly: must land in one cluster
    edges = spark.createDataFrame([(5, 9), (9, 7)], "doc_a long, doc_b long")
    cc = {r.doc_id: r.cluster_id for r in connected_components(edges).collect()}
    assert set(cc.values()) == {5}


def test_long_chain_converges_in_log_rounds(spark):
    """Worst-case diameter: a 200-node path graph. Plain min-propagation
    needs 200 rounds; pointer jumping closes it within the 20-round cap."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "doc_a long, doc_b long"
    )
    cc = connected_components(chain, max_iterations=20)
    assert {r.cluster_id for r in cc.collect()} == {0}


def test_dedup_clusters_on_documents(spark):
    clusters = dedup_clusters(spark, SF_SMOKE)
    rows = clusters.collect()
    # representative is the min id of each cluster
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r.doc_id)
    for rep, members in by_cluster.items():
        assert rep == min(members)
    # deterministic across runs
    again = {(r.doc_id, r.cluster_id) for r in dedup_clusters(spark, SF_SMOKE).collect()}
    assert {(r.doc_id, r.cluster_id) for r in rows} == again


def test_observe_quality_metrics_single_pass(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    # plant nulls: value -> null for one event type
    dirty = ev.withColumn(
        "value", F.when(F.col("event_type") == "error", None).otherwise(F.col("value"))
    )
    instrumented, obs = with_quality_metrics(dirty, ["value", "props"])
    n = instrumented.count()  # the only action: metrics ride along
    m = obs.get
    assert m["n_rows"] == n
    expected_nulls = dirty.filter(F.col("value").isNull()).count()
    assert m["n_null_value"] == expected_nulls > 0
    assert m["n_null_props"] == 0


def test_pagerank_star_graph_ranks_hub_highest(spark):
    """On a directed star (all leaves -> hub, hub -> all leaves) the hub
    must dominate; ranks sum to 1; leaves tie exactly."""
    edges = [(f"l{i}", "hub") for i in range(8)] + [("hub", f"l{i}") for i in range(8)]
    df = spark.createDataFrame(edges, "src string, dst string")
    from parquet_to_clickhouse_schema_spark.operators.graph import pagerank

    pr = {r.id: r.rank for r in pagerank(df, iters=20).collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-6
    assert pr["hub"] > max(v for k, v in pr.items() if k != "hub") * 3
    leaf_vals = {round(v, 10) for k, v in pr.items() if k != "hub"}
    assert len(leaf_vals) == 1


def test_pagerank_dangling_mass_conserved(spark):
    """A sink node (no out-edges) must not leak rank mass: with the
    dangling redistribution, sum(rank) stays 1."""
    edges = [("a", "b"), ("b", "c"), ("a", "c")]  # c is a sink
    df = spark.createDataFrame(edges, "src string, dst string")
    from parquet_to_clickhouse_schema_spark.operators.graph import pagerank

    pr = {r.id: r.rank for r in pagerank(df, iters=15).collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-6
    assert pr["c"] > pr["b"] > pr["a"]


def test_q_pagerank_runs_and_is_stable(spark):
    from parquet_to_clickhouse_schema_spark.operators.graph import q_pagerank
    from tests.conftest import SF_SMOKE

    out = q_pagerank(spark, SF_SMOKE).collect()
    assert len(out) > 0
    assert abs(sum(r.rank for r in out) - 1.0) < 1e-3  # rounded to 6 dp
    # every node id is prefixed and ranks positive
    assert all(r.id[:2] in ("c:", "s:") and r.rank > 0 for r in out)


def test_q_pagerank_ranks_matches_q_pagerank(spark):
    """The oracle-gated projection (r10) runs the SAME iteration as
    q_pagerank — per-id rounded ranks must agree exactly, and per-family
    positions must be a 1..n permutation ordered by (pr desc, id)."""
    from parquet_to_clickhouse_schema_spark.operators.graph import (
        q_pagerank,
        q_pagerank_ranks,
    )
    from tests.conftest import SF_SMOKE

    base = {r.id: r.rank for r in q_pagerank(spark, SF_SMOKE).collect()}
    out = q_pagerank_ranks(spark, SF_SMOKE).collect()
    assert len(out) == len(base)
    for r in out:
        assert r.pr == base[r.id]
        assert r.node_type == r.id[0]
    for fam in ("c", "s"):
        rows = sorted(
            (r for r in out if r.node_type == fam), key=lambda r: (-r.pr, r.id)
        )
        assert [r.pos for r in rows] == list(range(1, len(rows) + 1))


def test_graph_triangles_on_planted_graph(spark, tmp_path):
    """q_graph_triangles (r10, oracle-gated): a planted K3 plus a dangling
    edge yields exactly 1 triangle, 5 wedges, C = 3/5."""
    rows = []
    # order 1 buys parts 1,2,3 (a K3); order 2 buys parts 3,4 (one edge)
    for ok, pk in [(1, 1), (1, 2), (1, 3), (2, 3), (2, 4)]:
        rows.append((ok, pk))
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    from parquet_to_clickhouse_schema_spark.operators.graph import (
        q_graph_triangles,
    )

    r = q_graph_triangles(spark, str(tmp_path)).collect()[0]
    assert r.n_edges == 4
    assert r.n_triangles == 1
    assert r.n_wedges == 5
    assert abs(r.clustering_coeff - 0.6) < 1e-6


def test_connected_components_old_carry_converges(spark):
    # a 9-chain plus a separate triangle: labels must reach the chain's
    # min in ceil(log2(diameter)) pointer-jumping rounds and stop
    edges = [(i, i + 1) for i in range(10, 19)] + [(1, 2), (2, 3), (1, 3)]
    df = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    got = {
        r.doc_id: r.cluster_id for r in connected_components(df).collect()
    }
    assert got == {**{i: 10 for i in range(10, 20)}, **{i: 1 for i in (1, 2, 3)}}
    # output schema carries no helper columns
    assert connected_components(df).columns == ["doc_id", "cluster_id"]


def test_cc_one_job_per_round_converges_exactly(spark):
    # 30-node chain bridged into a 5-clique: pointer jumping must close the
    # chain in O(log n) rounds and every vertex lands on min id 0
    chain = [(i, i + 1) for i in range(30)]
    clique = [(100 + a, 100 + b) for a in range(5) for b in range(a + 1, 5)]
    bridge = [(30, 100)]
    df = spark.createDataFrame(
        chain + clique + bridge, "doc_a LONG, doc_b LONG"
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(df).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 36
