"""Iterative graph operator: connected components over near-duplicate pairs.

Near-dedup (MinHash/SimHash/embedding) emits PAIRS; deduplication needs
CLUSTERS — the transitive closure of those pairs — so every document maps to
one canonical representative. Connected components is the iterative
algorithm Spark's declarative layer can't express in one query; this is the
standard large-star/small-star-style label propagation:

    label(v) = min(doc_id) over v's neighborhood, iterated to fixpoint,
    accelerated by pointer jumping: each round also applies
    label(v) <- label(label(v)), which doubles the propagation distance
    per round, so convergence is O(log diameter), not O(diameter)
    (a 200-node chain closes in ~8 rounds instead of 200 — verified by
    the worst-case test).

Each iteration is joins + aggregations hash-partitioned on the vertex id;
convergence is checked with a cheap count of changed labels.
localCheckpoint() truncates the lineage each round — without it the plan
doubles per iteration and the job dies of planning overhead long before
data size matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_to_clickhouse_schema_spark._registry import new_registry
from parquet_to_clickhouse_schema_spark.functions.compat import qround
from parquet_to_clickhouse_schema_spark.sources.io import load_table

QUERIES, ORACLES, _q = new_registry()


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """(src, dst) edge list -> (doc_id, cluster_id); cluster_id = min member id.

    Deterministic: labels are ids, min is order-free. Isolated vertices are
    the caller's concern (documents with no near-dup pair keep their own id
    by definition — union them in if a total mapping is needed).
    """
    # r19 note: a variant that persisted edges pre-partitioned/pre-sorted
    # on v (to spare the per-round |E| exchange) measured SLOWER at sf0.1
    # (steal-filtered interleaved min 4.75 s vs 3.44 s old, quiet-window
    # reps consistently above both other forms): the pinned 32-partition
    # cache blocks AQE from coalescing the tiny per-round shuffles, and
    # task-launch overhead dominates at bench scale. Rejected; the edge
    # set stays a checkpointed frame whose per-round exchange AQE sizes.
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionAll(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )

    label_type = labels.schema["label"].dataType
    for _ in range(max_iterations):
        # hop: every vertex takes min(own label, neighbors' labels).
        # r18: the PREVIOUS label rides through the union as `old` (only
        # the self row carries it; max() picks the one non-null), so
        # convergence is a filter-count on the per-round frame — the
        # per-iteration new-vs-old compare JOIN (one extra two-sided
        # shuffle + job per round) is gone (guide §2.4). Interleaved A/B
        # at sf0.1 over the q_dedup_ngram J>=0.8 pair set: 2.20 → 1.90 s
        # median, identical 3098 labels. (A variant replacing the
        # union+groupBy hop with an aggregate-then-join measured NEUTRAL
        # and was not kept.)
        neighbor_labels = (
            edges.join(labels, edges.v == labels.id)
            .select(
                F.col("u").alias("id"),
                F.col("label"),
                F.lit(None).cast(label_type).alias("old"),
            )
        )
        # r19: persist `hopped` — the jump self-join consumes it twice, and
        # without materialization Spark re-executed the whole hop subtree
        # (edges⋈labels SMJ + union + two-phase aggregate) once PER SIDE —
        # the r18 before-subplans show the duplicated subtree verbatim
        # (plans/r19/q_dedup_pipeline_before_subplans.txt ops 1-18 vs
        # 19-35). The cache is |V|-sized (one row per vertex), populated by
        # the same job that checks convergence, and dropped at round end.
        hopped = (
            labels.select("id", "label", F.col("label").alias("old"))
            .unionAll(neighbor_labels)
            .groupBy("id")
            .agg(F.min("label").alias("label"), F.max("old").alias("old"))
            .persist()
        )
        # jump: label(v) <- min(label(v), label(label(v))) — doubles the
        # effective propagation distance, giving O(log diameter) rounds.
        # The cached hopped keeps its groupBy hashpartitioning(id), so the
        # jid side of the self-join needs no exchange; only the label side
        # is shuffled.
        lab2 = hopped.select(
            F.col("id").alias("jid"), F.col("label").alias("jlabel")
        )
        # r19: lazy checkpoint + count in ONE job — the convergence count
        # is the action that materializes the round's labels (and fills the
        # hopped cache on the way), replacing the eager-checkpoint job +
        # separate count job per round (guide §1.2/§2.4: don't pay two
        # passes where one suffices). VERDICT r18 next-round item #1.
        new_labels = (
            hopped.join(lab2, hopped.label == lab2.jid, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("jlabel"), F.col("label"))
                ).alias("label"),
                "old",
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("label") != F.col("old")).count()
        hopped.unpersist(blocking=False)
        labels = new_labels.select("id", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations; raise max_iterations (rounds needed ~ log2(diameter))"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def dedup_clusters(spark, sf_dir: str, threshold: float = 0.5) -> DataFrame:
    """MinHash near-dup pairs -> transitive dedup clusters with canonical
    representative per cluster (min doc_id). `jaccard` is the EXACT
    shingle-set Jaccard since the r9 verification promotion (was the
    minhash estimate)."""
    from parquet_to_clickhouse_schema_spark.operators.llm_dedup import (
        q_near_dedup_minhash,
    )

    pairs = q_near_dedup_minhash(spark, sf_dir).filter(
        F.col("jaccard") >= threshold
    )
    return connected_components(pairs)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 10,
) -> DataFrame:
    """Distributed power-iteration PageRank over a directed edge list →
    (id, rank), sum(rank) = 1.

    Per iteration: one equi-join of edges to ranks on the source id, one
    groupBy(dst) sum — both hash-partitioned on vertex id, the same
    shuffle discipline as connected_components — plus a 1-row aggregate
    collect for the dangling mass (nodes with no out-edges donate their
    rank uniformly; skipping this leaks mass and ranks drift low).
    localCheckpoint() truncates the lineage each round, without which the
    plan doubles per iteration. At 100 TB: ranks and edges shuffle on the
    vertex id; nothing driver-side ever exceeds one scalar per iteration.
    """
    nodes = (
        edges.select(F.col(src).alias("id"))
        .unionAll(edges.select(F.col(dst).alias("id")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    out_deg = edges.groupBy(src).agg(F.count("*").alias("deg"))
    e = (
        edges.join(out_deg, src)
        .select(F.col(src).alias("u"), F.col(dst).alias("v"), "deg")
        .localCheckpoint()
    )
    # graphs with no sinks (every node has an out-edge — e.g. the
    # bidirectional purchase graph) skip the per-iteration dangling-mass
    # job entirely: one anti-join up front instead of one 1-row aggregate
    # per iteration
    has_dangling = (
        nodes.join(out_deg, nodes.id == F.col(src), "left_anti").limit(1).count()
        > 0
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iters):
        contribs = e.join(ranks, e.u == ranks.id).select(
            F.col("v").alias("id"), (F.col("rank") / F.col("deg")).alias("c")
        )
        summed = contribs.groupBy("id").agg(F.sum("c").alias("s"))
        if has_dangling:
            # dangling mass = rank not emitted via any out-edge (1-row agg)
            emitted = (
                ranks.join(out_deg, ranks.id == F.col(src), "left_semi")
                .agg(F.sum("rank"))
                .collect()[0][0]
                or 0.0
            )
            dangling = max(1.0 - emitted, 0.0)
        else:
            dangling = 0.0
        ranks = (
            nodes.join(summed, "id", "left")
            .select(
                "id",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("s"), F.lit(0.0)) + F.lit(dangling / n))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks


@_q("q_pagerank")  # rows-only: iterative float fixpoint, no portable SQL twin
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer↔supplier purchase graph: an edge per
    distinct (customer, supplier) purchase relationship from
    lineitem⋈orders, both directions (bipartite random walk — a supplier
    is central when many well-connected customers buy from it). Same
    rows-only class as q_kmeans_clusters: the iteration has no portable
    SQL twin (recursive CTEs forbid aggregates in the recursive term).
    Returns every node with its rounded rank; prefixed ids keep the two
    node families distinct."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    rel = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("c"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )
    edges = rel.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        rel.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    pr = pagerank(edges, iters=8)
    return pr.select("id", qround(F.col("rank"), 6).alias("rank"))


@_q(
    "q_graph_degree",
    """
    WITH rel AS (
      SELECT DISTINCT 'c:' || o_custkey AS c, 's:' || l_suppkey AS s
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    deg AS (
      SELECT c AS id, count(*) AS degree FROM rel GROUP BY c
      UNION ALL
      SELECT s AS id, count(*) AS degree FROM rel GROUP BY s
    )
    SELECT substr(id, 1, 1) AS node_type,
           CAST(degree AS BIGINT) AS degree,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY 1, 2
    """,
)
def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the customer↔supplier purchase graph (the
    same edge set q_pagerank walks): how many customers buy from k
    suppliers, how many suppliers serve k customers. The first structural
    check on any graph workload — a heavy-tailed distribution predicts the
    hot-key skew an equi-partitioned graph algorithm must salt around, so
    this op IS the skew probe for the pagerank/components family.

    Scale shape: one distinct on the (customer, supplier) relationship
    (the fact-sized shuffle), then two tiny aggregates — per-node degree
    and the |distinct degrees|-row histogram. Unlike q_pagerank (iterative
    fixpoint, rows-only), this is pure declarative SQL and oracle-gated."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    rel = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("c"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )
    deg = rel.groupBy(F.col("c").alias("id")).agg(
        F.count("*").alias("degree")
    ).unionAll(
        rel.groupBy(F.col("s").alias("id")).agg(F.count("*").alias("degree"))
    )
    return deg.groupBy(
        F.substring("id", 1, 1).alias("node_type"),
        F.col("degree").cast("bigint").alias("degree"),
    ).agg(F.count("*").cast("bigint").alias("n_nodes"))


@_q(
    "q_copurchase_pairs",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY part_a, part_b
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 20
    """,
)
def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the part pairs most often bought in the
    same order (the input to association rules / 'frequently bought
    together'). Per-order item sets expand to ordered pairs (a < b kills
    the mirror duplicates) via a self-equi-join on the order key.

    Scale shape: pair expansion is quadratic in ORDER SIZE, not order
    count — baskets are bounded (~4 distinct parts here; retail baskets
    are dozens), so the pair stream is a small constant times the fact.
    The DISTINCT projection first drops duplicate (order, part) lines so
    quantity re-orders can't inflate counts; the final count is map-side
    combinable on the pair key and TakeOrdered keeps only the top 20."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("bigint").alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(20)
    )


@_q(
    "q_audience_overlap",
    """
    WITH tu AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    sizes AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM tu GROUP BY event_type
    ),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM tu a JOIN tu b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY type_a, type_b
    )
    SELECT type_a, type_b, n_both,
           floor((CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both))
                 * 1000000.0 + 0.5) / 1000000.0 AS jaccard
    FROM inter
    JOIN sizes sa ON sa.event_type = type_a
    JOIN sizes sb ON sb.event_type = type_b
    """,
)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap: Jaccard similarity of the USER SETS behind every
    pair of event types (do purchasers and error-hitters overlap?) —
    segment-overlap analysis, the exact version of what q_hll_sketch's
    mergeable sketches estimate at scale.

    Scale shape: the fact collapses to DISTINCT (type, user) first; the
    pair join is keyed on user_id (each user contributes |their types|²
    pairs — bounded by the type-domain size, 5 here), union sizes come
    from inclusion-exclusion (|A|+|B|-|A∩B|) so user sets are never
    materialized twice, and the size table is a |types|-row broadcast."""
    ev = load_table(spark, sf_dir, "events")
    tu = ev.select("event_type", "user_id").distinct()
    sizes = tu.groupBy(F.col("event_type").alias("sz_type")).agg(
        F.count("*").cast("bigint").alias("n")
    )
    a = tu.select(F.col("user_id").alias("u"), F.col("event_type").alias("type_a"))
    b = tu.select(F.col("user_id").alias("u"), F.col("event_type").alias("type_b"))
    inter = (
        a.join(b, "u")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    sa = sizes.select(F.col("sz_type").alias("type_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("sz_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            qround(
                F.col("n_both").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------- pagerank ---
# oracle twin (r10): the q_pagerank iteration count is small and fixed, so
# the power iteration UNROLLS into chained (non-recursive) CTEs — one
# join+aggregate per iteration, exactly the recurrence pagerank() runs.
# Recursive CTEs can't do this (no aggregates in the recursive term), but
# nothing stops a generated linear chain; this is what finally gives the
# iterative-graph family a driver-visible hash-checked row.

PAGERANK_ITERS = 8
PAGERANK_DAMPING = 0.85


def _pagerank_unrolled_oracle(iters: int = PAGERANK_ITERS) -> str:
    """Generate the DuckDB twin of pagerank() on the bidirectional
    customer<->supplier purchase graph: r_{t+1}(v) = (1-d)/n +
    d * sum_{u->v} r_t(u)/deg(u). The graph is symmetric, so every node
    has out-edges and the dangling-mass term is identically zero (the
    same shortcut pagerank() takes via its up-front anti-join)."""
    steps = [
        "r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"
    ]
    for t in range(iters):
        steps.append(
            f"""r{t + 1} AS (
      SELECT nodes.id,
             (1.0 - {PAGERANK_DAMPING}) / (SELECT n FROM nn)
             + {PAGERANK_DAMPING} * coalesce(agg.s, 0.0) AS rank
      FROM nodes LEFT JOIN (
        SELECT e.v AS id, sum(r.rank / d.deg) AS s
        FROM edges e JOIN r{t} r ON e.u = r.id JOIN deg d ON e.u = d.u
        GROUP BY e.v
      ) agg ON nodes.id = agg.id
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH rel AS (
      SELECT DISTINCT 'c:' || o_custkey AS c, 's:' || l_suppkey AS s
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT c AS u, s AS v FROM rel UNION ALL SELECT s AS u, c AS v FROM rel
    ),
    nodes AS (SELECT DISTINCT u AS id FROM edges),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT u, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY u),
    {chain}
    SELECT id, substr(id, 1, 1) AS node_type,
           floor(rank * 1000000.0 + 0.5) / 1000000.0 AS pr,
           CAST(row_number() OVER (
             PARTITION BY substr(id, 1, 1)
             ORDER BY floor(rank * 1000000.0 + 0.5) / 1000000.0 DESC, id
           ) AS INT) AS pos
    FROM r{iters}
    """


@_q("q_pagerank_ranks", _pagerank_unrolled_oracle())
def q_pagerank_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, oracle-gated (r10): the same power iteration as
    q_pagerank over the same bidirectional purchase graph, verified
    hash-for-hash against a DuckDB twin that UNROLLS the 8 iterations
    into chained CTEs — turning the "iterative float fixpoint, no
    portable SQL twin" family rows-only excuse into a real gate.

    Why the hash holds across engines: every input to the recurrence is
    exact (integer degrees, 1/n init), so after 8 iterations the two
    engines' doubles differ only by summation order — O(1e-15) relative —
    while ranks live at the 1e-3 scale and the output quantizes half-up
    at 1e-6; the per-family rank position is computed FROM the quantized
    value (deterministic (pr, id) order), so it inherits the agreement.

    Scale shape: identical to pagerank() (vertex-hash-partitioned
    join+agg per iteration, nothing driver-side but a 1-row count); the
    ranking window partitions by node family here (demo-sized); a
    real 100 TB ranking would use the two-phase range partitioning of
    q_window_rank_scalable instead of a per-family window."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    rel = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("c"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )
    edges = rel.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        rel.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    pr = pagerank(edges, damping=PAGERANK_DAMPING, iters=PAGERANK_ITERS)
    from pyspark.sql import Window

    pr_q = pr.select(
        "id",
        F.substring("id", 1, 1).alias("node_type"),
        qround(F.col("rank"), 6).alias("pr"),
    )
    w = Window.partitionBy("node_type").orderBy(F.col("pr").desc(), "id")
    return pr_q.withColumn("pos", F.row_number().over(w).cast("int"))


@_q(
    "q_graph_triangles",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT id, count(*) AS d FROM (
        SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e
      ) GROUP BY id
    ),
    eo AS (
      SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                  THEN e.u ELSE e.v END AS src,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                  THEN e.v ELSE e.u END AS dst
      FROM e
      JOIN deg du ON du.id = e.u
      JOIN deg dv ON dv.id = e.v
    ),
    tri AS (
      SELECT count(*) AS t
      FROM eo e1
      JOIN eo e2 ON e2.src = e1.dst
      JOIN eo e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    wed AS (SELECT sum(d * (d - 1) / 2) AS w FROM deg)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           CAST(tri.t AS BIGINT) AS n_triangles,
           CAST(wed.w AS BIGINT) AS n_wedges,
           floor(3.0 * tri.t / wed.w * 1000000.0 + 0.5) / 1000000.0
               AS clustering_coeff
    FROM tri CROSS JOIN wed
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the co-purchase
    graph (parts linked when one order contains both, the
    q_copurchase_pairs edge set): T from the degree-ordered closed-wedge
    join, W = Σ d(d−1)/2, and C = 3T/W — the density diagnostic behind
    community detection and recommendation quality (C ≈ 0 means baskets
    don't cluster).

    Exact integer counting; only the coefficient is quantized. Scale
    shape: edges are oriented from the lower-(degree, id) endpoint before
    wedging (the standard compact-forward / arboricity refinement, cf.
    Chiba-Nishizeki and Suri-Vassilvitskii "Counting triangles and the
    curse of the last reducer", WWW'11), so per-node wedge fan-out is
    bounded by out-degree ≤ O(√m) instead of max degree — hub nodes stop
    dominating a single reducer. The orientation is a DAG: a triangle's
    (deg,id)-smallest vertex a sees a→b, a→c, b→c, so the e1(a,b)⋈e2(b,c)
    wedge join plus the (a,c) closure equi-join counts each triangle
    exactly once. The DuckDB twin applies the identical orientation, so
    the output stays byte-identical to the ID-ordered form. The degree
    table is |V|-sized (node-, not edge-cardinality); AQE broadcasts it at
    test scale and it stays a linear shuffle join beyond.

    Plan-reuse note (r12): `e`, `deg`, and `eo` are each consumed by
    multiple downstream branches (eo feeds the wedge join THREE times as
    e1/e2/e3; e feeds deg and the edge count; deg feeds du/dv/wed). Spark
    is lazy, so without truncation every branch re-executes the whole
    distinct-self-join subtree — the r11 plan carried 94 Exchanges for a
    4-value output. Each is localCheckpoint'ed once (the q_dedup_pipeline
    idiom): e and eo are |E|-sized two-int-column sets, deg is |V|-sized —
    all bounded, executor-resident, and far cheaper to hold than to
    recompute 3x at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("u").alias("id"))
        .unionAll(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("d"))
        .localCheckpoint()
    )
    du = deg.select(F.col("id").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("d").alias("dv"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    eo = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        .localCheckpoint()
    )
    e1, e2, e3 = eo.alias("e1"), eo.alias("e2"), eo.alias("e3")
    # closure join key: the wedge set is the LARGE side (Σ out-deg² — 49M
    # wedges vs 1.2M edges at sf0.1), so its shuffle+sort dominates the
    # query. Packing (src, dst) into one int64 halves the sort key and
    # measured 2.2× on the FULL query (7.9 s → 3.6 s, identical count;
    # fresh plans per rep — same-DF re-collects reuse shuffle files and
    # read 0.03 s, a measurement trap). Packing is collision-free only
    # when ids < 2³¹, checked against the already-checkpointed |V|-sized
    # degree table (one scalar agg); wider id spaces keep the exact
    # two-column composite join.
    # non-negativity matters too: src = -2^31 would overflow the packed
    # long while passing a max-only check (ADVICE r13) — one extra agg on
    # the already-checkpointed |V|-sized degree table is effectively free
    bounds = deg.agg(
        F.max("id").alias("mx"), F.min("id").alias("mn")
    ).collect()[0]
    max_id, min_id = bounds["mx"] or 0, bounds["mn"] or 0
    # r19 (VERDICT r18 #2): scoped SHUFFLE_HASH hints (guide §3.1). The
    # closure join streams the quadratic wedge set (Σ out-deg² — 49M rows
    # at sf0.1) against the |E|-sized oriented-edge key set; sort-merge
    # sorted all 49M wedge keys just to probe 1.2M edges. Building a hash
    # table from the EDGE side per partition (|E|/P rows — bounded by the
    # input, never the wedge set) removes that sort entirely; AQE skew
    # splitting still applies to shuffled-hash joins. The wedge join's e2
    # side gets the same hint (both sides |E|-sized; hash build beats two
    # sorts). Hints are per-join, not an engine-wide
    # preferSortMergeJoin=false, so no other query's plan can change.
    if 0 <= min_id and max_id < 2**31:
        pack = 4294967296  # 2^32: src*2^32 + dst stays inside int64
        ek = eo.select(
            (F.col("src").cast("long") * pack + F.col("dst")).alias("key")
        )
        tri = (
            e1.join(e2.hint("shuffle_hash"), F.col("e2.src") == F.col("e1.dst"))
            .select(
                (F.col("e1.src").cast("long") * pack + F.col("e2.dst")).alias(
                    "key"
                )
            )
            .join(ek.hint("shuffle_hash"), "key")
            .agg(F.count("*").alias("t"))
        )
    else:
        tri = (
            e1.join(e2.hint("shuffle_hash"), F.col("e2.src") == F.col("e1.dst"))
            .join(
                e3.hint("shuffle_hash"),
                (F.col("e3.src") == F.col("e1.src"))
                & (F.col("e3.dst") == F.col("e2.dst")),
            )
            .agg(F.count("*").alias("t"))
        )
    wed = deg.agg(F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("w"))
    ne = e.agg(F.count("*").alias("n_edges"))
    return (
        tri.crossJoin(F.broadcast(wed))
        .crossJoin(F.broadcast(ne))
        .select(
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("t").cast("bigint").alias("n_triangles"),
            F.col("w").cast("bigint").alias("n_wedges"),
            qround(3.0 * F.col("t") / F.col("w"), 6).alias("clustering_coeff"),
        )
    )


LIFT_TOP = 20


@_q(
    "q_lift_confidence",
    f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items),
    freq AS (SELECT l_partkey, count(*) AS n_p FROM items GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS n_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, CAST(n_ab AS BIGINT) AS n_ab,
           floor(n_ab * 1000000.0 / n.n_orders + 0.5) / 1000000.0 AS support,
           floor(n_ab * 1000000.0 / fa.n_p + 0.5) / 1000000.0
               AS confidence_a_to_b,
           floor(n_ab * 1.0 * n.n_orders / (fa.n_p * fb.n_p)
                 * 1000000.0 + 0.5) / 1000000.0 AS lift
    FROM pairs
    JOIN freq fa ON fa.l_partkey = part_a
    JOIN freq fb ON fb.l_partkey = part_b
    CROSS JOIN n
    ORDER BY n_ab DESC, part_a, part_b LIMIT {LIFT_TOP}
    """,
)
def q_lift_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule metrics for the top-{LIFT_TOP} co-purchase pairs:
    support, confidence(a→b) and lift (observed co-rate over the
    independence expectation) — the numbers that turn q_copurchase_pairs'
    raw counts into a recommendation decision (lift ≈ 1 means the pair
    co-occurs by chance no matter how large its count; confidence prices
    the cross-sell).

    Exact integer counts with three quantized ratios; the basket
    self-join is the q_copurchase_pairs equi-join on the shared order,
    item frequencies broadcast back. TakeOrdered top-{LIFT_TOP} by raw
    integer count with id tiebreaks."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n = items.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    freq = items.groupBy("l_partkey").agg(F.count("*").alias("n_p"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_ab"))
    )
    fa = freq.select(F.col("l_partkey").alias("part_a"), F.col("n_p").alias("n_a"))
    fb = freq.select(F.col("l_partkey").alias("part_b"), F.col("n_p").alias("n_b"))
    return (
        pairs.join(fa, "part_a")
        .join(fb, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            (
                F.floor(F.col("n_ab") * 1000000.0 / F.col("n_orders") + F.lit(0.5))
                / 1000000.0
            ).alias("support"),
            (
                F.floor(F.col("n_ab") * 1000000.0 / F.col("n_a") + F.lit(0.5))
                / 1000000.0
            ).alias("confidence_a_to_b"),
            qround(
                F.col("n_ab") * 1.0 * F.col("n_orders")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("n_ab").desc(), "part_a", "part_b")
        .limit(LIFT_TOP)
    )
