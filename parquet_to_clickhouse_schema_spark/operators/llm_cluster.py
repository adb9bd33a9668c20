"""Embedding clustering + corpus-quality operators: k-means (Lloyd's and
its unrolled verified twin), SemDeDup, hard-negative mining, random
projection, centroid/outlier reports, text stats, multimodal column
plumbing, fuzzy q-gram pairs, keep-best dedup election, dup-rate report,
ExactSubstr substring dedup, embedding quantization, containment dedup.

Split out of operators/llm.py in r18 (VERDICT r17 task #5) — a mechanical
move, no behavior change.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_to_clickhouse_schema_spark._registry import new_registry
from parquet_to_clickhouse_schema_spark.functions.compat import qround, sql_qround
from parquet_to_clickhouse_schema_spark.sources.io import load_table

QUERIES, ORACLES, _q = new_registry()

from parquet_to_clickhouse_schema_spark.operators.llm_dedup import (
    _embeddings_rowcount,
    _empty_pairs,
    _partial_topk,
)
from parquet_to_clickhouse_schema_spark.operators.llm_ann import (
    ANN_V_DIM,
    _IVF_GRID_SQL,
    _md5_unit_grid,
    kmeans_fit,
)


KMV_K = 8  # clusters in the verified twin

_KMEANS_VERIFIED_ORACLE = f"""
    WITH c0 AS ({_IVF_GRID_SQL.format(tag="km", n=KMV_K, dim=ANN_V_DIM)}),
    ex AS (
      SELECT vec_id, unnest(range(0, len(embedding))) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    d0 AS (
      SELECT vec_id, c AS cid, sum((v - val) * (v - val)) AS d2
      FROM ex JOIN c0 USING (d) GROUP BY vec_id, c
    ),
    a1 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d0
      ) WHERE rn = 1
    ),
    m1 AS (
      SELECT cid, d, avg(v) AS val
      FROM ex JOIN a1 USING (vec_id) GROUP BY cid, d
    ),
    d1 AS (
      SELECT ex.vec_id, m1.cid, sum((v - val) * (v - val)) AS d2
      FROM ex JOIN m1 USING (d) GROUP BY ex.vec_id, m1.cid
    ),
    a2 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d1
      ) WHERE rn = 1
    ),
    m2 AS (
      SELECT cid, d, avg(v) AS m
      FROM ex JOIN a2 USING (vec_id) GROUP BY cid, d
    ),
    sizes AS (
      SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs FROM a2 GROUP BY cid
    )
    SELECT CAST(s.cid AS INT) AS cid, s.n_vecs,
           floor(sqrt(sum(m * m)) * 1000000.0 + 0.5) / 1000000.0
             AS centroid_norm
    FROM m2 JOIN sizes s USING (cid)
    GROUP BY s.cid, s.n_vecs
"""


@_q("q_kmeans_verified", _KMEANS_VERIFIED_ORACLE)
def q_kmeans_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations with a FULL oracle gate (r10): the init
    centroids are the md5-derived grid, and the fixed two-step iteration
    (assign → mean-update → assign → mean-update) is unrolled into chained
    CTEs — the same unrolling that gave q_pagerank_ranks its gate — so the
    DuckDB twin reproduces assignments, cluster sizes and the final
    centroid norms exactly. q_kmeans_clusters stays the production path
    (distributed Lloyd's to convergence via mapInPandas matmuls); this twin
    hash-certifies the assign/update arithmetic the iteration is built
    from.

    Scale shape: every stage is the distributed column-sum form — distances
    are one map-side-combined groupBy(vec_id, cid) over the posexploded
    stream joined to a BROADCAST centroid table ({KMV_K}x{ANN_V_DIM} init
    grid; iteration means are at most as large), assignment is a
    per-vector window over {KMV_K} rows, and mean-update shuffles only
    (cluster, dim) partial sums. No vector and no centroid matrix ever
    needs driver-side materialization. Float caveat: argmin compares
    distances to DISTINCT centroids (gaps ~1e-1 at init, ~1e-2 after one
    update) against ~1e-15 cross-engine summation noise; the output norm
    is quantized at 1e-6."""
    ex = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.posexplode("embedding").alias("d", "v"))
        .withColumn("v", F.col("v").cast("double"))
    )
    cent = _md5_unit_grid(spark, "km", KMV_K, ANN_V_DIM).select(
        F.col("c").alias("cid"), "d", "val"
    )

    def assign(centroids: DataFrame) -> DataFrame:
        d2 = (
            ex.join(F.broadcast(centroids), "d")
            .groupBy("vec_id", "cid")
            .agg(
                F.sum(
                    (F.col("v") - F.col("val")) * (F.col("v") - F.col("val"))
                ).alias("d2")
            )
        )
        w = Window.partitionBy("vec_id").orderBy("d2", "cid")
        return (
            d2.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cid")
        )

    def update(assigned: DataFrame) -> DataFrame:
        return (
            ex.join(assigned, "vec_id")
            .groupBy("cid", "d")
            .agg(F.avg("v").alias("val"))
        )

    a1 = assign(cent)
    a2 = assign(update(a1))
    m2 = update(a2).withColumnRenamed("val", "m")
    sizes = a2.groupBy("cid").agg(F.count("*").cast("bigint").alias("n_vecs"))
    return (
        m2.groupBy("cid")
        .agg(qround(F.sqrt(F.sum(F.col("m") * F.col("m"))), 6).alias("centroid_norm"))
        .join(sizes, "cid")
        .select(
            F.col("cid").cast("int").alias("cid"),
            "n_vecs",
            "centroid_norm",
        )
    )


# On trained encoders SemDeDup runs at tau ~0.95+; this synthetic corpus's
# embeddings are near-random (within-cluster cosine tail maxes ~0.48 at
# sf0.01), so the demo threshold sits where the tail has mass at every SF
SEMDEDUP_TAU = 0.4

_SEMDEDUP_ORACLE = f"""
    WITH c0 AS ({_IVF_GRID_SQL.format(tag="km", n=KMV_K, dim=ANN_V_DIM)}),
    ex AS (
      SELECT vec_id, unnest(range(0, len(embedding))) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    d0 AS (
      SELECT vec_id, c AS cid, sum((v - val) * (v - val)) AS d2
      FROM ex JOIN c0 USING (d) GROUP BY vec_id, c
    ),
    a1 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d0
      ) WHERE rn = 1
    ),
    norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
    cand AS (
      SELECT l.vec_id AS lo, h.vec_id AS hi, l.cid
      FROM a1 l JOIN a1 h ON l.cid = h.cid AND l.vec_id < h.vec_id
    ),
    dots AS (
      SELECT c.lo, c.hi, c.cid, sum(a.v * b.v) AS dot
      FROM cand c
      JOIN ex a ON a.vec_id = c.lo
      JOIN ex b ON b.vec_id = c.hi AND a.d = b.d
      GROUP BY c.lo, c.hi, c.cid
    ),
    sim AS (
      SELECT lo, hi, cid,
             floor(dot / (na.nrm * nb.nrm) * 10000.0 + 0.5) / 10000.0 AS cos
      FROM dots
      JOIN norms na ON lo = na.vec_id
      JOIN norms nb ON hi = nb.vec_id
    )
    SELECT hi AS vec_id, CAST(cid AS INT) AS cid,
           CAST(min(lo) AS BIGINT) AS keeper_id, max(cos) AS max_cos
    FROM sim WHERE cos >= {SEMDEDUP_TAU}
    GROUP BY hi, cid
"""


@_q("q_semdedup", _SEMDEDUP_ORACLE)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup with
    the quadratic bounded BY CLUSTERING — assign every embedding to its
    nearest md5-grid centroid (the q_kmeans_verified init assignment, so
    the whole pipeline stays oracle-gated), compare pairs only WITHIN a
    cluster, and drop any vector that has a lower-id in-cluster neighbor
    with cosine >= {SEMDEDUP_TAU} (greedy keep-lowest-id, the same policy
    as exact dedup's rep election; a dropped row's keeper may itself chain
    to a lower keeper). Output: dropped vec_id, its cluster, its keeper,
    and the max duplicate similarity.

    This is the scale design the paper exists for: all-pairs cosine is
    O(n²), but with k clusters the work is O(n²/k) and k GROWS with the
    corpus (k ∝ n keeps expected cluster size — and so per-cluster pair
    work — constant; the 100 TB dial is k, not a rewrite). Each cluster's
    pairwise block is ONE BLAS matmul in groupBy(cid).applyInPandas — the
    cluster-fits-a-task partitioning is the paper's own contract. Cosines
    are quantized at 1e-4 BEFORE thresholding so the tau comparison is
    bit-identical cross-engine."""
    ex = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.posexplode("embedding").alias("d", "v"))
        .withColumn("v", F.col("v").cast("double"))
    )
    cent = _md5_unit_grid(spark, "km", KMV_K, ANN_V_DIM).select(
        F.col("c").alias("cid"), "d", "val"
    )
    d0 = (
        ex.join(F.broadcast(cent), "d")
        .groupBy("vec_id", "cid")
        .agg(
            F.sum((F.col("v") - F.col("val")) * (F.col("v") - F.col("val"))).alias(
                "d2"
            )
        )
    )
    wa = Window.partitionBy("vec_id").orderBy("d2", "cid")
    a1 = (
        d0.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    # within-cluster pairs as ONE BLAS matmul per cluster: SemDeDup's
    # contract is that k grows with the corpus so a cluster fits a task —
    # groupBy(cid).applyInPandas IS the paper's partitioning (measured:
    # the zip_with pair-fold formulation of the same output ran 5.8 s at
    # sf0.1; this kernel ~1.5 s)
    import numpy as np
    import pandas as pd

    assigned = a1.join(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        "vec_id",
    )

    def cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(
                {
                    "vec_id": pd.Series(dtype="int64"),
                    "cid": pd.Series(dtype="int32"),
                    "keeper_id": pd.Series(dtype="int64"),
                    "max_cos": pd.Series(dtype="float64"),
                }
            )
        ids = pdf["vec_id"].to_numpy()
        mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        norms = np.sqrt((mat * mat).sum(axis=1))
        cos = (mat @ mat.T) / (norms[:, None] * norms[None, :])
        # half-up quantization BEFORE thresholding, matching the oracle
        qcos = np.floor(cos * 10000.0 + 0.5) / 10000.0
        dup = (qcos >= SEMDEDUP_TAU) & (ids[:, None] < ids[None, :])
        out_vec, out_keep, out_max = [], [], []
        for j in np.nonzero(dup.any(axis=0))[0]:
            rows = dup[:, j]
            out_vec.append(ids[j])
            out_keep.append(ids[rows].min())
            out_max.append(qcos[rows, j].max())
        return pd.DataFrame(
            {
                "vec_id": np.array(out_vec, dtype="int64"),
                "cid": np.full(len(out_vec), int(pdf["cid"].iloc[0]), dtype="int32"),
                "keeper_id": np.array(out_keep, dtype="int64"),
                "max_cos": np.array(out_max, dtype="float64"),
            }
        )

    return assigned.groupBy("cid").applyInPandas(
        cluster_pairs, schema="vec_id long, cid int, keeper_id long, max_cos double"
    )


HN_K = 2  # hard negatives mined per anchor

_HARD_NEGATIVES_ORACLE = f"""
    WITH ex AS (
      SELECT vec_id, unnest(range(0, len(embedding))) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    meta AS (SELECT vec_id, label FROM embeddings),
    norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
    cand AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neg_id, b.label AS neg_label
      FROM meta a JOIN meta b ON a.label <> b.label
    ),
    dots AS (
      SELECT c.vec_id, c.neg_id, c.neg_label, sum(ea.v * eb.v) AS dot
      FROM cand c
      JOIN ex ea ON ea.vec_id = c.vec_id
      JOIN ex eb ON eb.vec_id = c.neg_id AND ea.d = eb.d
      GROUP BY 1, 2, 3
    ),
    sim AS (
      SELECT d.vec_id, d.neg_id, d.neg_label,
             floor(d.dot / (na.nrm * nb.nrm) * 10000.0 + 0.5) / 10000.0
               AS cosine
      FROM dots d
      JOIN norms na ON d.vec_id = na.vec_id
      JOIN norms nb ON d.neg_id = nb.vec_id
    )
    SELECT vec_id, neg_id, CAST(neg_label AS INT) AS neg_label, cosine
    FROM (
      SELECT vec_id, neg_id, neg_label, cosine,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cosine DESC, neg_id) AS rn
      FROM sim
    ) WHERE rn <= {HN_K}
"""


@_q("q_hard_negatives", _HARD_NEGATIVES_ORACLE)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for every
    anchor, the {HN_K} most-similar vectors with a DIFFERENT label — the
    negatives that actually move the loss (DPR/Contriever-style training
    samples its negatives exactly this way). Exact semantics, oracle-gated.

    Plan shape: the cosine_topk_blocked tile-cogroup kernel (2-D blocked
    all-pairs, one BLAS matmul per tile) with the label mask applied
    INSIDE the kernel (same-label scores forced to -inf before the
    partial top-{HN_K}) — a zip_with-fold formulation of the same output
    measured 26 s at sf0.1 vs ~1 s for this kernel, the standard
    expression-vs-BLAS gap on dense all-pairs. This brute pass is the
    labeled O(n²) baseline (same status as q_cosine_topk); at 100 TB mine
    per label-pair with the ANN family (IVF lists built per target
    label), which keeps the same output contract. Ranking follows the
    quantize-then-rank discipline: cosines are floor-half-up quantized at
    1e-4 inside the kernel and ranked (qcos desc, neg_id) everywhere, so
    per-tile partials, the global re-rank and the DuckDB oracle order
    bit-identically even among duplicate vectors."""
    import numpy as np
    import pandas as pd

    n = _embeddings_rowcount(sf_dir)  # footer metadata, no Spark job
    n_blocks = max(1, -(-n // 1024))
    eq = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    ei = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    fanout = eq.withColumn(
        "qblk", F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int")
    ).withColumn(
        "iblk", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)).cast("array<int>"))
    )
    indexed = ei.withColumn(
        "iblk", F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int")
    ).withColumn(
        "qblk", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)).cast("array<int>"))
    )

    def negatives_cogroup(qpdf: pd.DataFrame, ipdf: pd.DataFrame) -> pd.DataFrame:
        if len(qpdf) == 0 or len(ipdf) == 0:
            return _empty_pairs("qcos")
        a_ids = qpdf["vec_id"].to_numpy()
        a_lab = qpdf["label"].to_numpy()
        a_mat = np.stack(qpdf["embedding"].to_numpy()).astype("float64")
        a_norms = np.sqrt((a_mat * a_mat).sum(axis=1))
        b_ids = ipdf["vec_id"].to_numpy()
        b_lab = ipdf["label"].to_numpy()
        b_mat = np.stack(ipdf["embedding"].to_numpy()).astype("float64")
        b_norms = np.sqrt((b_mat * b_mat).sum(axis=1))
        cos = (a_mat @ b_mat.T) / (a_norms[:, None] * b_norms[None, :])
        # half-up quantization (NOT np.round: banker's) BEFORE ranking,
        # matching the oracle's floor(cos*1e4+0.5)/1e4 ORDER BY
        qcos = np.floor(cos * 10000.0 + 0.5) / 10000.0
        qcos[a_lab[:, None] == b_lab[None, :]] = -np.inf
        out_vec, out_nbr, out_sc = _partial_topk(a_ids, b_ids, qcos, HN_K)
        if not out_vec:
            return _empty_pairs("qcos")
        return pd.DataFrame({"vec_id": out_vec, "nbr_id": out_nbr, "qcos": out_sc})

    partials = (
        fanout.groupBy("qblk", "iblk")
        .cogroup(indexed.groupBy("qblk", "iblk"))
        .applyInPandas(negatives_cogroup, schema="vec_id long, nbr_id long, qcos double")
        .filter(F.col("qcos") != float("-inf"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("qcos").desc(), "nbr_id")
    meta = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").cast("int").alias("neg_label"),
    )
    return (
        partials.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= HN_K)
        .withColumnRenamed("nbr_id", "neg_id")
        .join(F.broadcast(meta), "neg_id")
        .select("vec_id", "neg_id", "neg_label", F.col("qcos").alias("cosine"))
    )


RP_K = 16  # projected dimensionality (64 -> 16)

_RANDOM_PROJECTION_ORACLE = f"""
    WITH grid AS (
      {_IVF_GRID_SQL.format(tag="rp", n=RP_K, dim=ANN_V_DIM)}
    ),
    ex AS (
      SELECT vec_id, unnest(range(0, len(embedding))) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    proj AS (
      SELECT vec_id, c AS r, sum(v * val) * sqrt(0.1875) AS p
      FROM ex JOIN grid USING (d) GROUP BY vec_id, c
    ),
    pn AS (SELECT vec_id, sqrt(sum(p * p)) AS proj_norm FROM proj GROUP BY vec_id),
    nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id)
    SELECT pn.vec_id,
           floor(proj_norm * 1000000.0 + 0.5) / 1000000.0 AS proj_norm,
           floor(proj_norm / nrm * 10000.0 + 0.5) / 10000.0 AS norm_ratio
    FROM pn JOIN nrm ON pn.vec_id = nrm.vec_id
"""


@_q("q_random_projection", _RANDOM_PROJECTION_ORACLE)
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection ({ANN_V_DIM} -> {RP_K} dims)
    with a FULL oracle gate: the projection matrix is the md5-derived grid
    (uniform [-1, 1] entries, variance 1/3, scaled by sqrt(3/{RP_K}) so
    E[||Px||²] = ||x||²), and the output reports each vector's projected
    norm plus the norm-preservation ratio — the standard sanity metric
    before feeding a reduced index. Dim reduction is the front half of
    every large-scale ANN/clustering pipeline (shrink 100 TB of float32
    embeddings 4x before the index build); deterministic matrices make it
    reproducible and cross-engine checkable.

    Scale shape: the matrix ({RP_K}x{ANN_V_DIM}) is a broadcast; the
    projection is one map-side-combined groupBy(vec_id, r) over the
    posexploded stream (n x dim rows in, n x {RP_K} out); norms collapse
    per vector. No shuffle carries anything wider than {RP_K} doubles per
    vector. Deliberately NOT the row-local array-fold form (r16
    measured-and-rejected: interpreted HOF lambdas cost more than the
    codegen'd explode + combine here — interleaved A/B at sf0.1: explode
    0.61 s vs fold 1.02 s; the fold form pays {RP_K}x{ANN_V_DIM}
    interpreted multiplies per row to avoid a shuffle the map-side
    combine already made cheap). Float caveat: 64-term sums differ
    ~1e-15 cross-engine; outputs quantized at 1e-6 / 1e-4."""
    grid = _md5_unit_grid(spark, "rp", RP_K, ANN_V_DIM)
    ex = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.posexplode("embedding").alias("d", "v"))
        .withColumn("v", F.col("v").cast("double"))
    )
    proj = (
        ex.join(F.broadcast(grid), "d")
        .groupBy("vec_id", F.col("c").alias("r"))
        .agg((F.sum(F.col("v") * F.col("val")) * F.sqrt(F.lit(0.1875))).alias("p"))
    )
    pn = proj.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("p") * F.col("p"))).alias("proj_norm")
    )
    nrm = ex.groupBy("vec_id").agg(F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nrm"))
    return pn.join(nrm, "vec_id").select(
        "vec_id",
        qround(F.col("proj_norm"), 6).alias("proj_norm"),
        qround(F.col("proj_norm") / F.col("nrm"), 4).alias("norm_ratio"),
    )


_EMBED_CENTROID_ORACLE = """
    WITH ex AS (
      SELECT label,
             unnest(range(1, len(embedding) + 1)) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    per_dim AS (
      SELECT label, i, avg(v) AS m, count(*) AS c FROM ex GROUP BY label, i
    )
    SELECT label,
           CAST(max(c) AS BIGINT) AS n_vecs,
           floor(sqrt(sum(m * m)) * 1000000.0 + 0.5) / 1000000.0 AS centroid_norm
    FROM per_dim GROUP BY label
"""


@_q("q_embed_centroid", _EMBED_CENTROID_ORACLE)
def q_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (class prototype): vector mean computed
    as posexplode → groupBy(label, dim) — the distributed column-sum form.

    At 100 TB this is the scale-correct shape for dense-vector reductions:
    the first aggregate is map-side-combined per (label, dim) so the shuffle
    carries |labels| x dim partial sums, not vectors; the second collapses
    dims into the centroid L2 norm. No vector ever needs to fit in one task,
    and there is no driver-side math. Output is scalar-only (the guard
    forbids array columns), so the centroid itself is summarized by its
    norm; n_vecs is carried as max of the per-dim counts (identical across
    dims by construction)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "label", F.posexplode("embedding").alias("i", "v")
    )
    per_dim = e.groupBy("label", "i").agg(
        F.avg(F.col("v").cast("double")).alias("m"), F.count("*").alias("c")
    )
    return per_dim.groupBy("label").agg(
        F.max("c").cast("bigint").alias("n_vecs"),
        qround(F.sqrt(F.sum(F.col("m") * F.col("m"))), 6).alias("centroid_norm"),
    )


_EMBED_OUTLIERS_ORACLE = """
    WITH ex AS (
      SELECT vec_id, label,
             unnest(range(1, len(embedding) + 1)) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    cent AS (SELECT label, i, avg(v) AS m FROM ex GROUP BY label, i),
    dist AS (
      SELECT vec_id, ex.label AS label, sqrt(sum((v - m) * (v - m))) AS d
      FROM ex JOIN cent ON ex.label = cent.label AND ex.i = cent.i
      GROUP BY vec_id, ex.label
    ),
    stats AS (
      SELECT label, avg(d) AS mu, stddev_samp(d) AS sd FROM dist GROUP BY label
    )
    SELECT vec_id, dist.label AS label,
           floor(d * 1000000.0 + 0.5) / 1000000.0 AS dist,
           floor((d - mu) / sd * 1000000.0 + 0.5) / 1000000.0 AS z,
           ((d - mu) / sd) > 2.0 AS is_outlier
    FROM dist JOIN stats ON dist.label = stats.label
"""


@_q("q_embed_outliers", _EMBED_OUTLIERS_ORACLE)
def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection: each vector's L2 distance to its
    OWN label's centroid, z-scored within the label — the mislabeled-data /
    corrupt-embedding screen a training pipeline runs before contrastive or
    classifier training (a vector far from its class prototype is either
    noise or a labeling error).

    Scale shape: centroids come from the same posexplode → (label, dim)
    column-sum as q_embed_centroid (shuffle carries |labels| x dim partial
    sums); the centroid table is tiny, so its join back onto the exploded
    stream is an AQE broadcast; per-vector distances re-aggregate with ONE
    fact-sized shuffle; the per-label moment table (|labels| rows) is again
    a broadcast. No UDF, no driver math, no vector in a single task."""
    ex = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.posexplode("embedding").alias("i", "v")
    ).withColumn("v", F.col("v").cast("double"))
    cent = ex.groupBy("label", "i").agg(F.avg("v").alias("m"))
    dist = (
        ex.join(cent, ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(F.sqrt(F.sum((F.col("v") - F.col("m")) * (F.col("v") - F.col("m")))).alias("d"))
    )
    stats = dist.groupBy("label").agg(
        F.avg("d").alias("mu"), F.stddev_samp("d").alias("sd")
    )
    z = (F.col("d") - F.col("mu")) / F.col("sd")
    return dist.join(stats, "label").select(
        "vec_id",
        "label",
        qround(F.col("d"), 6).alias("dist"),
        qround(z, 6).alias("z"),
        (z > 2.0).alias("is_outlier"),
    )


# ------------------------------------------------------------ text stats ---


@_q(
    "q_text_stats",
    """
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           floor((avg(CAST(len(string_split(text, ' ')) AS DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS avg_tokens,
           floor((avg(CAST(n_chars AS DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS avg_chars,
           CAST(max(len(string_split(text, ' '))) AS INT) AS max_tokens
    FROM documents
    GROUP BY lang, source
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) token/char statistics — whitespace tokenization
    JVM-side; the rollup shape a corpus-quality dashboard runs at scale."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        qround(F.avg(n_tokens.cast("double")), 4).alias("avg_tokens"),
        qround(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
        F.max(n_tokens).cast("int").alias("max_tokens"),
    )


# ------------------------------------------------------------ multimodal ---


@_q(
    "q_multimodal_cols",
    """
    SELECT doc_id, 'text' AS modality, lang,
           CAST(strlen(text) AS BIGINT) AS payload_bytes,
           sha256(text) AS payload_sha256
    FROM documents
    """,
)
def q_multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column handling: documents become (payload binary, meta
    struct) rows — the schema shape for opaque image/audio/video bytes with
    typed metadata. The payload here is the utf-8 text encoding (the
    container has no media codecs; decode is stubbed in
    multimodal.decode_payload_batches with real mapInPandas plumbing).
    Projects through the struct and computes payload-level features."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    meta = F.struct(
        F.lit("text").alias("modality"),
        F.col("lang").alias("lang"),
        F.col("source").alias("source"),
        F.col("n_chars").alias("n_chars"),
    )
    return d.select(
        "doc_id",
        payload.alias("payload"),
        meta.alias("meta"),
    ).select(
        "doc_id",
        F.col("meta.modality").alias("modality"),
        F.col("meta.lang").alias("lang"),
        F.length("payload").cast("bigint").alias("payload_bytes"),
        F.sha2(F.col("payload"), 256).alias("payload_sha256"),
    )



@_q("q_kmeans_clusters")  # rows-only: iterative algorithm, no SQL twin
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster the embeddings table with distributed Lloyd's k-means and
    return per-cluster sizes — the iterative-algorithm entry of the query
    surface (same rows-only class as the streaming twins: no portable SQL
    expresses the iteration). Deterministic end-to-end (farthest-point
    init over a hash-ordered sample, argmin ties break low), so repeated
    runs return identical rows."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    _, assigned = kmeans_fit(e, k=4, iters=4)
    return (
        assigned.groupBy("label")
        .agg(F.count("*").alias("n_vecs"))
        .select(F.col("label").cast("int").alias("label"), F.col("n_vecs").cast("bigint").alias("n_vecs"))
    )


FUZZY_Q = 3  # q-gram width
FUZZY_PLEN = 24  # normalized prefix length
FUZZY_MAXD = 3  # max edit distance
# Ukkonen's q-gram count filter: strings of length n within edit distance k
# share >= n - q + 1 - k*q q-grams (multiset). Candidates below this bound
# CANNOT be within distance k, so the blocking is lossless by construction.
FUZZY_THRESH = FUZZY_PLEN - FUZZY_Q + 1 - FUZZY_MAXD * FUZZY_Q


@_q(
    "q_fuzzy_pairs",
    f"""
    WITH p AS (
      SELECT doc_id, lang,
             rpad(lower(substr(text, 1, {FUZZY_PLEN})), {FUZZY_PLEN}, '.') AS p
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
           CAST(levenshtein(a.p, b.p) AS INT) AS edit_dist
    FROM p a JOIN p b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE levenshtein(a.p, b.p) <= {FUZZY_MAXD}
    """,
)
def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join: same-language document pairs whose
    normalized {FUZZY_PLEN}-char prefix is within Levenshtein {FUZZY_MAXD}
    — the fuzzy-matching primitive (near-identical titles/headers, OCR
    noise, entity resolution).

    The oracle is the naive quadratic join; the Spark plan is NOT, and its
    blocking is LOSSLESS (unlike MinHash/SimHash recall): by Ukkonen's
    q-gram count bound, two length-n strings within edit distance k share
    >= n-q+1-k·q of their n-q+1 multiset q-grams — so they can DISAGREE on
    at most k·q grams, and under any global total order over gram keys the
    first k·q+1 = {FUZZY_MAXD * FUZZY_Q + 1} grams of each doc (the ed-join
    prefix filter) must intersect for every qualifying pair. Candidate
    generation therefore equi-joins only each doc's {FUZZY_MAXD * FUZZY_Q
    + 1} globally-RAREST gram#occurrence keys (rarity order doubles as the
    hot-bucket killer: the measured all-grams join was 9x slower on hot
    'the'/'ing' buckets); multiset keys via per-doc occurrence numbering —
    distinct-gram counting would break the bound for repeated grams. Only
    distinct candidate pairs pay the exact Levenshtein. Set equality (not
    just recall) against the unblocked join is asserted in tests, and the
    oracle's naive join re-proves it at sf0.01 every sweep. At 100 TB the
    prefix join shuffles O(n·(k·q+1)) rare short keys."""
    d = load_table(spark, sf_dir, "documents")
    prefix = F.rpad(F.lower(F.substring("text", 1, FUZZY_PLEN)), FUZZY_PLEN, ".")
    base = d.select("doc_id", "lang", prefix.alias("p")).repartition("doc_id")
    grams = base.select(
        "doc_id",
        "lang",
        "p",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.lit(FUZZY_PLEN - FUZZY_Q + 1)),
                lambda i: F.col("p").substr(i, F.lit(FUZZY_Q)),
            )
        ).alias("pos", "gram"),
    )
    occ_w = Window.partitionBy("doc_id", "gram").orderBy("pos")
    keyed = grams.withColumn(
        "gk", F.concat_ws("#", "gram", F.row_number().over(occ_w).cast("string"))
    ).select("doc_id", "lang", "p", "gk")
    freq = keyed.groupBy("gk").agg(F.count("*").alias("gfreq"))
    pfx_w = Window.partitionBy("doc_id").orderBy(F.col("gfreq").asc(), "gk")
    # freq is bounded by the distinct (gram, occurrence#) keyspace, which
    # grows with corpus charset/q — so no forced broadcast (VERDICT r5 #6):
    # AQE broadcasts it while it fits and falls back to a shuffle join
    # (with skew-split on hot grams) when it doesn't.
    pref = (
        keyed.join(freq, "gk")
        .withColumn("r", F.row_number().over(pfx_w))
        .filter(F.col("r") <= FUZZY_MAXD * FUZZY_Q + 1)
        .select("doc_id", "lang", "p", "gk")
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.gk") == F.col("b.gk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.lang").alias("lang"),
            F.col("a.p").alias("pa"),
            F.col("b.p").alias("pb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("edit_dist", F.levenshtein("pa", "pb").cast("int"))
        .filter(F.col("edit_dist") <= FUZZY_MAXD)
        .select("doc_a", "doc_b", "lang", "edit_dist")
    )


@_q(
    "q_dedup_keep_best",
    """
    SELECT rep_doc_id, n_copies, rep_chars
    FROM (
      SELECT doc_id AS rep_doc_id,
             CAST(count(*) OVER (PARTITION BY lower(trim(text))) AS BIGINT)
                 AS n_copies,
             CAST(n_chars AS BIGINT) AS rep_chars,
             row_number() OVER (PARTITION BY lower(trim(text))
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    )
    WHERE rn = 1
    """,
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the BEST representative per duplicate group
    (here: most characters, doc_id tiebreak) instead of q_dedup_exact's
    min-id — the form a quality-aware pipeline wants (keep the longest /
    highest-quality copy, drop the rest).

    Same fixed-width-digest shuffle discipline as q_dedup_exact: one
    hash-groupBy on sha2(normalized text), argmax via max(struct(quality,
    -doc_id)) so the whole selection is a single map-side-combinable
    aggregate — no window over the corpus, no second shuffle. The oracle
    expresses the same argmax with a row_number window over the raw
    normalized text (the semantic spec; digest grouping is the physical
    form)."""
    d = load_table(spark, sf_dir, "documents")
    digest = F.sha2(F.lower(F.trim(F.col("text"))), 256)
    best = F.max(F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id")))
    return (
        d.groupBy(digest.alias("text_digest"))
        .agg(
            F.count("*").alias("n_copies"),
            best.alias("best"),
        )
        .select(
            (-F.col("best.neg_id")).cast("bigint").alias("rep_doc_id"),
            F.col("n_copies").cast("bigint").alias("n_copies"),
            F.col("best.n_chars").cast("bigint").alias("rep_chars"),
        )
    )


@_q(
    "q_dup_rate_report",
    """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT md5(lower(trim(text)))) AS BIGINT) AS n_unique,
           floor((1.0 - count(DISTINCT md5(lower(trim(text))))
                        / CAST(count(*) AS DOUBLE)) * 1000000.0 + 0.5)
               / 1000000.0 AS dup_rate
    FROM documents
    GROUP BY source
    """,
)
def q_dup_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication-rate report: the monitoring metric OVER the
    dedup family — which ingestion source is feeding us copies, tracked
    per load so a scraper regression shows up as a dup_rate step change,
    before anyone reruns the dedup itself.

    Same digest discipline as q_dedup_exact: the distinct-count runs on
    md5(normalized text) so the two-phase distinct shuffle carries
    fixed-width digests, never document bodies. Both engines compute md5,
    so the oracle matches on the digest semantics exactly."""
    d = load_table(spark, sf_dir, "documents")
    dig = F.md5(F.lower(F.trim(F.col("text"))))
    return d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct(dig).cast("bigint").alias("n_unique"),
        qround(
            1.0 - F.countDistinct(dig) / F.count("*").cast("double"), 6
        ).alias("dup_rate"),
    )


# exact-substring duplication parameters: anchor length, winnow window,
# boilerplate ceiling (anchors present in more docs than this are dropped)
SUBDUP_K = 32
SUBDUP_W = 8
SUBDUP_BOILERPLATE = 50


@_q(
    "q_substring_dup",
    f"""
    WITH hashes AS (
      SELECT doc_id,
             list_transform(range(1, GREATEST(len(text) - {SUBDUP_K} + 1, 0) + 1),
                            i -> md5(text[i:i + {SUBDUP_K} - 1])) AS h
      FROM documents
    ),
    anchors AS (
      SELECT DISTINCT doc_id, anchor
      FROM (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                 range(1, GREATEST(len(h) - {SUBDUP_W} + 1, 1) + 1),
                 j -> list_min(h[j:j + {SUBDUP_W} - 1])))) AS anchor
        FROM hashes WHERE len(h) > 0
      )
    ),
    keep AS (
      SELECT anchor FROM anchors GROUP BY anchor
      HAVING count(*) <= {SUBDUP_BOILERPLATE} AND count(*) > 1
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared_anchors
    FROM anchors a
    JOIN keep USING (anchor)
    JOIN anchors b ON a.anchor = b.anchor AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def q_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT substring duplication across documents (the Lee et al.
    'Deduplicating Training Data' ExactSubstr operator): document pairs
    sharing a verbatim run of >= {SUBDUP_K + SUBDUP_W - 1} characters,
    found via winnowed {SUBDUP_K}-gram anchors — copied paragraphs,
    licenses, quoted passages that whole-document dedup can never see.

    The winnowing guarantee makes the blocking LOSSLESS for long matches:
    every window of {SUBDUP_W} consecutive {SUBDUP_K}-gram hashes
    contributes its minimum as an anchor, so any shared substring of
    length >= K+W-1 = {SUBDUP_K + SUBDUP_W - 1} contains a full window of
    shared hashes on both sides and therefore a shared ANCHOR — while
    only ~1/{SUBDUP_W} of positions become join keys. Anchors present in
    > {SUBDUP_BOILERPLATE} documents are dropped BEFORE the pair join —
    they are exactly the hot keys that would quadratically explode it.
    Note the ceiling bounds each join bucket (<= {SUBDUP_BOILERPLATE}²/2
    pairs); it does NOT suppress every pair among docs sharing mass
    boilerplate: anchor election is window-context-dependent, so boundary
    windows can elect secondary anchors of the same shared run in doc
    SUBSETS under the ceiling — those pairs are true positives of the
    "shares a >= K+W-1 run" predicate, and a pipeline that wants them
    gone filters known-boilerplate strings upstream.

    Scale shape: hashing is row-local JVM (one transform over sequence
    per doc, no UDF); anchor ELECTION is a codegen'd sliding
    rows-frame min over the posexploded hash stream (r9: measured ~15%
    faster than the interpreted slice+array_min HOF it replaces, which
    allocated a W-element array per window; the window partitions by
    doc_id and a partition is one document — bounded by document length,
    never a skew key). The anchor table is ~len/{SUBDUP_W} keys per doc;
    the pair generation is an equi-join on 32-char digests with the
    boilerplate ceiling bounding every bucket's fan-out to
    {SUBDUP_BOILERPLATE}²/2 pairs. No all-pairs comparison anywhere."""
    # r18: hash-partition the RAW documents by doc_id before any hashing.
    # The window election below requires hashpartitioning(doc_id) anyway;
    # establishing it on the raw text (≈1 KB/doc) instead of letting the
    # window exchange ship the posexploded digest stream (~16 bytes ×
    # every position ≈ 16× the text) moves 16× fewer bytes through the
    # one corpus-sized shuffle (guide §2.3 / §8: decide with small rows),
    # and the per-position md5 work runs on every core instead of inside
    # the single-task single-row-group scan stage. The partition count is
    # pinned to spark.sql.shuffle.partitions so AQE cannot coalesce the
    # tiny local exchange to one partition and serialize the hash stage.
    # The empty-doc gate is the CHEAP length predicate, applied before the
    # exchange: the previous size(h) > 0 filter on the hash array was
    # pushed below the repartition by Catalyst and re-evaluated the whole
    # per-position md5 transform inside the single-task scan stage (seen
    # in the first r18 plan cut). length(text) >= K is exactly n_pos >= 1.
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") >= SUBDUP_K)
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")), "doc_id"
        )
    )
    text = F.col("text")
    n_pos = F.greatest(F.length(text) - SUBDUP_K + 1, F.lit(0))
    # anchors never reach the output (it is doc pairs + a count), so the
    # hex digest is unhexed to 16-byte binary at birth: hex encoding is
    # order-isomorphic to unsigned byte order, so the window-min election
    # matches the oracle's hex-string election exactly, while explode /
    # window sort / distinct / self-join all move keys half the width
    # (r13 A/B: 6.57 → 6.01 s full query, byte-identical 325 pairs).
    # sequence(1, 0) would infer step -1, so gate the empty case explicitly
    hashes = d.select(
        "doc_id",
        F.when(
            n_pos >= 1,
            F.transform(
                F.sequence(F.lit(1), n_pos),
                lambda i: F.unhex(
                    F.md5(text.substr(i, F.lit(SUBDUP_K)).cast("binary"))
                ),
            ),
        )
        .otherwise(F.array().cast("array<binary>"))
        .alias("h"),
    )
    ex = hashes.select(
        "doc_id", F.size("h").alias("_L"), F.posexplode("h").alias("_pos", "_hv")
    )
    w_win = Window.partitionBy("doc_id").orderBy("_pos").rowsBetween(0, SUBDUP_W - 1)
    # valid window starts are 0..L-W (0-based); docs shorter than W keep
    # start 0 with the frame clamped at the partition end — the same
    # clamping the slice() formulation had. Equivalence to the
    # slice+array_min election is asserted by the oracle hash match.
    anchors = (
        ex.withColumn("_wmin", F.min("_hv").over(w_win))
        .filter(F.col("_pos") <= F.greatest(F.col("_L") - SUBDUP_W, F.lit(0)))
        .select("doc_id", F.col("_wmin").alias("anchor"))
        .distinct()
    )
    keep = (
        anchors.groupBy("anchor")
        .agg(F.count("*").alias("n_docs"))
        .filter(
            (F.col("n_docs") <= SUBDUP_BOILERPLATE) & (F.col("n_docs") > 1)
        )
        .select("anchor")
    )
    # The b-side stays the UNFILTERED anchor table (r14 measured-and-
    # rejected alternative: self-joining the keep-filtered table removed
    # the boilerplate-hot anchors from the b-side exchange and won ~8% at
    # sf0.1 — 6.62→6.09 / 5.95→5.50 s, identical 325 pairs — but LOST at
    # the 20× probe, interleaved: unfiltered-b [24.9, 17.4] vs filtered
    # self-join [27.1, 25.3] s. Duplicating the keep-join subtree under
    # both pair-join inputs costs more at scale than shuffling the hot
    # anchors the a-side filter then drops; the same isolated-win-not-
    # transferring trap as r13's triangles broadcast hint.)
    a = anchors.join(keep, "anchor")
    b = anchors.select(
        F.col("anchor").alias("anchor"), F.col("doc_id").alias("doc_b")
    )
    return (
        a.join(b, (a.anchor == b.anchor) & (a.doc_id < F.col("doc_b")))
        .groupBy(F.col("doc_id").alias("doc_a"), "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_shared_anchors"))
    )


@_q(
    "q_embed_quantize",
    """
    WITH prep AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    scaled AS (
      SELECT vec_id, label, v,
             list_reduce(list_transform(v, x -> abs(x)),
                         (a, b) -> CASE WHEN b > a THEN b ELSE a END) / 127.0
                 AS scale
      FROM prep
    ),
    coded AS (
      SELECT vec_id, label, scale,
             list_transform(v, x -> CASE WHEN scale = 0 THEN 0.0
               ELSE GREATEST(-127.0, LEAST(127.0, floor(x / scale + 0.5)))
               END) AS codes
      FROM scaled
    )
    SELECT vec_id, label,
           floor(scale * 1000000000.0 + 0.5) / 1000000000.0 AS scale,
           CAST(list_reduce(list_transform(codes, c -> abs(c)),
                            (a, b) -> CASE WHEN b > a THEN b ELSE a END)
                AS INT) AS max_code,
           CAST(len(list_filter(codes, c -> abs(c) = 127)) AS BIGINT)
               AS n_saturated
    FROM coded
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of every embedding (per-vector absmax
    scale, codes in [-127, 127]) — the 4x storage compression a 100 TB
    vector corpus takes before ANN indexing. Gated columns are the
    per-vector scale (one exact division), the max |code| (sanity: must
    be 127 for a non-zero vector by absmax construction) and the
    saturated-dimension count.

    Row-local throughout: scale and codes are higher-order-function folds
    over the array inside whole-stage codegen — no UDF, no shuffle,
    scan-bound. Quantization uses floor(x/scale + 0.5) (round-half-up)
    rather than round() because the engines' round() differ on ties. The
    reconstruction-MSE metric lives in embed_quantize_mse: its 64-term
    error sum drifts ~1e-12 between engines (fused-multiply-add codegen),
    so it is bound-asserted in tests rather than hash-gated — the same
    policy as check_reconcile."""
    return _embed_quantized(spark, sf_dir).select(
        "vec_id",
        "label",
        qround(F.col("scale"), 9).alias("scale"),
        F.aggregate(
            F.transform("codes", lambda c: F.abs(c)),
            F.lit(0.0),
            lambda a, b: F.when(b > a, b).otherwise(a),
        )
        .cast("int")
        .alias("max_code"),
        F.size(F.filter("codes", lambda c: F.abs(c) == 127))
        .cast("bigint")
        .alias("n_saturated"),
    )


def _embed_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared quantization core: (vec_id, label, v, scale, codes)."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = e.select("vec_id", "label", v.alias("v"))
    absmax = F.aggregate(
        F.transform("v", lambda x: F.abs(x)),
        F.lit(0.0),
        lambda a, b: F.when(b > a, b).otherwise(a),
    )
    d = d.withColumn("scale", absmax / 127.0)
    codes = F.transform(
        "v",
        lambda x: F.when(F.col("scale") == 0, F.lit(0.0)).otherwise(
            F.greatest(
                F.lit(-127.0),
                F.least(F.lit(127.0), F.floor(x / F.col("scale") + 0.5)),
            )
        ),
    )
    return d.withColumn("codes", codes)


def embed_quantize_mse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconstruction MSE per vector (codes*scale vs original). Library
    metric — bound-asserted in tests (see q_embed_quantize docstring)."""
    d = _embed_quantized(spark, sf_dir)
    sq_err = F.zip_with(
        "v", "codes", lambda x, c: (x - c * F.col("scale")) * (x - c * F.col("scale"))
    )
    mse = F.aggregate(sq_err, F.lit(0.0), lambda a, b: a + b) / F.size("v")
    return d.select("vec_id", "label", "scale", mse.alias("mse"))


# containment dedup parameters: shingle width, threshold, min shingles
CONTAIN_Q = 3
CONTAIN_THRESH = 0.8
CONTAIN_MIN = 5


@_q(
    "q_dedup_containment",
    f"""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, GREATEST(len(string_split(text, ' ')) - {CONTAIN_Q} + 1,
                                 0) + 1),
               i -> md5(array_to_string(string_split(text, ' ')[i:i + {CONTAIN_Q} - 1],
                                        ' '))))) AS sh
      FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
           floor(n_shared / CAST(sa.n_sh AS DOUBLE) * 10000.0 + 0.5) / 10000.0
               AS containment
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    WHERE sa.n_sh >= {CONTAIN_MIN}
      AND n_shared / CAST(sa.n_sh AS DOUBLE) >= {CONTAIN_THRESH}
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dedup: ordered pairs where >= {CONTAIN_THRESH:.0%}
    of doc_a's {CONTAIN_Q}-token shingles also appear in doc_b — the
    ASYMMETRIC duplication measure. Symmetric Jaccard (q_dedup_ngram)
    misses a short document quoted wholesale inside a long one (the union
    dwarfs the intersection); containment is exactly the quote/subset
    detector, directional by construction (A-in-B is not B-in-A).

    Scale shape: distinct shingles are hashed row-locally (JVM transform
    + md5); the pair generation is the shingle equi-join — each shingle's
    bucket joins only its own postings, never all-pairs; per-doc shingle
    counts join back as a broadcast-sized table. At 100 TB add a
    document-frequency ceiling on shingles (as q_substring_dup does for
    anchors) to bound hot boilerplate buckets; the gated form keeps exact
    semantics so the oracle can verify it verbatim."""
    # r18: shingle off a pre-projected token array — slicing the split
    # expression inside the HOF lambda re-split the document once per
    # shingle position (no CSE in interpreted HOFs; see
    # llm_dedup.shingle_array). The alias survives CollapseProject
    # because it is referenced more than once.
    #
    # r18 (2nd pass): shingles travel as xxhash64 LONGS, not 32-char md5
    # hex — the shingle never reaches the output (doc ids + counts only),
    # so the self-join key just needs equality, and 8-byte longs shuffle
    # 4× fewer key bytes and sort/probe far cheaper than strings (guide
    # §2.3 "narrower types"; the q_dedup_ngram token-hash precedent, same
    # ~distinct-shingles²/2⁶⁴ collision-mass argument, with the raw-text
    # DuckDB oracle pinning the equivalence every sweep). Interleaved A/B
    # at sf0.1: 5.38 → 4.09 s median, byte-identical 512 rows.
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("_toks")
    )
    n_sh_expr = F.greatest(F.size("_toks") - CONTAIN_Q + 1, F.lit(0))
    shingles = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.when(
                    n_sh_expr >= 1,
                    F.transform(
                        F.sequence(F.lit(1), n_sh_expr),
                        lambda i: F.xxhash64(
                            F.array_join(F.slice("_toks", i, CONTAIN_Q), " ")
                        ),
                    ),
                ).otherwise(F.array().cast("array<bigint>"))
            )
        ).alias("sh"),
    )
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = shingles.alias("a"), shingles.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh"))
    cont = F.col("n_shared") / F.col("n_sh").cast("double")
    return (
        shared.join(sa, "doc_a")
        .filter((F.col("n_sh") >= CONTAIN_MIN) & (cont >= CONTAIN_THRESH))
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            qround(cont, 4).alias("containment"),
        )
    )


