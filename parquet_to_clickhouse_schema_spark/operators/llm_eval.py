"""Embedding / retrieval evaluation operators: kNN label voting, the LSH
parameter sweep, Matryoshka truncation eval, PCA power iteration, feature
standardization, linear-probe training, and the ranked-retrieval metric
suite (NDCG / MRR / MAP), plus class weights and dup-cluster size reports.

Split out of operators/llm.py in r18 (VERDICT r17 task #5) — a mechanical
move, no behavior change.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_to_clickhouse_schema_spark._registry import new_registry
from parquet_to_clickhouse_schema_spark.functions.compat import qround, sql_qround
from parquet_to_clickhouse_schema_spark.sources.io import load_table

QUERIES, ORACLES, _q = new_registry()

from parquet_to_clickhouse_schema_spark.operators.llm_ann import (
    ANN_V_DIM,
    ANN_V_PLANES,
    RQ_K,
    RQ_N,
    _ann_plane_bits,
    _as_double_vec,
    _band_buckets,
)


KNN_Q = 32  # evaluation query sample (kq seed — disjoint from RQ's rq seed)
KNN_K = 5  # voting neighbors


_KNN_EVAL_ORACLE = f"""
    WITH q AS (
      SELECT vec_id, label FROM embeddings
      ORDER BY md5('kq:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT {KNN_Q}
    ),
    ex AS (
      SELECT vec_id, unnest(range(0, len(embedding))) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
    dots AS (
      SELECT qq.vec_id AS qid, b.vec_id AS nbr_id, sum(a.v * b.v) AS dot
      FROM q qq
      JOIN ex a ON a.vec_id = qq.vec_id
      JOIN ex b ON b.d = a.d AND b.vec_id <> qq.vec_id
      GROUP BY 1, 2
    ),
    knn AS (
      SELECT qid, nbr_id FROM (
        SELECT d.qid, d.nbr_id,
               row_number() OVER (PARTITION BY d.qid
                                  ORDER BY d.dot / (na.nrm * nb.nrm) DESC,
                                           d.nbr_id) AS rn
        FROM dots d
        JOIN norms na ON d.qid = na.vec_id
        JOIN norms nb ON d.nbr_id = nb.vec_id
      ) WHERE rn <= {KNN_K}
    ),
    votes AS (
      SELECT k.qid, e.label, count(*) AS nv
      FROM knn k JOIN embeddings e ON e.vec_id = k.nbr_id
      GROUP BY k.qid, e.label
    ),
    pred AS (
      SELECT qid, label AS pred_label, nv,
             row_number() OVER (PARTITION BY qid
                                ORDER BY nv DESC, label) AS rn
      FROM votes
    )
    SELECT q.vec_id, CAST(q.label AS INT) AS label,
           CAST(p.pred_label AS INT) AS pred_label,
           CAST(p.nv AS BIGINT) AS n_votes,
           q.label = p.pred_label AS correct
    FROM q JOIN pred p ON p.qid = q.vec_id AND p.rn = 1
"""


@_q("q_knn_eval", _KNN_EVAL_ORACLE)
def q_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification evaluation in the engine: exact cosine
    {KNN_K}-nearest-neighbor majority vote on the label column over a
    FIXED {KNN_Q}-query md5 sample, emitting per-query prediction, vote
    count and correctness — the standard embedding-quality probe (if k-NN
    can't recover labels, the embedding space is noise; compare
    q_ann_recall_eval, which probes the INDEX, not the space).

    Determinism: neighbor ranking uses the proven raw-double-with-id-
    tiebreak discipline; the vote argmax orders by (count DESC, label) —
    pure integers, bit-stable.

    Scale shape: O({KNN_Q}·n) via a broadcast of the query vectors (the
    q_ann_recall_eval shape — never all-pairs); votes and argmax touch
    {KNN_Q}×{KNN_K} rows. Sample size scales estimate precision, not data
    touched; the production path at 100 TB swaps the exact neighbor scan
    for the ANN family and keeps the vote/argmax tail unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = (
        emb.select("vec_id", "label")
        .orderBy(
            F.md5(
                F.concat(F.lit("kq:"), F.col("vec_id").cast("string")).cast(
                    "binary"
                )
            ),
            "vec_id",
        )
        .limit(KNN_Q)
    )
    v = _as_double_vec(emb)
    qv = qs.join(v, "vec_id").select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qn"),
    )
    allv = v.join(emb.select("vec_id", "label"), "vec_id").select(
        F.col("vec_id").alias("nbr_id"),
        F.col("label").alias("nlabel"),
        F.col("vec").alias("nvec"),
        F.col("norm").alias("nn"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("qvec"), F.col("nvec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "nbr_id")
    knn = (
        allv.crossJoin(F.broadcast(qv))
        .filter(F.col("nbr_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "nbr_id",
            "nlabel",
            (dot / (F.col("qn") * F.col("nn"))).alias("cos"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_K)
    )
    votes = knn.groupBy("qid", "qlabel", "nlabel").agg(
        F.count("*").alias("nv")
    )
    wv = Window.partitionBy("qid").orderBy(F.col("nv").desc(), "nlabel")
    return (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("qlabel").cast("int").alias("label"),
            F.col("nlabel").cast("int").alias("pred_label"),
            F.col("nv").cast("bigint").alias("n_votes"),
            (F.col("qlabel") == F.col("nlabel")).alias("correct"),
        )
    )


LSH_SWEEP_CFGS = ((2, 16), (4, 8), (8, 4))  # (bands, bits) — 32 planes shared


def _lsh_sweep_cfg_sql(bands: int, bits: int) -> str:
    return f"""
      SELECT {bands} AS bands, {bits} AS bits,
             (
               SELECT sum(s * (s - 1) // 2) FROM (
                 SELECT count(*) AS s FROM (
                   SELECT vec_id, CAST(p // {bits} AS INT) AS band,
                          string_agg(CASE WHEN proj >= 0 THEN '1' ELSE '0'
                                     END, '' ORDER BY p) AS bucket
                   FROM proj GROUP BY 1, 2
                 ) GROUP BY band, bucket
               )
             ) AS n_pair_evals,
             (
               SELECT count(*) FROM exact e
               WHERE EXISTS (
                 SELECT 1 FROM (
                   SELECT vec_id, CAST(p // {bits} AS INT) AS band,
                          string_agg(CASE WHEN proj >= 0 THEN '1' ELSE '0'
                                     END, '' ORDER BY p) AS bucket
                   FROM proj GROUP BY 1, 2
                 ) sa
                 JOIN (
                   SELECT vec_id, CAST(p // {bits} AS INT) AS band,
                          string_agg(CASE WHEN proj >= 0 THEN '1' ELSE '0'
                                     END, '' ORDER BY p) AS bucket
                   FROM proj GROUP BY 1, 2
                 ) sb
                 ON sa.band = sb.band AND sa.bucket = sb.bucket
                WHERE sa.vec_id = e.qid AND sb.vec_id = e.nbr_id
               )
             ) AS n_hits
    """


_LSH_SWEEP_ORACLE = f"""
    WITH planes AS (
      SELECT p, d,
             CASE WHEN substr(md5('h:' || p || ':' || d), 1, 1) <= '7'
                  THEN 1.0 ELSE -1.0 END AS s
      FROM (SELECT unnest(range(0, {ANN_V_PLANES})) AS p),
           (SELECT unnest(range(0, {ANN_V_DIM})) AS d)
    ),
    ex AS (
      SELECT vec_id, unnest(range(0, len(embedding))) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    proj AS (
      SELECT vec_id, p, sum(v * s) AS proj
      FROM ex JOIN planes USING (d) GROUP BY vec_id, p
    ),
    q AS (
      SELECT vec_id FROM embeddings
      ORDER BY md5('rq:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT {RQ_N}
    ),
    norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
    exd AS (
      SELECT qq.vec_id AS qid, b.vec_id AS nbr_id, sum(a.v * b.v) AS dot
      FROM q qq
      JOIN ex a ON a.vec_id = qq.vec_id
      JOIN ex b ON b.d = a.d AND b.vec_id <> qq.vec_id
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT qid, nbr_id FROM (
        SELECT d.qid, d.nbr_id,
               row_number() OVER (PARTITION BY d.qid
                                  ORDER BY d.dot / (na.nrm * nb.nrm) DESC,
                                           d.nbr_id) AS rn
        FROM exd d
        JOIN norms na ON d.qid = na.vec_id
        JOIN norms nb ON d.nbr_id = nb.vec_id
      ) WHERE rn <= {RQ_K}
    )
    SELECT CAST(bands AS INT) AS bands, CAST(bits AS INT) AS bits,
           CAST(n_pair_evals AS BIGINT) AS n_pair_evals,
           CAST(n_hits AS BIGINT) AS n_hits,
           floor(n_hits * 1000000.0 / {RQ_N * RQ_K} + 0.5) / 1000000.0
               AS macro_recall
    FROM ({" UNION ALL ".join(_lsh_sweep_cfg_sql(b, w) for b, w in LSH_SWEEP_CFGS)})
"""


@_q("q_lsh_param_sweep", _LSH_SWEEP_ORACLE)
def q_lsh_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH design-point sweep: from ONE shared {ANN_V_PLANES}-plane
    projection, evaluate three band layouts (2×16 / 4×8 / 8×4 bits) on
    the two numbers that decide an ANN deployment — total candidate-pair
    volume (cost) and candidate recall of the exact top-{RQ_K} over the
    fixed {RQ_N}-query sample (quality). More, narrower bands ⇒ more
    collisions ⇒ higher recall AND higher cost; this emits the measured
    frontier instead of folklore (the q_filter_sweep pattern applied to
    index tuning).

    Recall here scores the CANDIDATE SET (did the filter surface the true
    neighbor at all) — the re-rank stage is exact, so candidate recall IS
    end recall. All counts exact integers; one quantized ratio.

    Scale shape: one projection pass feeds all three layouts (banding is
    a regrouping, not a recompute — r16: the shared row-local
    _ann_plane_bits array, checkpointed once, sliced three ways with no
    per-layout shuffle or collect_list), and the cost axis is computed
    from BUCKET SIZES alone — Σ C(s,2) over (band, bucket) groups, the
    exact number of pair evaluations the banding generates — so measuring
    an O(n²)-cost layout costs O(n). The first cut enumerated distinct
    pairs to count them and measured 22.5× time at 10× data (97 s —
    paying the quadratic cost to report it; docs/SCALE.md keeps the
    counterexample). Query-side recall joins touch {RQ_N}×{RQ_K} rows."""
    # one row-local projection (P-bit signature array per vector),
    # materialized once; three bandings slice it
    bitsdf = _ann_plane_bits(spark, sf_dir).localCheckpoint()
    emb = load_table(spark, sf_dir, "embeddings")
    qs = (
        emb.select("vec_id")
        .orderBy(
            F.md5(F.concat(F.lit("rq:"), F.col("vec_id").cast("string")).cast("binary")),
            "vec_id",
        )
        .limit(RQ_N)
    )
    v = _as_double_vec(emb)
    qv = qs.join(v, "vec_id").select(
        F.col("vec_id").alias("qid"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qn"),
    )
    allv = v.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("vec").alias("nvec"),
        F.col("norm").alias("nn"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("qvec"), F.col("nvec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("qid").orderBy(
        (dot / (F.col("qn") * F.col("nn"))).desc(), "nbr_id"
    )
    exact = (
        allv.crossJoin(F.broadcast(qv))
        .filter(F.col("nbr_id") != F.col("qid"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= RQ_K)
        .select("qid", "nbr_id")
        .localCheckpoint()
    )
    outs = []
    for bands, bits in LSH_SWEEP_CFGS:
        # row-local slice of the checkpointed bit array; recomputing this
        # narrow map per consumer is cheaper than materializing each
        # layout's n x bands signature table (the r15 collect_list
        # signature DID need its own localCheckpoint — 74 s -> 9 s at
        # 10x data; the array slice replaces that aggregate outright)
        sig = _band_buckets(bitsdf, bits)
        pairs = (
            sig.groupBy("band", "bucket")
            .agg(F.count("*").alias("s"))
            .agg(
                F.sum(
                    (F.col("s") * (F.col("s") - 1) / 2).cast("bigint")
                ).alias("n_pair_evals")
            )
        )
        # restrict to the query sample BEFORE the bucket join — joining the
        # full signature table against itself here IS the n² enumeration
        # the cost axis merely counts (measured 345 s at 10× data for the
        # 8×4 layout; the sample-first form runs the whole recall side in
        # seconds, the q_ann_recall_eval shape)
        sq = sig.join(
            F.broadcast(qs.withColumnRenamed("vec_id", "qid")),
            F.col("vec_id") == F.col("qid"),
        ).select("qid", "band", "bucket")
        cand = (
            sq.join(
                sig.select(
                    F.col("vec_id").alias("nbr_id"), "band", "bucket"
                ),
                ["band", "bucket"],
            )
            .filter(F.col("qid") != F.col("nbr_id"))
            .select("qid", "nbr_id")
            .distinct()
        )
        hits = exact.join(cand, ["qid", "nbr_id"]).agg(
            F.count("*").alias("n_hits")
        )
        outs.append(
            pairs.crossJoin(hits).select(
                F.lit(bands).cast("int").alias("bands"),
                F.lit(bits).cast("int").alias("bits"),
                F.col("n_pair_evals").cast("bigint"),
                F.col("n_hits").cast("bigint"),
                (
                    F.floor(
                        F.col("n_hits") * 1000000.0 / (RQ_N * RQ_K) + F.lit(0.5)
                    )
                    / 1000000.0
                ).alias("macro_recall"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


MAT_DIMS = (8, 16, 32)  # truncation levels vs the full 64


def _mat_cfg_sql(dim: int) -> str:
    return f"""
      SELECT {dim} AS dim, t.qid, CAST(count(*) AS BIGINT) AS hits
      FROM (
        SELECT qid, nbr_id FROM (
          SELECT d.qid, d.nbr_id,
                 row_number() OVER (PARTITION BY d.qid
                                    ORDER BY d.dot / (na.nrm * nb.nrm) DESC,
                                             d.nbr_id) AS rn
          FROM (
            SELECT qq.vec_id AS qid, b.vec_id AS nbr_id, sum(a.v * b.v) AS dot
            FROM q qq
            JOIN ext a ON a.vec_id = qq.vec_id AND a.d < {dim}
            JOIN ext b ON b.d = a.d AND b.vec_id <> qq.vec_id
            GROUP BY 1, 2
          ) d
          JOIN (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ext
                WHERE d < {dim} GROUP BY vec_id) na ON d.qid = na.vec_id
          JOIN (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ext
                WHERE d < {dim} GROUP BY vec_id) nb ON d.nbr_id = nb.vec_id
        ) WHERE rn <= {RQ_K}
      ) t JOIN exact e ON e.qid = t.qid AND e.nbr_id = t.nbr_id
      GROUP BY t.qid
    """


_MATRYOSHKA_ORACLE = f"""
    WITH ext AS (
      SELECT vec_id, unnest(range(0, len(embedding))) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    q AS (
      SELECT vec_id FROM embeddings
      ORDER BY md5('rq:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT {RQ_N}
    ),
    norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ext GROUP BY vec_id),
    exd AS (
      SELECT qq.vec_id AS qid, b.vec_id AS nbr_id, sum(a.v * b.v) AS dot
      FROM q qq
      JOIN ext a ON a.vec_id = qq.vec_id
      JOIN ext b ON b.d = a.d AND b.vec_id <> qq.vec_id
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT qid, nbr_id FROM (
        SELECT d.qid, d.nbr_id,
               row_number() OVER (PARTITION BY d.qid
                                  ORDER BY d.dot / (na.nrm * nb.nrm) DESC,
                                           d.nbr_id) AS rn
        FROM exd d
        JOIN norms na ON d.qid = na.vec_id
        JOIN norms nb ON d.nbr_id = nb.vec_id
      ) WHERE rn <= {RQ_K}
    ),
    hits AS ({" UNION ALL ".join(_mat_cfg_sql(m) for m in MAT_DIMS)})
    SELECT CAST(dims.dim AS INT) AS dim,
           CAST(count(h.qid) AS BIGINT) AS n_queries_hit,
           CAST(COALESCE(sum(h.hits), 0) AS BIGINT) AS total_hits,
           floor(COALESCE(sum(h.hits), 0) * 1000000.0 / {RQ_N * RQ_K} + 0.5)
               / 1000000.0 AS macro_recall
    FROM (SELECT unnest({list(MAT_DIMS)}) AS dim) dims
    LEFT JOIN hits h ON h.dim = dims.dim
    GROUP BY dims.dim
"""


@_q("q_matryoshka_eval", _MATRYOSHKA_ORACLE)
def q_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation evaluation (Kusupati et al. 2022,
    arXiv:2205.13147): recall of the exact top-{RQ_K} when cosine runs on
    only the first 8/16/32 of 64 dimensions — the measurement behind
    embedding-compression decisions (store 4× less, rerank the shortlist
    with full vectors; how much does the shortlist miss?). Emitted as one
    row per truncation level: queries with any hit, total hits, macro
    recall over the fixed {RQ_N}-query sample.

    Scale shape: the q_ann_recall_eval broadcast-sample pattern — the
    full-dim exact top-{RQ_K} and each truncated top-{RQ_K} are O({RQ_N}·n)
    via broadcast query vectors (F.slice keeps the truncation row-local);
    the comparison joins touch {RQ_N}×{RQ_K} rows per level. Same
    raw-double ranking discipline as the verified ANN twins."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = (
        emb.select("vec_id")
        .orderBy(
            F.md5(F.concat(F.lit("rq:"), F.col("vec_id").cast("string")).cast("binary")),
            "vec_id",
        )
        .limit(RQ_N)
    )

    def topk(dim: int | None) -> DataFrame:
        vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
        if dim is not None:
            vec = F.slice(vec, 1, dim)
        base = emb.select(
            "vec_id",
            vec.alias("vec"),
            F.sqrt(
                F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x)
            ).alias("norm"),
        ).repartition("vec_id")
        qv = qs.join(base, "vec_id").select(
            F.col("vec_id").alias("qid"),
            F.col("vec").alias("qvec"),
            F.col("norm").alias("qn"),
        )
        allv = base.select(
            F.col("vec_id").alias("nbr_id"),
            F.col("vec").alias("nvec"),
            F.col("norm").alias("nn"),
        )
        dot = F.aggregate(
            F.zip_with(F.col("qvec"), F.col("nvec"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        w = Window.partitionBy("qid").orderBy(
            (dot / (F.col("qn") * F.col("nn"))).desc(), "nbr_id"
        )
        return (
            allv.crossJoin(F.broadcast(qv))
            .filter(F.col("nbr_id") != F.col("qid"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= RQ_K)
            .select("qid", "nbr_id")
        )

    exact = topk(None).localCheckpoint()
    outs = []
    for m in MAT_DIMS:
        hits = (
            topk(m)
            .join(exact, ["qid", "nbr_id"])
            .groupBy("qid")
            .agg(F.count("*").alias("hits"))
        )
        outs.append(
            hits.agg(
                F.lit(m).cast("int").alias("dim"),
                F.count("*").cast("bigint").alias("n_queries_hit"),
                F.coalesce(F.sum("hits"), F.lit(0))
                .cast("bigint")
                .alias("total_hits"),
                (
                    F.floor(
                        F.coalesce(F.sum("hits"), F.lit(0))
                        * 1000000.0
                        / (RQ_N * RQ_K)
                        + F.lit(0.5)
                    )
                    / 1000000.0
                ).alias("macro_recall"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


PCA_ITERS = 4


def _pca_power_oracle(iters: int = PCA_ITERS) -> str:
    """DuckDB twin of the power iteration: w_{t+1} = normalize(C w_t) with
    C the centered covariance, applied as two matvecs (X w, then X^T s / n)
    so the 64x64 covariance never materializes — the same chained-CTE
    unroll trick as q_pagerank_ranks, applied to linear algebra."""
    grid = f"""
      SELECT d,
             (((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
             + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
             + (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
             + (instr('0123456789abcdef', substr(h, 4, 1)) - 1))
              / 65535.0) * 2.0 - 1.0 AS w
      FROM (
        SELECT d, md5('pc:0:' || d) AS h
        FROM (SELECT unnest(range(0, {ANN_V_DIM})) AS d)
      )
    """
    steps = [f"w0 AS ({grid})"]
    for t in range(iters):
        steps.append(
            f"""s{t} AS (
      SELECT xc.vec_id, sum(xc.x * w{t}.w) AS s
      FROM xc JOIN w{t} ON xc.d = w{t}.d GROUP BY xc.vec_id
    ),
    u{t} AS (
      SELECT xc.d, sum(xc.x * s{t}.s) / (SELECT n FROM nv) AS u
      FROM xc JOIN s{t} ON xc.vec_id = s{t}.vec_id GROUP BY xc.d
    ),
    n{t} AS (SELECT sqrt(sum(u * u)) AS nrm FROM u{t}),
    w{t + 1} AS (
      SELECT d, u / (SELECT nrm FROM n{t}) AS w FROM u{t}
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH ext AS (
      SELECT vec_id, unnest(range(0, len(embedding))) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    mu AS (SELECT d, avg(v) AS m FROM ext GROUP BY d),
    xc AS (SELECT vec_id, ext.d, v - m AS x FROM ext JOIN mu USING (d)),
    nv AS (SELECT CAST(count(DISTINCT vec_id) AS DOUBLE) AS n FROM ext),
    {chain}
    SELECT CAST(w{iters}.d AS INT) AS d,
           floor(w{iters}.w * 1000000.0 + 0.5) / 1000000.0 AS loading,
           floor((SELECT nrm FROM n{iters - 1}) * 1000000.0 + 0.5)
               / 1000000.0 AS eigenvalue
    FROM w{iters}
    """


def _embedding_moments(
    spark: SparkSession, sf_dir: str, loop: Callable, schema: str
) -> DataFrame:
    """One scan of the embedding matrix X (rows × {ANN_V_DIM}) and labels y
    into their centered second moments, then ``loop(n, G, b, yy)`` in one
    task. Each partition folds its rows into uncentered sums (n, Σx, ΣxxT,
    Σy, Σy², Σxy); one grouped-map task adds the partials in partition
    order and centers them: G = X_cᵀX_c = Sxx − n·μμᵀ, b = X_cᵀy_c =
    Sxy − n·μ·ȳ, yy = y_cᵀy_c = Syy − n·ȳ². The embedding dimensions have
    |μ| ≪ σ, so the one-pass form agrees with the two-pass G to ~1e-15
    relative. The task functions are nested, so they ship by value."""
    dim = ANN_V_DIM

    def partial_sums(batches):
        import numpy as np
        import pandas as pd
        from pyspark import TaskContext

        n, sy, syy = 0, 0.0, 0.0
        sx, sxx, sxy = np.zeros(dim), np.zeros((dim, dim)), np.zeros(dim)
        for pdf in batches:
            x = np.array(pdf["embedding"].tolist(), "float64").reshape(-1, dim)
            y = pdf["label"].to_numpy("float64")
            n, sy, syy = n + len(y), sy + y.sum(), syy + y @ y
            sx, sxx, sxy = sx + x.sum(axis=0), sxx + x.T @ x, sxy + x.T @ y
        part = TaskContext.get().partitionId()
        yield pd.DataFrame(
            [(part, n, sx, sxx.ravel(), sy, syy, sxy)],
            columns=["part", "n", "sx", "sxx", "sy", "syy", "sxy"],
        )

    def centered(pdf):
        import numpy as np

        pdf = pdf.sort_values("part")
        sums = (sum(pdf[c].tolist()) for c in ("n", "sx", "sxx", "sy", "syy", "sxy"))
        n, sx, sxx, sy, syy, sxy = sums
        n = float(n)
        mu, my = sx / n, sy / n
        g = sxx.reshape(dim, dim) - n * np.outer(mu, mu)
        return loop(n, g, sxy - n * mu * my, syy - n * my * my)

    emb = load_table(spark, sf_dir, "embeddings").select(
        "embedding", F.col("label").cast("double").alias("label")
    )
    parts = emb.mapInPandas(
        partial_sums,
        "part int, n long, sx array<double>, sxx array<double>, sy double, "
        "syy double, sxy array<double>",
    )
    return parts.groupBy(F.lit("all")).applyInPandas(centered, schema)


@_q("q_pca_power", _pca_power_oracle())
def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA top component by {PCA_ITERS} power iterations
    w ← C·w / ‖C·w‖ over the covariance C = X_cᵀX_c / n of the centered
    embedding matrix. md5-grid init (the `_md5_unit_grid` values, computed
    on the driver) + fixed iteration count make the whole computation
    (loadings AND the ‖C·w‖ eigenvalue estimate) oracle-gated, the
    q_pagerank_ranks discipline applied to linear algebra; the convergent
    production loop is the same task with a tolerance test.

    Scale shape: one scan folds the matrix into per-partition
    {ANN_V_DIM}×{ANN_V_DIM} sums (`_embedding_moments`), then one task
    adds them and runs every iteration on the Gram matrix — O(dim²)
    memory and work per step, no shuffle of the fact rows, no job or
    checkpoint per step."""
    w0 = [
        int(hashlib.md5(f"pc:0:{d}".encode()).hexdigest()[:4], 16) / 65535.0 * 2.0
        - 1.0
        for d in range(ANN_V_DIM)
    ]
    iters = PCA_ITERS

    def power(n, g, b, yy):
        import numpy as np
        import pandas as pd

        w = np.array(w0)
        for _t in range(iters):
            u = g @ w / n
            eig = np.sqrt(u @ u)
            w = u / eig
        return pd.DataFrame({"d": range(len(w)), "w": w, "eig": eig})

    out = _embedding_moments(spark, sf_dir, power, "d int, w double, eig double")
    return out.select(
        "d",
        qround(F.col("w"), 6).alias("loading"),
        qround(F.col("eig"), 6).alias("eigenvalue"),
    )


@_q(
    "q_embed_standardize",
    """
    WITH ext AS (
      SELECT vec_id, unnest(range(0, len(embedding))) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    m AS (SELECT d, avg(v) AS mu, count(*) AS n FROM ext GROUP BY d),
    s AS (
      SELECT ext.d, sqrt(sum((v - mu) * (v - mu)) / m.n) AS sigma
      FROM ext JOIN m USING (d) GROUP BY ext.d, m.n
    )
    SELECT CAST(m.d AS INT) AS d,
           floor(m.mu * 1000000.0 + 0.5) / 1000000.0 AS mean,
           floor(s.sigma * 1000000.0 + 0.5) / 1000000.0 AS std,
           CAST(m.n AS BIGINT) AS n
    FROM m JOIN s ON m.d = s.d
    """,
)
def q_embed_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension standardization statistics for the embedding matrix
    (mean, population std, count per dim) — the preprocessing table every
    downstream consumer of the space reads first: LSH planes assume
    roughly centered inputs, k-means is scale-sensitive, and a dimension
    with σ≈0 is dead weight q_random_projection should drop. Two-pass
    centered moments (the q_corr_matrix discipline — no E[x²]−E[x]²
    cancellation).

    Scale shape: two map-side-combined reduces keyed by dimension (64
    groups) over the posexploded stream; the output is dim-bounded.
    Applying the standardization is then a row-local zip_with against
    the broadcast 64-row table."""
    emb = load_table(spark, sf_dir, "embeddings")
    ext = emb.select("vec_id", F.posexplode("embedding").alias("d", "v")).withColumn(
        "v", F.col("v").cast("double")
    )
    m = ext.groupBy("d").agg(F.avg("v").alias("mu"), F.count("*").alias("n"))
    s = (
        ext.join(F.broadcast(m), "d")
        .groupBy("d", "n")
        .agg(
            F.sqrt(
                F.sum((F.col("v") - F.col("mu")) * (F.col("v") - F.col("mu")))
                / F.col("n")
            ).alias("sigma")
        )
    )
    return (
        m.join(s.select("d", "sigma"), "d")
        .select(
            F.col("d").cast("int").alias("d"),
            qround(F.col("mu"), 6).alias("mean"),
            qround(F.col("sigma"), 6).alias("std"),
            F.col("n").cast("bigint").alias("n"),
        )
    )


PROBE_STEPS = 4
PROBE_LR = 0.1


def _linear_probe_oracle(steps: int = PROBE_STEPS) -> str:
    """DuckDB twin of the gradient-descent linear probe: w starts at 0 and
    each step applies w -= lr * X_cᵀ(X_c·w − y_c)/n — two matvecs, the
    q_pca_power unroll."""
    ctes = ["w0 AS (SELECT d, 0.0 AS w FROM dims)"]
    for t in range(steps):
        ctes.append(
            f"""p{t} AS (
      SELECT xc.vec_id, sum(xc.x * w{t}.w) AS pred
      FROM xc JOIN w{t} ON xc.d = w{t}.d GROUP BY xc.vec_id
    ),
    r{t} AS (
      SELECT p{t}.vec_id, p{t}.pred - yc.y AS res
      FROM p{t} JOIN yc ON p{t}.vec_id = yc.vec_id
    ),
    mse{t} AS (SELECT sum(res * res) / (SELECT n FROM nv) AS mse FROM r{t}),
    g{t} AS (
      SELECT xc.d, sum(xc.x * r{t}.res) / (SELECT n FROM nv) AS g
      FROM xc JOIN r{t} ON xc.vec_id = r{t}.vec_id GROUP BY xc.d
    ),
    w{t + 1} AS (
      SELECT w{t}.d, w{t}.w - {PROBE_LR} * g{t}.g AS w
      FROM w{t} JOIN g{t} ON w{t}.d = g{t}.d
    )"""
        )
    chain = ",\n    ".join(ctes)
    mses = " UNION ALL ".join(
        f"SELECT {t} AS step, (SELECT mse FROM mse{t}) AS mse"
        for t in range(steps)
    )
    return f"""
    WITH ext AS (
      SELECT vec_id, unnest(range(0, len(embedding))) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    dims AS (SELECT DISTINCT d FROM ext),
    mu AS (SELECT d, avg(v) AS m FROM ext GROUP BY d),
    xc AS (SELECT vec_id, ext.d, v - m AS x FROM ext JOIN mu USING (d)),
    ym AS (SELECT avg(CAST(label AS DOUBLE)) AS my FROM embeddings),
    yc AS (
      SELECT vec_id, CAST(label AS DOUBLE) - (SELECT my FROM ym) AS y
      FROM embeddings
    ),
    nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
    {chain}
    SELECT CAST(step AS INT) AS step,
           floor(mse * 1000000.0 + 0.5) / 1000000.0 AS mse
    FROM ({mses})
    """


@_q("q_linear_probe", _linear_probe_oracle())
def q_linear_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-probe trainability of the embedding space: fit label ~
    centered embedding by {PROBE_STEPS} unrolled gradient-descent steps
    (lr={PROBE_LR}, w₀=0) and emit the training MSE at every step — the
    standard representation-quality probe ("can a linear head learn
    anything from this space?"), here fully oracle-gated because the step
    count is fixed. With G = X_cᵀX_c and b = X_cᵀy_c each step is
    MSE = (wᵀGw − 2wᵀb + y_cᵀy_c)/n, then w ← w − lr·(G·w − b)/n. A flat
    MSE curve indicts the embedding, not the probe.

    Scale shape: the q_pca_power shape — one scan into per-partition
    {ANN_V_DIM}×{ANN_V_DIM} sums (`_embedding_moments`), then one task
    runs every step on the Gram matrix; nothing is fact-sized after the
    scan."""
    steps, lr = PROBE_STEPS, PROBE_LR

    def descend(n, g, b, yy):
        import numpy as np
        import pandas as pd

        w, mses = np.zeros(len(b)), []
        for _t in range(steps):
            mses.append((w @ g @ w - 2.0 * (w @ b) + yy) / n)
            w = w - lr * (g @ w - b) / n
        return pd.DataFrame({"step": range(steps), "mse": mses})

    out = _embedding_moments(spark, sf_dir, descend, "step int, mse double")
    return out.select("step", qround(F.col("mse"), 6).alias("mse"))


NDCG_K = 10


_NDCG_ORACLE = f"""
    WITH ex AS (
      SELECT vec_id, unnest(range(0, len(embedding))) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    q AS (
      SELECT vec_id FROM embeddings
      ORDER BY md5('rq:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT {RQ_N}
    ),
    norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
    exd AS (
      SELECT qq.vec_id AS qid, b.vec_id AS nbr_id, sum(a.v * b.v) AS dot
      FROM q qq
      JOIN ex a ON a.vec_id = qq.vec_id
      JOIN ex b ON b.d = a.d AND b.vec_id <> qq.vec_id
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT qid, nbr_id,
             row_number() OVER (PARTITION BY qid
                                ORDER BY dot / (na.nrm * nb.nrm) DESC,
                                         nbr_id) AS pos
      FROM exd d
      JOIN norms na ON d.qid = na.vec_id
      JOIN norms nb ON d.nbr_id = nb.vec_id
      QUALIFY pos <= {NDCG_K}
    ),
    dcg AS (
      SELECT r.qid,
             sum(e.label / (ln(r.pos + 1.0) / ln(2.0))) AS dcg
      FROM ranked r JOIN embeddings e ON e.vec_id = r.nbr_id
      GROUP BY r.qid
    ),
    ideal AS (
      SELECT sum(label / (ln(pos + 1.0) / ln(2.0))) AS idcg
      FROM (
        SELECT CAST(label AS DOUBLE) AS label,
               row_number() OVER (ORDER BY label DESC, vec_id) AS pos
        FROM embeddings
      ) WHERE pos <= {NDCG_K}
    )
    SELECT d.qid AS vec_id,
           floor(d.dcg * 1000000.0 + 0.5) / 1000000.0 AS dcg,
           floor(d.dcg / i.idcg * 1000000.0 + 0.5) / 1000000.0 AS ndcg
    FROM dcg d CROSS JOIN ideal i
"""


@_q("q_ndcg", _NDCG_ORACLE)
def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@{NDCG_K} of cosine retrieval against label relevance: for
    every query in the fixed {RQ_N}-sample, DCG of the labels found at
    each rank (grade/log₂(pos+1)) normalized by the corpus-ideal DCG —
    the graded ranking metric that completes the eval suite (recall:
    q_ann_recall_eval; classification: q_knn_eval; threshold-free:
    q_auc_marker; calibration: q_confidence_bins). Low NDCG with decent
    recall means the index finds neighbors but similarity ≠ relevance —
    exactly the gap a reranker is hired to close.

    Determinism: positions use the proven raw-double/id-tiebreak order;
    grades are integers; one quantized division per row. Scale shape:
    the q_ann_recall_eval broadcast-sample pattern — O({RQ_N}·n) exact
    ranking, one 1-row ideal, {RQ_N}×{NDCG_K} grade joins."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = (
        emb.select("vec_id")
        .orderBy(
            F.md5(F.concat(F.lit("rq:"), F.col("vec_id").cast("string")).cast("binary")),
            "vec_id",
        )
        .limit(RQ_N)
    )
    v = _as_double_vec(emb)
    qv = qs.join(v, "vec_id").select(
        F.col("vec_id").alias("qid"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qn"),
    )
    allv = v.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("vec").alias("nvec"),
        F.col("norm").alias("nn"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("qvec"), F.col("nvec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("qid").orderBy(
        (dot / (F.col("qn") * F.col("nn"))).desc(), "nbr_id"
    )
    ranked = (
        allv.crossJoin(F.broadcast(qv))
        .filter(F.col("nbr_id") != F.col("qid"))
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= NDCG_K)
        .select("qid", "nbr_id", "pos")
    )
    gain = F.col("label") / (F.log(F.col("pos") + 1.0) / F.log(F.lit(2.0)))
    dcg = (
        ranked.join(emb.select("vec_id", "label"), ranked.nbr_id == emb.vec_id)
        .groupBy("qid")
        .agg(F.sum(gain).alias("dcg"))
    )
    wi = Window.orderBy(F.col("label").desc(), "vec_id")
    ideal = (
        emb.select(F.col("label").cast("double").alias("label"), "vec_id")
        .withColumn("pos", F.row_number().over(wi))
        .filter(F.col("pos") <= NDCG_K)
        .agg(F.sum(gain).alias("idcg"))
    )
    return dcg.crossJoin(F.broadcast(ideal)).select(
        F.col("qid").alias("vec_id"),
        qround(F.col("dcg"), 6).alias("dcg"),
        qround(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
    )


_MRR_ORACLE = f"""
    WITH ex AS (
      SELECT vec_id, unnest(range(0, len(embedding))) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, label FROM embeddings
      ORDER BY md5('rq:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT {RQ_N}
    ),
    norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
    exd AS (
      SELECT qq.vec_id AS qid, qq.label AS qlabel,
             b.vec_id AS nbr_id, sum(a.v * b.v) AS dot
      FROM q qq
      JOIN ex a ON a.vec_id = qq.vec_id
      JOIN ex b ON b.d = a.d AND b.vec_id <> qq.vec_id
      GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT qid, qlabel, nbr_id,
             row_number() OVER (PARTITION BY qid
                                ORDER BY dot / (na.nrm * nb.nrm) DESC,
                                         nbr_id) AS pos
      FROM exd d
      JOIN norms na ON d.qid = na.vec_id
      JOIN norms nb ON d.nbr_id = nb.vec_id
      QUALIFY pos <= {RQ_K}
    ),
    firsts AS (
      SELECT r.qid, min(r.pos) AS first_rel
      FROM ranked r JOIN embeddings e ON e.vec_id = r.nbr_id
      WHERE e.label = r.qlabel
      GROUP BY r.qid
    )
    SELECT q.vec_id,
           CAST(COALESCE(f.first_rel, 0) AS INT) AS first_rel_rank,
           floor(CASE WHEN f.first_rel IS NULL THEN 0.0
                      ELSE 1.0 / f.first_rel END * 1000000.0 + 0.5)
               / 1000000.0 AS rr
    FROM q LEFT JOIN firsts f ON f.qid = q.vec_id
"""


@_q("q_mrr", _MRR_ORACLE)
def q_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank of the first same-label neighbor within the cosine
    top-{RQ_K}, per query (0 when none surfaces) — MRR is THE
    first-relevant-result metric for search UX, completing the eval set:
    recall@k (is it anywhere in the list), NDCG (is the whole list
    ordered well), MRR (how fast does the first hit arrive). Queries
    with no top-{RQ_K} hit stay in the output at rr=0 — dropping them is
    the classic MRR inflation bug.

    Same broadcast-sample O({RQ_N}·n) shape and raw-double/id-tiebreak
    ranking as the rest of the eval family; rank and label logic are
    pure integers."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = (
        emb.select("vec_id", F.col("label").alias("qlabel"))
        .orderBy(
            F.md5(F.concat(F.lit("rq:"), F.col("vec_id").cast("string")).cast("binary")),
            "vec_id",
        )
        .limit(RQ_N)
    )
    v = _as_double_vec(emb)
    qv = qs.join(v, "vec_id").select(
        F.col("vec_id").alias("qid"),
        "qlabel",
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qn"),
    )
    allv = v.join(emb.select("vec_id", "label"), "vec_id").select(
        F.col("vec_id").alias("nbr_id"),
        F.col("label").alias("nlabel"),
        F.col("vec").alias("nvec"),
        F.col("norm").alias("nn"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("qvec"), F.col("nvec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("qid").orderBy(
        (dot / (F.col("qn") * F.col("nn"))).desc(), "nbr_id"
    )
    ranked = (
        allv.crossJoin(F.broadcast(qv))
        .filter(F.col("nbr_id") != F.col("qid"))
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= RQ_K)
    )
    firsts = (
        ranked.filter(F.col("nlabel") == F.col("qlabel"))
        .groupBy("qid")
        .agg(F.min("pos").alias("first_rel"))
    )
    return (
        qs.select(F.col("vec_id"))
        .join(firsts.withColumnRenamed("qid", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("first_rel"), F.lit(0)).cast("int").alias(
                "first_rel_rank"
            ),
            (
                F.floor(
                    F.when(
                        F.col("first_rel").isNull(), F.lit(0.0)
                    ).otherwise(1.0 / F.col("first_rel"))
                    * 1000000.0
                    + F.lit(0.5)
                )
                / 1000000.0
            ).alias("rr"),
        )
    )


_MAP_ORACLE = f"""
    WITH ex AS (
      SELECT vec_id, unnest(range(0, len(embedding))) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, label FROM embeddings
      ORDER BY md5('rq:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT {RQ_N}
    ),
    lc AS (SELECT label, count(*) AS c FROM embeddings GROUP BY label),
    norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
    exd AS (
      SELECT qq.vec_id AS qid, qq.label AS qlabel,
             b.vec_id AS nbr_id, sum(a.v * b.v) AS dot
      FROM q qq
      JOIN ex a ON a.vec_id = qq.vec_id
      JOIN ex b ON b.d = a.d AND b.vec_id <> qq.vec_id
      GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT qid, qlabel, nbr_id,
             row_number() OVER (PARTITION BY qid
                                ORDER BY dot / (na.nrm * nb.nrm) DESC,
                                         nbr_id) AS pos
      FROM exd d
      JOIN norms na ON d.qid = na.vec_id
      JOIN norms nb ON d.nbr_id = nb.vec_id
      QUALIFY pos <= {RQ_K}
    ),
    rel AS (
      SELECT r.qid, r.qlabel, r.pos,
             CASE WHEN e.label = r.qlabel THEN 1 ELSE 0 END AS hit
      FROM ranked r JOIN embeddings e ON e.vec_id = r.nbr_id
    ),
    prec AS (
      SELECT qid, qlabel, pos, hit,
             sum(hit) OVER (PARTITION BY qid ORDER BY pos) AS cum
      FROM rel
    ),
    ap AS (
      SELECT p.qid,
             CAST(sum(p.hit) AS BIGINT) AS n_rel_topk,
             sum(p.hit * p.cum * 1.0 / p.pos)
               / greatest(least(any_value(lc.c) - 1, {RQ_K}), 1) AS ap_raw
      FROM prec p JOIN lc ON lc.label = p.qlabel
      GROUP BY p.qid
    )
    SELECT q.vec_id,
           COALESCE(ap.n_rel_topk, 0) AS n_rel_topk,
           floor(COALESCE(ap.ap_raw, 0.0) * 1000000.0 + 0.5) / 1000000.0 AS ap
    FROM q LEFT JOIN ap ON ap.qid = q.vec_id
"""


@_q("q_map_eval", _MAP_ORACLE)
def q_map_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision at {RQ_K} per query (same-label = relevant),
    normalized by min(R, {RQ_K}) with R = the corpus count of the query's
    label minus itself — the standard AP@k. MAP is the mean of this
    column; emitting per-query AP keeps the hard queries visible instead
    of burying them in one scalar. Completes the retrieval-eval suite:
    recall@k (present at all), MRR (how fast the first hit), NDCG (graded
    order quality), AP (precision integrated over every hit position).

    Same broadcast-sample O({RQ_N}·n) shape, raw-double ranking with
    nbr_id tiebreaks as its siblings; the AP sum has ≤{RQ_K} rational
    terms, quantized 1e-6 against summation-order noise. Queries with no
    top-{RQ_K} hit stay at ap=0 (the q_mrr no-drop rule)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = (
        emb.select("vec_id", F.col("label").alias("qlabel"))
        .orderBy(
            F.md5(F.concat(F.lit("rq:"), F.col("vec_id").cast("string")).cast("binary")),
            "vec_id",
        )
        .limit(RQ_N)
    )
    lc = emb.groupBy(F.col("label").alias("qlabel")).agg(
        F.count("*").alias("c")
    )
    v = _as_double_vec(emb)
    qv = qs.join(v, "vec_id").select(
        F.col("vec_id").alias("qid"),
        "qlabel",
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qn"),
    )
    allv = v.join(emb.select("vec_id", "label"), "vec_id").select(
        F.col("vec_id").alias("nbr_id"),
        F.col("label").alias("nlabel"),
        F.col("vec").alias("nvec"),
        F.col("norm").alias("nn"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("qvec"), F.col("nvec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("qid").orderBy(
        (dot / (F.col("qn") * F.col("nn"))).desc(), "nbr_id"
    )
    ranked = (
        allv.crossJoin(F.broadcast(qv))
        .filter(F.col("nbr_id") != F.col("qid"))
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= RQ_K)
        .withColumn("hit", (F.col("nlabel") == F.col("qlabel")).cast("int"))
    )
    wc = Window.partitionBy("qid").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    prec = ranked.withColumn("cum", F.sum("hit").over(wc))
    ap = (
        prec.join(F.broadcast(lc), "qlabel")
        .groupBy("qid")
        .agg(
            F.sum("hit").cast("bigint").alias("n_rel_topk"),
            (
                F.sum(F.col("hit") * F.col("cum") * 1.0 / F.col("pos"))
                # greatest(...,1): a singleton-label query has R=0 and no
                # possible hits — 0/1 keeps it an honest 0 instead of NaN
                / F.greatest(F.least(F.any_value("c") - 1, F.lit(RQ_K)), F.lit(1))
            ).alias("ap_raw"),
        )
    )
    return (
        qs.select("vec_id")
        .join(ap.withColumnRenamed("qid", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("n_rel_topk"), F.lit(0)).alias("n_rel_topk"),
            qround(F.coalesce(F.col("ap_raw"), F.lit(0.0)), 6).alias("ap"),
        )
    )


@_q(
    "q_class_weights",
    """
    WITH c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
    t AS (SELECT sum(n) AS total, count(*) AS k FROM c)
    SELECT CAST(label AS INT) AS label,
           CAST(n AS BIGINT) AS n_examples,
           floor(n * 1000000.0 / t.total + 0.5) / 1000000.0 AS freq,
           floor(t.total * 1000000.0 / (t.k * n) + 0.5) / 1000000.0
               AS class_weight
    FROM c CROSS JOIN t
    """,
)
def q_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced class-weight table (sklearn's class_weight='balanced'
    identity, w_c = N/(k·n_c)): per label, its example count, frequency
    and the inverse-frequency weight a loss function multiplies in — the
    one-table fix for label imbalance that q_knn_eval / q_nb_classifier /
    q_linear_probe consumers apply before trusting accuracy numbers.
    Weighted by construction: Σ_c w_c·n_c = N.

    One map-side-combined label count crossed with a 1-row total (the
    scalar-attach pattern); exact integers with two quantized ratios."""
    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.groupBy("label").agg(F.count("*").alias("n"))
    t = c.agg(F.sum("n").alias("total"), F.count("*").alias("k"))
    return c.crossJoin(F.broadcast(t)).select(
        F.col("label").cast("int").alias("label"),
        F.col("n").cast("bigint").alias("n_examples"),
        qround(F.col("n") * 1.0 / F.col("total"), 6).alias("freq"),
        qround(F.col("total") * 1.0 / (F.col("k") * F.col("n")), 6).alias(
            "class_weight"
        ),
    )


@_q(
    "q_dup_cluster_sizes",
    """
    WITH g AS (
      SELECT md5(text) AS dg, count(*) AS sz FROM documents GROUP BY md5(text)
    )
    SELECT CAST(length(bin(sz)) - 1 AS INT) AS log2_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           CAST(sum(sz - 1) AS BIGINT) AS n_removable
    FROM g GROUP BY log2_size
    """,
)
def q_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate cluster STRUCTURE: md5-identity groups bucketed by
    log2 size, with cluster counts, document mass and the removable-row
    count (size − 1 per cluster — what q_dedup_exact would delete).
    q_dup_rate_report and q_coverage_curve give the RATE; this gives the
    shape — a few mega-clusters (one boilerplate page crawled 10⁶ times)
    and a long singleton tail need different treatment than uniform
    small clusters, and Σ n_removable is the exact dedup savings
    forecast before running the dedup.

    Digests only; one map-side-combined group + a ~30-bucket reduce.
    Exact integers end to end: floor(log2(n)) == bit_length(n) - 1, taken
    as length of the base-2 rendering (Spark `conv(sz,10,2)`, DuckDB
    `bin(sz)`) — pure integer arithmetic, no libm. The earlier
    ln(sz)/ln(2.0) form relied on JVM Math.log and DuckDB libm agreeing
    to the last ulp at power-of-2 floor boundaries (ADVICE r11)."""
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy(F.md5(F.col("text").cast("binary")).alias("dg")).agg(
        F.count("*").alias("sz")
    )
    return g.groupBy(
        (F.length(F.conv(F.col("sz").cast("string"), 10, 2)) - 1)
        .cast("int")
        .alias("log2_size")
    ).agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        F.sum("sz").cast("bigint").alias("n_docs"),
        F.sum(F.col("sz") - 1).cast("bigint").alias("n_removable"),
    )
