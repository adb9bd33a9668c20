"""Hybrid-retrieval and diversity-selection operators over the corpus.

The retrieval half of a training-data pipeline: once BM25 (functions/text.py)
and embedding-cosine (operators/llm.py) scores exist, production systems fuse
them (RRF), diversify the fused shortlist (MMR) and balance the corpus across
semantic clusters before sampling. All three are exact, deterministic and
fully oracle-gated — the md5-derived query vectors / centroid grids are the
same cross-engine trick as the verified ANN twins (llm.py:_md5_unit_grid).

Reference parity note: the reference (src/parquetutils.rs) is a schema
tool with no retrieval surface; these keys extend SURVEY.md §2.3's
LLM-pipeline contract (BASELINE.json:6), not §2.1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_to_clickhouse_schema_spark._registry import new_registry
from parquet_to_clickhouse_schema_spark.functions.compat import qround, sql_qround
from parquet_to_clickhouse_schema_spark.functions.text_core import (
    BM25_B,
    BM25_K1,
    BM25_TERMS,
)
from parquet_to_clickhouse_schema_spark.operators.llm_ann import (
    ANN_V_DIM,
    _IVF_GRID_SQL,
    _md5_unit_grid,
)
from parquet_to_clickhouse_schema_spark.operators.llm_cluster import KMV_K
from parquet_to_clickhouse_schema_spark.sources.io import load_table

QUERIES, ORACLES, _q = new_registry()


def _fold_sum(arr):
    """Sequential array-order sum fold. Interpreted HOF (not codegen'd) —
    see llm.py:_ann_plane_bits for when this wins vs the explode form.
    LOAD-BEARING INVARIANT, carried once here for every consumer: the
    fold accumulates element 0 -> n deterministically, while the
    posexplode+groupBy form it replaced sums in partition/merge order —
    Spark never guarantees that order matches element order. Cross-engine
    bit-identity therefore rests on the qround quantization absorbing the
    ~1e-15 reassociation drift between the two orders (and on quantized
    values sitting far from the rounding boundary), NOT on matched
    summation order (ADVICE r16)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _emb_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings as (vec_id, v: array<double>) with a LOUD width guard:
    zip_with pads a length mismatch with NULL, which poisons the dot fold
    into a NULL cosine — under the r15 posexplode+join form a ragged row
    yielded a partial sum, under the fold form it silently vanished from
    the ranking (ADVICE r16). A malformed embedding now fails the job
    with its vec_id instead."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.when(
            F.size("embedding") == ANN_V_DIM,
            F.transform("embedding", lambda x: x.cast("double")),
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"embedding width != {ANN_V_DIM} for vec_id="),
                    F.col("vec_id").cast("string"),
                )
            )
        )
        .alias("v"),
    )


def _query_vec_row(spark: SparkSession, tag: str) -> DataFrame:
    """ONE broadcast row (qarr: d-ascending double array, qn: norm) from
    the md5-derived query vector grid — the row-local cosine scaffold
    shared by q_rank_fusion and q_mmr_diversify."""
    qv = _md5_unit_grid(spark, tag, 1, ANN_V_DIM).select("d", "val")
    return qv.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "val"))),
            lambda s: s["val"],
        ).alias("qarr"),
        F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("qn"),
    )


_BM25_IN = ", ".join(f"'{t}'" for t in BM25_TERMS)

# The BM25 scoring CTEs, verbatim from q_bm25_score's oracle (text.py) —
# the fusion must rank the SAME lexical scores that query emits.
_BM25_SQL = f"""
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             len(string_split(text, ' ')) AS dl
      FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, dl, count(*) AS tf
      FROM toks WHERE tok IN ({_BM25_IN})
      GROUP BY doc_id, tok, dl
    ),
    dfreq AS (
      SELECT tok, count(DISTINCT doc_id) AS df
      FROM toks WHERE tok IN ({_BM25_IN})
      GROUP BY tok
    ),
    stats AS (
      SELECT count(*) AS n_docs,
             avg(len(string_split(text, ' '))) AS avgdl
      FROM documents
    ),
    bm AS (
      SELECT doc_id,
             {sql_qround(f'''sum(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1)
               * (tf * ({BM25_K1} + 1))
               / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))
             )''', 6)} AS bm25
      FROM tf JOIN dfreq USING (tok) CROSS JOIN stats
      GROUP BY doc_id
    )
"""

# Cosine of every embedding against ONE md5-derived query vector (tag is
# interpolated by the consumer); emits qcos quantized at 1e-4.
_QVEC_COS_SQL = """
    qv AS ({grid}),
    qn AS (SELECT sqrt(sum(val * val)) AS qn FROM qv),
    ex AS (
      SELECT vec_id, unnest(range(0, len(embedding))) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    vs AS (
      SELECT e.vec_id, sum(e.v * qv.val) AS dot, sqrt(sum(e.v * e.v)) AS nrm
      FROM ex e JOIN qv USING (d) GROUP BY e.vec_id
    ),
    cos AS (
      SELECT vec_id,
             floor(dot / (nrm * qn) * 10000.0 + 0.5) / 10000.0 AS qcos
      FROM vs CROSS JOIN qn
    )
"""

RRF_K = 60  # the canonical Reciprocal Rank Fusion constant (Cormack 2009)
RRF_TOP = 20

_RANK_FUSION_ORACLE = f"""
    WITH {_BM25_SQL},
    {_QVEC_COS_SQL.format(grid=_IVF_GRID_SQL.format(tag="rrf", n=1, dim=ANN_V_DIM))},
    lexr AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
      FROM bm
    ),
    vecr AS (
      SELECT vec_id AS doc_id,
             row_number() OVER (ORDER BY qcos DESC, vec_id) AS vec_rank
      FROM cos
    ),
    fused AS (
      SELECT v.doc_id, l.lex_rank, v.vec_rank,
             {sql_qround(f'''COALESCE(1.0 / ({RRF_K} + l.lex_rank), 0.0)
             + 1.0 / ({RRF_K} + v.vec_rank)''', 6)} AS rrf
      FROM vecr v LEFT JOIN lexr l USING (doc_id)
    )
    SELECT doc_id, CAST(lex_rank AS INT) AS lex_rank,
           CAST(vec_rank AS INT) AS vec_rank, rrf
    FROM (
      SELECT doc_id, lex_rank, vec_rank, rrf,
             row_number() OVER (ORDER BY rrf DESC, doc_id) AS rn
      FROM fused
    ) WHERE rn <= {RRF_TOP}
"""


@_q("q_rank_fusion", _RANK_FUSION_ORACLE)
def q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher 2009) of a
    lexical and a dense ranking — THE standard hybrid-retrieval combiner
    (Elasticsearch/Vespa/LanceDB all ship exactly this formula):
    rrf(d) = sum over rankers of 1 / (k + rank_r(d)) with k={RRF_K}.
    The lexical ranking is q_bm25_score's scores over the fixed query
    terms ({", ".join(BM25_TERMS)}); the dense ranking is cosine against
    an md5-derived query vector (the verified-ANN grid trick), joined on
    the shared doc_id == vec_id key of the two tables. Docs that match no
    query term have no lexical rank and contribute only the dense term
    (COALESCE(..., 0) in both engines). Top {RRF_TOP} by fused score.

    Determinism: both input rankings order by (quantized score, id) —
    total orders — and rrf arithmetic is the identical IEEE expression
    shape cross-engine (one divide per term, one add), quantized at 1e-6
    before the final rank. Scale shape: BM25 state is |query-terms|-row
    broadcast + 1-row stats broadcast; the query vector is a {ANN_V_DIM}-row
    broadcast; the three global rank windows are the q_window_rank-class
    single-partition serialization — at 100 TB swap in the two-pass
    bucketed rank of q_window_rank_scalable (oracle-identical), or keep
    only per-shard top-N before the global fuse (RRF only needs the top
    of each list: rank > any cutoff contributes < 1/(k+cutoff))."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split("text", " ")).alias("tok"),
        F.size(F.split("text", " ")).alias("dl"),
    ).filter(F.col("tok").isin(*BM25_TERMS))
    tf = toks.groupBy("doc_id", "tok", "dl").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    stats = d.agg(
        F.count("*").alias("n_docs"),
        F.avg(F.size(F.split("text", " "))).alias("avgdl"),
    )
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    score = (
        idf
        * (F.col("tf") * (BM25_K1 + 1))
        / (
            F.col("tf")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    bm = (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(qround(F.sum(score), 6).alias("bm25"))
    )
    lexr = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), "doc_id"))
        .alias("lex_rank"),
    )

    # r16: row-local dense scoring (the q_mmr_diversify rewrite applied
    # here too): the query vector travels as ONE broadcast array row and
    # dot/norm are zip_with/aggregate folds (_fold_sum carries the
    # fold-order invariant) — the corpus-sized stage is a single scan,
    # not a rows x dim posexplode shuffle. _emb_rows guards the width.
    emb = _emb_rows(spark, sf_dir)
    cos = emb.crossJoin(F.broadcast(_query_vec_row(spark, "rrf"))).select(
        "vec_id",
        qround(
            _fold_sum(F.zip_with("v", "qarr", lambda x, y: x * y))
            / (
                F.sqrt(_fold_sum(F.transform("v", lambda x: x * x)))
                * F.col("qn")
            ),
            4,
        ).alias("qcos"),
    )
    vecr = cos.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.col("qcos").desc(), "vec_id"))
        .alias("vec_rank"),
    )

    fused = vecr.join(lexr, "doc_id", "left").withColumn(
        "rrf",
        qround(
            F.coalesce(1.0 / (RRF_K + F.col("lex_rank")), F.lit(0.0))
            + 1.0 / (RRF_K + F.col("vec_rank")),
            6,
        ),
    )
    return (
        fused.withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.col("rrf").desc(), "doc_id")),
        )
        .filter(F.col("rn") <= RRF_TOP)
        .select(
            "doc_id",
            F.col("lex_rank").cast("int").alias("lex_rank"),
            F.col("vec_rank").cast("int").alias("vec_rank"),
            "rrf",
        )
    )


MMR_N = 12  # relevance shortlist fed to the diversifier
MMR_K = 4  # diversified picks (greedy steps, unrolled in BOTH engines)
MMR_LAMBDA = 0.7  # relevance weight; diversity weight is MMR_MU
MMR_MU = 0.3  # written as its own literal so neither engine computes 1-lambda


def _mmr_oracle() -> str:
    """Unrolled-greedy MMR oracle: one (pick, selected) CTE pair per step,
    the same chained-CTE trick as q_pagerank_ranks' unrolled power loop."""
    steps = []
    for i in range(2, MMR_K + 1):
        steps.append(
            f"""
    s{i} AS (
      SELECT vec_id, {i} AS step, score FROM (
        SELECT c.vec_id,
               {MMR_LAMBDA} * c.qrel - {MMR_MU} * max(sim.qsim) AS score
        FROM cand c
        JOIN sims sim ON sim.a = c.vec_id
                     AND sim.b IN (SELECT vec_id FROM sel{i - 1})
        WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
        GROUP BY c.vec_id, c.qrel
      ) ORDER BY score DESC, vec_id LIMIT 1
    ),
    sel{i} AS (SELECT vec_id FROM sel{i - 1}
               UNION ALL SELECT vec_id FROM s{i})"""
        )
    union = "\n      UNION ALL ".join(
        f"SELECT vec_id, step, score FROM s{i}" for i in range(1, MMR_K + 1)
    )
    return f"""
    WITH {_QVEC_COS_SQL.format(grid=_IVF_GRID_SQL.format(tag="mmr", n=1, dim=ANN_V_DIM))},
    cand AS (
      SELECT vec_id, qcos AS qrel FROM cos
      ORDER BY qcos DESC, vec_id LIMIT {MMR_N}
    ),
    cex AS (
      SELECT e.vec_id, e.d, e.v FROM ex e
      WHERE e.vec_id IN (SELECT vec_id FROM cand)
    ),
    cn AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM cex GROUP BY vec_id),
    sims AS (
      SELECT a.vec_id AS a, b.vec_id AS b,
             floor(sum(a.v * b.v) / (na.nrm * nb.nrm) * 10000.0 + 0.5)
               / 10000.0 AS qsim
      FROM cex a
      JOIN cex b ON a.d = b.d AND a.vec_id <> b.vec_id
      JOIN cn na ON na.vec_id = a.vec_id
      JOIN cn nb ON nb.vec_id = b.vec_id
      GROUP BY a.vec_id, b.vec_id, na.nrm, nb.nrm
    ),
    s1 AS (
      SELECT vec_id, 1 AS step, {MMR_LAMBDA} * qrel AS score
      FROM cand ORDER BY qrel DESC, vec_id LIMIT 1
    ),
    sel1 AS (SELECT vec_id FROM s1),{",".join(steps)}
    SELECT CAST(step AS INT) AS step, vec_id,
           {sql_qround("score", 6)} AS mmr_score
    FROM ({union})
"""


@_q("q_mmr_diversify", _mmr_oracle())
def q_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998): greedily
    re-rank a relevance shortlist so each pick trades relevance against
    similarity to what is already selected — the standard diversifier for
    retrieval-augmented sampling and eval-set construction.
    score(c) = {MMR_LAMBDA}*rel(c) − {MMR_MU}*max_{{s∈S}} sim(c, s);
    {MMR_K} greedy steps over the top-{MMR_N} shortlist of cosine
    relevance against an md5-derived query vector.

    Greedy selection is inherently sequential. The oracle UNROLLS the
    {MMR_K} steps as one CTE pair per step, the same trick as
    q_pagerank_ranks' unrolled power iterations. Spark builds the quantized
    shortlist relevance and pairwise sims lazily, then runs the whole greedy
    loop inside ONE cogroup task on a constant key (no collect — the driver
    never sees a row, and no step launches a job of its own). Determinism:
    relevance and pairwise sims are quantized at 1e-4 BEFORE any
    comparison, every argmax orders by (score, vec_id) — a total order —
    and the score arithmetic ({MMR_LAMBDA}*qrel − {MMR_MU}*maxsim, both
    weights written as literals so neither engine computes 1−λ) is the
    identical IEEE expression shape in Python floats and in DuckDB. Scale
    shape: the shortlist is top-N (TakeOrdered, no global sort); everything
    after operates on N={MMR_N} rows — at 100 TB N grows to maybe 10³ and
    the greedy task holds the N² sim matrix, a few MB; the corpus-sized
    work stays in the shortlist scan. MMR's candidates-then-greedy split is
    exactly what makes it usable at scale."""
    # r16 (VERDICT r15 #4): the relevance scan is ROW-LOCAL — the query
    # vector is collected into one broadcast array row (_query_vec_row)
    # and the dot/norm are zip_with/aggregate folds over the embedding
    # array (the llm.py cosine idiom), so the corpus-sized stage is a
    # single scan feeding TakeOrdered(N). The r15 posexplode+groupBy form
    # shuffled rows x dim exploded tuples to rebuild per-vector sums the
    # array already holds; at 100 TB that shuffle IS the query. The norm
    # fold is computed ONCE in a chained select and reused in qrel's
    # denominator — HOF folds are CodegenFallback, so whole-stage codegen
    # cannot dedup the subexpression itself (review r16). _emb_rows
    # guards the width so a ragged row fails loudly (ADVICE r16).
    emb = _emb_rows(spark, sf_dir)
    pre = emb.crossJoin(F.broadcast(_query_vec_row(spark, "mmr"))).select(
        "vec_id",
        "v",
        "qarr",
        "qn",
        F.sqrt(_fold_sum(F.transform("v", lambda x: x * x))).alias("nrm"),
    )
    scored = pre.select(
        "vec_id",
        "v",
        "nrm",
        qround(
            _fold_sum(F.zip_with("v", "qarr", lambda x, y: x * y))
            / (F.col("nrm") * F.col("qn")),
            4,
        ).alias("qrel"),
    )
    # localCheckpoint (NOT .cache — nothing pinned for the session): both
    # sides of the sim crossJoin below read this MMR_N-row frame, which
    # would otherwise re-run the embedding scan once per side
    cand_full = (
        scored.orderBy(F.col("qrel").desc(), "vec_id")
        .limit(MMR_N)
        .localCheckpoint()
    )
    cand = cand_full.select("vec_id", "qrel")

    # pairwise sims among the N shortlist rows: an N x N broadcast
    # crossJoin of array rows, each cosine a row-local fold (the N² frame
    # is tiny by construction — N is the MMR shortlist, not the corpus)
    ca = cand_full.select(
        F.col("vec_id").alias("a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    cb = cand_full.select(
        F.col("vec_id").alias("b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    sims = (
        ca.crossJoin(F.broadcast(cb))
        .filter(F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            qround(
                _fold_sum(F.zip_with("va", "vb", lambda x, y: x * y))
                / (F.col("na") * F.col("nb")),
                4,
            ).alias("qsim"),
        )
    )

    # the greedy loop holds N qrel values and N² sims, so it runs as ONE
    # cogroup task on a constant key: plain Python floats evaluate the same
    # IEEE expression (lam*qrel − mu*msim) Spark would, and no per-step job,
    # barrier or checkpoint is needed. Nested, so it ships by value.
    k, lam, mu = MMR_K, MMR_LAMBDA, MMR_MU

    def greedy(cand_pdf, sims_pdf):
        import pandas as pd

        qrel = dict(zip(cand_pdf["vec_id"].tolist(), cand_pdf["qrel"].tolist()))
        pairs = zip(sims_pdf["a"].tolist(), sims_pdf["b"].tolist())
        sim = dict(zip(pairs, sims_pdf["qsim"].tolist()))

        def score(v):
            if not selected:
                return lam * qrel[v]
            return lam * qrel[v] - mu * max(sim[v, s] for s in selected)

        picks, selected = [], []
        for step in range(1, min(k, len(qrel)) + 1):
            rest = (v for v in qrel if v not in selected)
            v = min(rest, key=lambda v: (-score(v), v))
            picks.append((step, v, score(v)))
            selected.append(v)
        return pd.DataFrame(picks, columns=["step", "vec_id", "score"])

    picks = (
        cand.groupBy(F.lit("all"))
        .cogroup(sims.groupBy(F.lit("all")))
        .applyInPandas(greedy, "step int not null, vec_id long, score double")
    )
    return picks.select(
        F.col("step").cast("int").alias("step"),
        "vec_id",
        qround(F.col("score"), 6).alias("mmr_score"),
    )


CBS_CAP = 20  # per-cluster keep budget (binds: mean cluster size ~60 at sf0.01)

_CBS_ORACLE = f"""
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
    r AS (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY cid
                                ORDER BY md5('cbs:' || vec_id), vec_id) AS rn
      FROM a1
    )
    SELECT CAST(cid AS INT) AS cid, vec_id, CAST(rn AS INT) AS keep_rank
    FROM r WHERE rn <= {CBS_CAP}
"""


@_q("q_cluster_balanced_sample", _CBS_ORACLE)
def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced subsampling: cap every semantic cluster at
    {CBS_CAP} kept vectors so no dense region dominates the training mix —
    the diversity-balancing step DataComp/MetaCLIP-style curation runs
    after clustering (complements q_source_cap / q_stratified_sample,
    which balance on METADATA strata; this balances on semantic-space
    density). Clusters are the same md5-grid nearest-centroid assignment
    as q_kmeans_verified / q_semdedup (one shared, fully oracle-gated
    clustering), and the within-cluster keep order is md5('cbs:'||vec_id)
    — a deterministic pseudo-random draw both engines replay, with vec_id
    breaking the (impossible-in-practice) hash tie.

    Scale shape: assignment is the fact stream joined to a broadcast
    {KMV_K}x{ANN_V_DIM} centroid table + per-vector argmin; the cap is a
    per-cluster row_number window — partitioned by cid, NOT global, so it
    scales as long as clusters fit a partition, and k grows with the
    corpus (the SemDeDup contract) keeping cluster size bounded. At
    100 TB the md5-order cap needs no global state at all: rank within
    (cid) is the only window, and skew means a hot cluster — which the
    k∝n dial removes."""
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
    h = F.md5(
        F.concat(F.lit("cbs:"), F.col("vec_id").cast("string")).cast("binary")
    )
    wk = Window.partitionBy("cid").orderBy(h, "vec_id")
    return (
        a1.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= CBS_CAP)
        .select(
            F.col("cid").cast("int").alias("cid"),
            "vec_id",
            F.col("rn").cast("int").alias("keep_rank"),
        )
    )


MS_TW = 8  # late-interaction token width (64-dim embedding -> 8 tokens)
MS_QT = ANN_V_DIM // MS_TW  # query tokens
MS_TOP = 20

_MAXSIM_ORACLE = f"""
    WITH q AS ({_IVF_GRID_SQL.format(tag="ms", n=MS_QT, dim=MS_TW)}),
    qn AS (SELECT c, sqrt(sum(val * val)) AS qnrm FROM q GROUP BY c),
    ex AS (
      SELECT vec_id, CAST(d // {MS_TW} AS INT) AS dt,
             CAST(d % {MS_TW} AS INT) AS j, v
      FROM (
        SELECT vec_id, unnest(range(0, len(embedding))) AS d,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
      )
    ),
    dn AS (SELECT vec_id, dt, sqrt(sum(v * v)) AS dnrm FROM ex GROUP BY 1, 2),
    dots AS (
      SELECT e.vec_id, e.dt, q.c AS qt, sum(e.v * q.val) AS dot
      FROM ex e JOIN q ON q.d = e.j
      GROUP BY 1, 2, 3
    ),
    ms AS (
      SELECT d.vec_id, d.qt, max(d.dot / (dn.dnrm * qn.qnrm)) AS msim
      FROM dots d
      JOIN dn ON dn.vec_id = d.vec_id AND dn.dt = d.dt
      JOIN qn ON qn.c = d.qt
      GROUP BY 1, 2
    )
    SELECT vec_id,
           floor(sum(msim) * 1000000.0 + 0.5) / 1000000.0 AS maxsim
    FROM ms GROUP BY vec_id
    ORDER BY maxsim DESC, vec_id LIMIT {MS_TOP}
"""


@_q("q_maxsim_colbert", _MAXSIM_ORACLE)
def q_maxsim_colbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval (Khattab & Zaharia 2020):
    score(doc) = Σ over query tokens of max over doc tokens of cosine —
    here each 64-dim embedding is read as {MS_QT} token vectors of
    {MS_TW} dims and the {MS_QT}-token query comes from the shared
    md5 unit grid, so the whole MaxSim pipeline (token split, per-token
    norms, {MS_QT}×{MS_QT} token interactions, max, sum) is rebuilt
    identically by DuckDB and hash-gated.

    Determinism: max() picks per-token winners on raw doubles (identical
    inputs both engines — products of identical grid values and casts);
    the summed score is 1e-6-quantized BEFORE the top-{MS_TOP} order with
    vec_id tiebreak (quantize-then-rank).

    Scale shape: the whole interaction tensor is ONE mapInPandas BLAS
    kernel per batch — (batch × {MS_QT} tokens × {MS_QT} tokens) einsum,
    row-local, no shuffle at all before the final top-{MS_TOP}
    TakeOrdered. The first cut expressed the interactions as exploded
    groupBys and measured 12.3 s at 10× data (linear but
    constant-heavy — docs/SCALE.md keeps the counterexample); the kernel
    is the same numbers in vectorized form. At 100 TB this is the honest
    MaxSim cost: one scan; the candidate-generation front-end (q_ann_*)
    cuts the scored set when even one scan is too much. Cross-engine
    float: numpy dots differ from DuckDB's sequential sums by ~1e-15
    relative; the 1e-6 quantize-before-rank absorbs it (the q_semdedup
    kernel precedent)."""
    import hashlib

    import numpy as np
    import pandas as pd

    qmat = np.array(
        [
            [
                (
                    int(hashlib.md5(f"ms:{c}:{d}".encode()).hexdigest()[:4], 16)
                    / 65535.0
                )
                * 2.0
                - 1.0
                for d in range(MS_TW)
            ]
            for c in range(MS_QT)
        ]
    )
    qnrm = np.sqrt((qmat * qmat).sum(axis=1))

    def score_batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            d3 = mat.reshape(len(pdf), MS_QT, MS_TW)
            dnrm = np.sqrt((d3 * d3).sum(axis=2))
            sims = np.einsum("btd,qd->btq", d3, qmat) / (
                dnrm[:, :, None] * qnrm[None, None, :]
            )
            yield pd.DataFrame(
                {"vec_id": ids, "raw": sims.max(axis=1).sum(axis=1)}
            )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    scored = emb.mapInPandas(score_batches, schema="vec_id long, raw double")
    return (
        scored.select("vec_id", qround(F.col("raw"), 6).alias("maxsim"))
        .orderBy(F.col("maxsim").desc(), "vec_id")
        .limit(MS_TOP)
    )
