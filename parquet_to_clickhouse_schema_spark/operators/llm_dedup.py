"""Text dedup operators: exact digest dedup, MinHash/LSH near-dup
(batch + incremental), SimHash + its verified twin, n-gram Jaccard,
connected-component dup clusters, the composed dedup pipeline,
embedding-based near-dup, and the inter-source shingle Jaccard matrix.

Split out of operators/llm.py in r18 (VERDICT r17 task #5) — a mechanical
move, no behavior change. Every candidate-generation step is an equi-join
on a bounded key (band hash, shingle digest, bucket id), never a document
cross-join; shuffles carry digests/signatures, not text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_to_clickhouse_schema_spark._registry import new_registry
from parquet_to_clickhouse_schema_spark.functions.compat import qround, sql_qround
from parquet_to_clickhouse_schema_spark.sources.io import load_table

QUERIES, ORACLES, _q = new_registry()


@_q(
    "q_dedup_exact",
    """
    SELECT min(doc_id) AS rep_doc_id,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(min(n_chars) AS BIGINT) AS rep_chars
    FROM documents
    GROUP BY lower(trim(text))
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized text: hash-groupBy on a fixed-width DIGEST
    of the normalization key, not the text itself — the shuffle carries 32
    bytes per row instead of whole documents (at 100 TB that is the
    difference between shuffling ~the corpus and shuffling ~0.03% of it).
    sha2-256 collisions are cryptographically negligible, so grouping by
    digest partitions rows exactly like grouping by the normalized text and
    the output (which never exposes the key) is identical — the DuckDB twin
    keeps the semantic GROUP BY lower(trim(text)) as the specification."""
    d = load_table(spark, sf_dir, "documents")
    digest = F.sha2(F.lower(F.trim(F.col("text"))), 256)
    return (
        d.groupBy(digest.alias("text_digest"))
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count("*").alias("n_copies"),
            F.min("n_chars").alias("rep_chars"),
        )
        .drop("text_digest")
    )


N_HASHES = 16
N_BANDS = 4  # 4 rows per band
SHINGLE_K = 3


def shingle_array(text_col: str = "text"):
    """Column expression: the SHINGLE_K-word shingles of a space-split
    text column (non-distinct; wrap in array_distinct for set semantics).
    slice() clamps at the array end, so documents shorter than SHINGLE_K
    tokens yield one short shingle instead of an ANSI INVALID_ARRAY_INDEX
    (element_at past the end throws under Spark 4's default ANSI mode).
    Shared by minhash_signatures and the exact-Jaccard verification so
    candidates and verification always see the same shingle definition.

    r18: lambda-captured expressions are re-evaluated PER ELEMENT inside
    higher-order functions (no CSE in the interpreted HOF path), so
    slicing `split(text)` inside the lambda re-splits the whole document
    once per shingle position — O(tokens²) per doc. Hot paths project
    `split(text)` to a named column first and call shingle_array_of_toks
    on the column reference; CollapseProject keeps the projection because
    the alias is referenced more than once (measured 2× on the shingle
    stage, byte-identical output). This wrapper stays for callers whose
    input is small."""
    return shingle_array_of_toks(F.split(F.col(text_col), " "))


def shingle_array_of_toks(toks):
    """shingle_array over an already-computed token-array column. Pass a
    plain column REFERENCE (project the split first) — passing the split
    expression itself re-evaluates it per shingle position (docstring
    above)."""
    n_sh = F.greatest(F.size(toks) - (SHINGLE_K - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), n_sh - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, SHINGLE_K)),
    )


def minhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id + minhash: array of N_HASHES min-hashed shingle values.

    Pure JVM pipeline: split → k-word shingles (transform over sequence) →
    ONE string xxhash64 per shingle → N_HASHES long-input xxhash64(h, seed)
    → array_min per seed. Hashing the 64-bit base hash with per-seed
    re-hashes is a standard universal family (added collision mass is
    ~n_shingles²/2⁶⁴, negligible), and hashing 8-byte longs 16× is much
    cheaper than hashing ~20-char strings 16× — A/B at sf0.1: 2.2 s → 1.8 s
    warm for the signature stage. Deterministic across runs/partitions
    (no rand()), which is what makes near-dedup reproducible at scale.

    The repartition between shingling and hashing is a materialization
    barrier, not a distribution choice: Catalyst collapses adjacent
    projections, and interpreted higher-order functions get no common-
    subexpression elimination — without the barrier the shingle+base-hash
    construction is re-inlined into all N_HASHES minhash transforms and
    runs 16x (measured 97s -> ~10s at sf0.1).

    (An explode + 16-way min hash-aggregate variant — the form that wins
    for simhash's bit votes — was A/B-measured ~10% SLOWER here: the
    explode adds per-row overhead, so the array form stands.)
    """
    return minhash_sig_from_base(minhash_base(docs, text_col))


def minhash_base(
    docs: DataFrame, text_col: str = "text", extra_cols: tuple = ()
) -> DataFrame:
    """doc_id (+ extra_cols) + ``hs``: the xxhash64-per-shingle base array —
    the shared input of BOTH the minhash signature and the exact-Jaccard
    verify set. Split out of minhash_signatures (r14) so LSH queries can
    localCheckpoint this ONE tokenize→shingle→hash pass and derive
    signatures, band tables and verify shingle-sets from it instead of
    re-running the pass per consumer (the band self-join alone consumes
    signatures twice). The repartition is the materialization barrier
    documented in minhash_signatures. The token array is projected to a
    named column first (r18, shingle_array docstring) so the split runs
    once per document, not once per shingle position."""
    pre = docs.select(
        "doc_id", *extra_cols, F.split(F.col(text_col), " ").alias("_toks")
    )
    base = F.transform(
        shingle_array_of_toks(F.col("_toks")), lambda s: F.xxhash64(s)
    )
    keep = [c for c in pre.columns if c != "_toks"]
    return pre.select(*keep, base.alias("hs")).repartition("doc_id")


def minhash_sig_from_base(hashed: DataFrame) -> DataFrame:
    """doc_id + sig from a minhash_base frame (N_HASHES seeded re-hash
    minima per doc — see minhash_signatures for the family argument)."""
    sig = F.array(
        *[
            F.array_min(F.transform("hs", lambda h: F.xxhash64(h, F.lit(seed))))
            for seed in range(N_HASHES)
        ]
    )
    return hashed.select("doc_id", sig.alias("sig"))


@_q(
    "q_near_dedup_minhash",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(t[i:i+2], ' ')
                            for i in range(1, greatest(len(t)-2, 1)+1)]) AS shset
      FROM toks
    ),
    ex AS (SELECT doc_id, unnest(shset) AS s, len(shset) AS nsh FROM sh),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i,
             any_value(a.nsh) AS na, any_value(b.nsh) AS nb
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           floor((i * 1.0 / (na + nb - i)) * 1000000.0 + 0.5) / 1000000.0
               AS jaccard
    FROM inter
    WHERE i * 1.0 / (na + nb - i) >= 0.5
    """,
)
def q_near_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding, VERIFIED by exact
    shingle-set Jaccard — the standard industrial candidate/verify split.

    Candidate generation never compares all pairs: each doc emits N_BANDS
    band keys (hash of 4 consecutive signature values); docs sharing a band
    key meet in an equi-join on (band, band_hash). That join is
    hash-partitioned — at 100 TB it shuffles O(n * bands) small keys, and
    only colliding buckets produce comparisons. Each candidate pair is then
    verified with the EXACT Jaccard over the docs' distinct shingle sets
    (array_intersect/size, JVM-side; the tiny candidate set joins back to
    the shingle table, AQE broadcasts it), and only pairs with exact
    J >= 0.5 survive. Verification makes precision exact by construction;
    recall is the one LSH-dependent quantity, and the DuckDB oracle — the
    full all-pairs shingle-join Jaccard at the same threshold — pins it:
    a hash-match driver row PROVES banding missed zero qualifying pairs at
    that SF (measured: 25/25 at sf0.01, 256/256 at sf0.1 — the corpus has
    a clean similarity gap, pairs sit at J >= 0.8 or J < 0.3, where the
    (1-J^4)^4 miss probability is ~2e-4; VERDICT r8 #6 promotion from
    rows-only). Cross-engine the jaccard value is one IEEE double division
    of identical integer counts — bit-identical — then half-up qround(6)
    on both sides.
    """
    d = load_table(spark, sf_dir, "documents")
    # NO localCheckpoint here (r14 measured-and-rejected): AQE's
    # ReusedExchange already dedups the identical signature subplan across
    # the band self-join's two sides, so a checkpoint of the base-hash
    # table only adds block-manager storage of the full corpus — 20×
    # interleaved A/B: old [9.0, 6.4, 6.5] vs checkpointed [21.8, 5.9,
    # 6.1] s (cold materialization 2.4× WORSE, warm a wash), sf0.1
    # bench-style 2.85 vs 2.69 s (noise). Contrast
    # q_incremental_near_dedup, where the checkpoint replaces THREE
    # genuinely distinct pipelines and wins 2.8× cold.
    sigs = minhash_signatures(d)

    rows_per_band = N_HASHES // N_BANDS
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.element_at("sig", b * rows_per_band + r + 1) for r in range(rows_per_band)]
                        ).alias("bh"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bh")

    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )

    # shingles travel as xxhash64 longs in the verify arrays (r13, the
    # q_dedup_ngram precedent): intersect/union over 8-byte longs, and the
    # candidate join ships narrow arrays — jaccard is unchanged modulo the
    # minhash ~n²/2⁶⁴ collision mass; the raw-shingle DuckDB oracle pins it
    shs = d.select("doc_id", F.split("text", " ").alias("_toks")).select(
        "doc_id",
        F.array_distinct(
            F.transform(
                shingle_array_of_toks(F.col("_toks")), lambda s: F.xxhash64(s)
            )
        ).alias("shset"),
    )
    sa = shs.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("sa"))
    sb = shs.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("i", inter)
        .withColumn("u", union)
        .filter(F.col("i") / F.col("u") >= 0.5)
        .select(
            "doc_a",
            "doc_b",
            qround(F.col("i") / F.col("u"), 6).alias("jaccard"),
        )
    )


@_q(
    "q_incremental_near_dedup",
    """
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id, source,
             list_distinct([array_to_string(t[i:i+2], ' ')
                            for i in range(1, greatest(len(t)-2, 1)+1)]) AS shset
      FROM toks
    ),
    ex AS (
      SELECT doc_id, source, unnest(shset) AS s, len(shset) AS nsh FROM sh
    ),
    inter AS (
      SELECT b.doc_id AS batch_doc, h.doc_id AS history_doc, count(*) AS i,
             any_value(b.nsh) AS nb, any_value(h.nsh) AS nh
      FROM ex b JOIN ex h ON b.s = h.s
      WHERE CAST(substr(b.source, 4) AS INT) >= 10
        AND CAST(substr(h.source, 4) AS INT) < 10
      GROUP BY b.doc_id, h.doc_id
    )
    SELECT batch_doc, history_doc,
           floor((i * 1.0 / (nb + nh - i)) * 1000000.0 + 0.5) / 1000000.0
               AS jaccard
    FROM inter
    WHERE i * 1.0 / (nb + nh - i) >= 0.5
    """,
)
def q_incremental_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup screening — the companion to training.py's
    exact q_incremental_dedup: a new batch (sources src10+) is checked for
    near-duplicates against the already-ingested history (src0..src9)
    without ever comparing history to itself. Candidates come from the
    SAME banded-LSH signatures as q_near_dedup_minhash, but the pair join
    is batch x history only — at production scale the history side's band
    table is a standing index (append-only, written once per ingest), so
    each daily batch costs O(batch bands + collisions), not O(corpus²) or
    even O(corpus). Candidates are verified with exact shingle-set Jaccard
    (same shared `shingle_array` definition) and pairs with J >= 0.5
    survive; the DuckDB oracle computes the full cross-split all-pairs
    answer, so a hash match pins banding recall on the batch-history cut.

    Scale shape: signature build is row-local JVM; the band join is an
    equi-join with the batch side small by construction; verification
    joins the tiny candidate set back to the shingle table (AQE
    broadcasts it)."""
    d = load_table(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    # ONE checkpointed tokenize→shingle→hash pass carrying the split flag:
    # batch/hist band tables AND the verify shingle-sets all derive from
    # it. Unlike q_near_dedup_minhash (where AQE exchange reuse already
    # dedups the identical self-join subplans and a checkpoint was
    # measured-and-rejected), the three consumers here are genuinely
    # DISTINCT pipelines (different filters/projections), so the
    # materialization replaces two full corpus passes — r14 20× probe:
    # 14.8 → 5.4 s cold (2.8×), sf0.1 a wash. The storage cost is the
    # base-hash table once; the production form keeps the history side as
    # a standing index anyway (docstring).
    hashed = minhash_base(
        d, extra_cols=((src_num >= 10).alias("_is_batch"),)
    ).localCheckpoint(eager=False)

    rows_per_band = N_HASHES // N_BANDS

    def band_table(docs, id_alias):
        sigs = minhash_sig_from_base(docs)
        return sigs.select(
            F.col("doc_id").alias(id_alias),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.xxhash64(
                                *[
                                    F.element_at("sig", b * rows_per_band + r + 1)
                                    for r in range(rows_per_band)
                                ]
                            ).alias("bh"),
                        )
                        for b in range(N_BANDS)
                    ]
                )
            ).alias("bk"),
        ).select(id_alias, "bk.band", "bk.bh")

    cand = (
        band_table(hashed.filter("_is_batch"), "batch_doc")
        .join(
            band_table(hashed.filter(~F.col("_is_batch")), "history_doc"),
            ["band", "bh"],
        )
        .select("batch_doc", "history_doc")
        .distinct()
    )

    # shingles travel as xxhash64 longs in the verify arrays (r13, the
    # q_dedup_ngram precedent): intersect/union over 8-byte longs, and the
    # candidate join ships narrow arrays — jaccard is unchanged modulo the
    # minhash ~n²/2⁶⁴ collision mass; the raw-shingle DuckDB oracle pins it.
    # The verify sets distinct the SAME checkpointed base hashes.
    shs = hashed.select("doc_id", F.array_distinct("hs").alias("shset"))
    sb = shs.select(F.col("doc_id").alias("batch_doc"), F.col("shset").alias("sb"))
    sh = shs.select(F.col("doc_id").alias("history_doc"), F.col("shset").alias("sh"))
    inter = F.size(F.array_intersect("sb", "sh"))
    union = F.size("sb") + F.size("sh") - inter
    return (
        cand.join(sb, "batch_doc")
        .join(sh, "history_doc")
        .withColumn("i", inter)
        .withColumn("u", union)
        .filter(F.col("i") / F.col("u") >= 0.5)
        .select(
            "batch_doc",
            "history_doc",
            qround(F.col("i") / F.col("u"), 6).alias("jaccard"),
        )
    )


@_q("q_dedup_simhash")  # rows-only: xxhash64 bit arithmetic has no portable SQL twin
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 64-bit signature where bit b is the sign of the sum
    of (+1/-1) votes from each token's hash bit b. Documents within Hamming
    distance 3 are near-duplicate candidates.

    Candidate generation uses the standard pigeonhole blocking: split the
    signature into 4 disjoint 16-bit blocks; any pair within Hamming
    distance 3 agrees on at least one whole block, so an equi-join per block
    finds all such pairs without O(n²) comparison — the same
    join-not-crossjoin shape as MinHash banding. The 16-bit width is the
    scale knob: 65,536 distinct block values keep the expected bucket size
    at n/65536 (r2's 8-bit blocks gave only 256 buckets — n/256 rows per
    bucket and a quadratic within-bucket join at corpus scale). At 100 TB,
    widen the signature (e.g. 128-bit via two longs) and the blocks with
    it, keeping d+1 blocks for Hamming ≤ d.

    The 64 per-bit votes are computed as one EXPLODE + whole-stage-codegen
    hash aggregate (64 conditional sums over the token-hash column, one
    xxhash64 per token via codegen subexpression elimination) — the
    interpreted-HOF formulation this replaces (64 F.aggregate passes over
    a hash array per document) was ~6x slower for identical output; see
    the ann_lsh_topk rebuild for the same pitfall. Partial aggregation
    shrinks the shuffle to one 64-int row per document.
    """
    d = load_table(spark, sf_dir, "documents")
    bits = 64
    block_bits = 16

    ex = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    h = F.xxhash64("tok")
    votes = ex.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    # pack votes into one long signature (bit b of the hash votes for
    # signature bit 63-b, MSB-first like the original bit array).
    # shiftleft|or, NOT arithmetic: +2^63 overflows under ANSI mode, while
    # the bit form wraps into the sign bit silently — hamming is XOR +
    # bit_count, sign-agnostic, so the wrap is harmless
    sig = F.lit(0).cast("long")
    for b in range(bits):
        bit = F.when(F.col(f"v{b}") >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig.bitwiseOR(F.shiftleft(bit, bits - 1 - b))
    # pigeonhole blocks are 16-bit slices of the packed long (mask after
    # the arithmetic shiftright: it sign-extends past bit 63)
    packed = votes.select(
        "doc_id",
        sig.alias("simhash"),
        *[
            F.shiftright(sig, bits - block_bits * (blk + 1))
            .bitwiseAND(F.lit(0xFFFF))
            .alias(f"blk{blk}")
            for blk in range(bits // block_bits)
        ],
    )
    pairs = None
    for blk in range(bits // block_bits):
        a = packed.alias("a")
        b = packed.alias("b")
        p = (
            a.join(b, F.col(f"a.blk{blk}") == F.col(f"b.blk{blk}"))
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.bit_count(
                    F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
                ).alias("hamming"),
            )
        )
        pairs = p if pairs is None else pairs.unionAll(p)
    return pairs.filter(F.col("hamming") <= 3).distinct()


# ------------------------------------------------- verified SimHash (r10) ---
# Same promotion move as q_ann_verified_topk: q_dedup_simhash is rows-only
# because xxhash64 has no DuckDB twin — but md5 does, and a 64-bit token
# hash read off md5's hex nibbles is just as uniform. With that one swap
# the whole SimHash pipeline (votes -> signature -> pigeonhole block join
# -> Hamming verify) becomes bit-portable and driver-gated.

SIMHASH_V_BITS = 64
SIMHASH_V_BLOCK_BITS = 16
SIMHASH_V_HAMMING = 3

_SIMHASH_V_ORACLE = f"""
    WITH ex AS (
      SELECT doc_id, md5(tok) AS h
      FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
            FROM documents)
    ),
    bitsrc AS (
      SELECT doc_id, b.b AS b,
             (strpos('0123456789abcdef', substr(h, b.b // 4 + 1, 1)) - 1)
               // CAST(pow(2, 3 - b.b % 4) AS INT) % 2 AS bit
      FROM ex, (SELECT unnest(range(0, {SIMHASH_V_BITS})) AS b) b
    ),
    votes AS (
      SELECT doc_id, b, sum(CASE WHEN bit = 1 THEN 1 ELSE -1 END) AS v
      FROM bitsrc GROUP BY doc_id, b
    ),
    sig AS (
      SELECT doc_id,
             string_agg(CASE WHEN v >= 0 THEN '1' ELSE '0' END, '' ORDER BY b)
               AS sig
      FROM votes GROUP BY doc_id
    ),
    blocks AS (
      SELECT doc_id, blk.k AS blk,
             substr(sig, blk.k * {SIMHASH_V_BLOCK_BITS} + 1,
                    {SIMHASH_V_BLOCK_BITS}) AS bucket,
             sig
      FROM sig,
           (SELECT unnest(range(0, {SIMHASH_V_BITS // SIMHASH_V_BLOCK_BITS}))
              AS k) blk
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sig AS sig_a, b.sig AS sig_b
      FROM blocks a JOIN blocks b
        ON a.blk = b.blk AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    ham AS (
      SELECT doc_a, doc_b,
             CAST((SELECT count(*) FROM unnest(range(1, {SIMHASH_V_BITS + 1}))
                     t(i)
                   WHERE substr(sig_a, i, 1) <> substr(sig_b, i, 1))
               AS INT) AS hamming
      FROM cand
    )
    SELECT doc_a, doc_b, hamming FROM ham
    WHERE hamming <= {SIMHASH_V_HAMMING}
"""


@_q("q_simhash_verified", _SIMHASH_V_ORACLE)
def q_simhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dedup with a FULL oracle gate (r10): identical
    pipeline to q_dedup_simhash but the 64-bit token hash is the first 16
    hex nibbles of md5(token) — a function both engines share — so DuckDB
    independently rebuilds the per-bit votes, the signature, the
    pigeonhole 16-bit block join, AND the Hamming verification, and the
    driver's hash check covers the whole path (q_dedup_simhash stays as
    the faster xxhash64 production variant; its blocking recall is pinned
    in tests, its arithmetic now certified through this twin).

    Scale shape: votes are one groupBy(doc_id) with 64 codegen
    conditional sums over the distinct-token stream (the nibble values
    are common subexpressions — 16 instr() calls per token, not 64);
    shuffle carries one 64-int row per doc; blocking is the same d+1
    pigeonhole equi-join as the production variant; the Hamming verify
    is a 64-term fold over the CANDIDATE pairs only."""
    d = load_table(spark, sf_dir, "documents")
    bits, block_bits = SIMHASH_V_BITS, SIMHASH_V_BLOCK_BITS

    ex = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    ).withColumn("h", F.md5(F.col("tok").cast("binary")))
    nib = [
        F.expr(f"instr('0123456789abcdef', substring(h, {j + 1}, 1)) - 1")
        for j in range(bits // 4)
    ]
    votes = ex.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(nib[b // 4].cast("int"), 3 - b % 4).bitwiseAND(
                        F.lit(1)
                    )
                    == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    sig = F.concat(
        *[
            F.when(F.col(f"v{b}") >= 0, F.lit("1")).otherwise(F.lit("0"))
            for b in range(bits)
        ]
    )
    packed = votes.select(
        "doc_id",
        sig.alias("sig"),
        *[
            F.substring(sig, blk * block_bits + 1, block_bits).alias(f"blk{blk}")
            for blk in range(bits // block_bits)
        ],
    )
    pairs = None
    for blk in range(bits // block_bits):
        a, b = packed.alias("a"), packed.alias("b")
        p = (
            a.join(b, F.col(f"a.blk{blk}") == F.col(f"b.blk{blk}"))
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.sig").alias("sig_a"),
                F.col("b.sig").alias("sig_b"),
            )
        )
        pairs = p if pairs is None else pairs.unionAll(p)
    ham = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.lit(bits)),
            lambda i: F.when(
                F.col("sig_a").substr(i, F.lit(1))
                == F.col("sig_b").substr(i, F.lit(1)),
                0,
            ).otherwise(1),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        pairs.distinct()
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH_V_HAMMING)
    )


@_q(
    "q_dedup_ngram",
    """
    WITH tok AS (
      SELECT doc_id, lang, source,
             list_distinct(string_split(text, ' ')) AS toks,
             floor(len(list_distinct(string_split(text, ' '))) / 32.0) AS szbkt
      FROM documents
    )
    SELECT least(a.doc_id, b.doc_id) AS doc_a,
           greatest(a.doc_id, b.doc_id) AS doc_b,
           floor((CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.toks, b.toks)))) * 10000.0 + 0.5)
               / 10000.0 AS jaccard
    FROM tok a JOIN tok b
      ON a.lang = b.lang AND a.source = b.source
     AND ((a.szbkt = b.szbkt AND a.doc_id < b.doc_id)
          OR a.szbkt + 1 = b.szbkt)
    """,
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard similarity over blocked candidate pairs.

    Blocking key = (lang, source, size-bucket): the exact-Jaccard verify
    step that follows MinHash candidate generation in a real pipeline. The
    size bucket (distinct-token count div 32) is the second key that keeps
    blocks bounded at corpus scale — (lang, source) alone makes a popular
    (en, web) block corpus-sized and per-block quadratic. Length blocking is
    principled for dedup: Jaccard >= t forces |A|/|B| into [t, 1/t], so
    near-dups land in the same or ADJACENT buckets — which is why candidate
    generation is the union of a same-bucket join (doc_id-ordered) and a
    neighbor-bucket join (a.szbkt + 1 = b.szbkt, pair ordered by
    least/greatest): boundary-straddling near-dups (e.g. 31 vs 32 distinct
    tokens) are no longer dropped. Recall vs the unblocked (lang, source)
    pair set is asserted in tests/test_smoke.py at J >= 0.8. Integer-div
    bucket = exact cross-engine parity (no float log). Each join side keeps
    its own bucket, so the union stays a pair of hash-partitioned equi-joins
    — no theta-join blowup at scale.

    Tokens travel as xxhash64 longs, not strings (r13): the per-pair
    array_intersect/array_union dominates the block join, and set ops over
    8-byte longs measured 2× the string form (2.03 → 1.07 s at sf0.1,
    identical 159,293 rows). Collision mass is the minhash_signatures
    argument (~distinct-tokens²/2⁶⁴, negligible); the DuckDB oracle keeps
    raw tokens and the driver hash pins the equivalence every sweep."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.expr("array_distinct(transform(split(text, ' '), t -> xxhash64(t)))")
    # r18: two-step select so the tokenize→hash→distinct chain is computed
    # once per row — the single-select form named `toks` AND took
    # F.size(toks) of the raw expression, and interpreted HOFs get no CSE,
    # so the whole chain ran twice per row. The second select references
    # the alias twice, which keeps CollapseProject from re-inlining it.
    #
    # szbkt is a JOIN key below, so InferFiltersFromConstraints adds
    # `isnotnull(szbkt)` — and predicate pushdown re-inlines the whole
    # tokenize chain into that filter at the SCAN, re-running it per row
    # just to test nullability (seen in plans/r18/q_dedup_ngram_before).
    # szbkt is null iff text is null; an explicit cheap text-notnull
    # filter plus a coalesce (unreachable given the filter) makes szbkt
    # provably non-nullable, so the inferred isnotnull folds to true.
    # Output identical on ANY input: null-text rows never matched either
    # join (null keys) in either engine; now they drop at the scan.
    tok = (
        d.filter(F.col("text").isNotNull())
        .select("doc_id", "lang", "source", toks.alias("toks"))
        .select(
            "doc_id",
            "lang",
            "source",
            "toks",
            F.coalesce(
                F.floor(F.size("toks") / F.lit(32.0)), F.lit(-1).cast("bigint")
            ).alias("szbkt"),
        )
        .repartition("lang", "source", "szbkt")
    )
    # NO localCheckpoint (r14 measured-and-rejected): the repartition
    # exchange is already reused across the identical same-bucket a/b
    # subplans, and checkpointing the full tok table for the adjacent
    # join's sake traded a re-tokenize for block-manager storage of the
    # corpus — sf0.1 bench-style won ~5% but the 20× single-shot REGRESSED
    # 36.4 → 38.9 s on cold materialization (the driver's one-shot runs
    # are always cold)
    a, b = tok.alias("a"), tok.alias("b")
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.array_union(F.col("a.toks"), F.col("b.toks")))
    jac = qround(inter.cast("double") / union, 4).alias("jaccard")
    eq_ls = (F.col("a.lang") == F.col("b.lang")) & (
        F.col("a.source") == F.col("b.source")
    )
    same = (
        a.join(b, eq_ls & (F.col("a.szbkt") == F.col("b.szbkt")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac,
        )
    )
    adjacent = a.join(b, eq_ls & (F.col("a.szbkt") + 1 == F.col("b.szbkt"))).select(
        F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
        F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        jac,
    )
    return same.unionAll(adjacent)


_CLUSTER_THRESHOLD = 0.8

_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, lang, source,
             list_distinct(string_split(text, ' ')) AS toks,
             floor(len(list_distinct(string_split(text, ' '))) / 32.0) AS szbkt
      FROM documents
    ),
    pairs AS (
      SELECT least(a.doc_id, b.doc_id) AS doc_a,
             greatest(a.doc_id, b.doc_id) AS doc_b
      FROM tok a JOIN tok b
        ON a.lang = b.lang AND a.source = b.source
       AND ((a.szbkt = b.szbkt AND a.doc_id < b.doc_id)
            OR a.szbkt + 1 = b.szbkt)
      WHERE floor((CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.toks, b.toks)))) * 10000.0 + 0.5)
                / 10000.0 >= {_CLUSTER_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    walk(id, label) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, w.label FROM edges e JOIN walk w ON e.v = w.id
    )
    SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
    FROM walk GROUP BY id
    """


@_q("q_dedup_clusters", _CLUSTERS_ORACLE)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS -> transitive dedup CLUSTERS: connected components
    over the exact-Jaccard pair set (>= 0.8), cluster id = min member
    doc_id. This is the step that turns any pairwise dedup signal into a
    keep-one-per-cluster decision. Spark runs the iterative pointer-jumping
    label propagation (O(log diameter) rounds, localCheckpoint-truncated
    lineage — operators/graph.py); the oracle states the same fixpoint as a
    DuckDB recursive CTE, making this the one iterative algorithm in the
    suite with an exact cross-engine gate. The recursive-CTE form is
    O(component_size^2) rows and only viable because dedup clusters are
    small; the Spark form is the one that scales."""
    from parquet_to_clickhouse_schema_spark.operators.graph import connected_components

    pairs = q_dedup_ngram(spark, sf_dir).filter(F.col("jaccard") >= _CLUSTER_THRESHOLD)
    return connected_components(pairs)


_PIPELINE_ORACLE = f"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, lang, source,
             list_distinct(string_split(text, ' ')) AS toks,
             floor(len(list_distinct(string_split(text, ' '))) / 32.0) AS szbkt
      FROM documents
    ),
    near AS (
      SELECT least(a.doc_id, b.doc_id) AS u,
             greatest(a.doc_id, b.doc_id) AS v
      FROM tok a JOIN tok b
        ON a.lang = b.lang AND a.source = b.source
       AND ((a.szbkt = b.szbkt AND a.doc_id < b.doc_id)
            OR a.szbkt + 1 = b.szbkt)
      WHERE floor((CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.toks, b.toks)))) * 10000.0 + 0.5)
                / 10000.0 >= {_CLUSTER_THRESHOLD}
    ),
    ex AS (
      SELECT doc_id, n_chars, md5(lower(trim(text))) AS dg FROM documents
    ),
    reps AS (
      SELECT dg, -(max([n_chars, -doc_id])[2]) AS rep_id FROM ex GROUP BY dg
    ),
    exact_edges AS (
      SELECT e.doc_id AS u, r.rep_id AS v FROM ex e JOIN reps r USING (dg)
      WHERE e.doc_id <> r.rep_id
    ),
    edges AS (
      SELECT u, v FROM near UNION SELECT v, u FROM near
      UNION SELECT u, v FROM exact_edges UNION SELECT v, u FROM exact_edges
    ),
    walk(id, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.u, w.label FROM edges e JOIN walk w ON e.v = w.id
    ),
    comp AS (SELECT id AS doc_id, min(label) AS cid FROM walk GROUP BY id),
    keep AS (
      SELECT c.cid, -(max([e.n_chars, -e.doc_id])[2]) AS keeper_id
      FROM comp c JOIN ex e USING (doc_id) GROUP BY c.cid
    )
    SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
           CAST(k.keeper_id AS BIGINT) AS keeper_id,
           CASE WHEN c.doc_id = k.keeper_id THEN 'self'
                WHEN e.dg = ke.dg THEN 'exact'
                ELSE 'near' END AS reason
    FROM comp c
    JOIN keep k USING (cid)
    JOIN ex e ON c.doc_id = e.doc_id
    JOIN ex ke ON k.keeper_id = ke.doc_id
    """


@_q("q_dedup_pipeline", _PIPELINE_ORACLE)
def q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END dedup decision for the whole corpus — the composed form
    a training-data pipeline actually ships: exact groups (normalized-text
    digest) and near-dup pairs (blocked exact token-set Jaccard >= 0.8,
    q_dedup_ngram's lossless blocking) union into one edge set, connected
    components assign every document a cluster, and each cluster keeps its
    best copy (most characters, doc_id tiebreak — q_dedup_keep_best's
    rule). Output is a TOTAL map: one row per input document with its
    keeper and why it was dropped ('self' kept, 'exact' byte-duplicate of
    the keeper after normalization, 'near' near-duplicate).

    Exact edges run doc -> its digest group's representative, so a
    1M-copy group contributes 1M-1 edges to one hub, not copies² — and
    connectivity through copies in OTHER (lang, source) blocks is
    preserved because every document, not just group reps, carries its
    near-dup edges.

    Scale shape: the digest grouping is one map-side-combinable aggregate
    on a 32-byte key; near pairs come from the blocked equi-join (never
    all-pairs); pointer-jumping CC is O(log diameter) rounds over the
    edge list; keeper election is a single max(struct) per cluster. The
    DuckDB oracle states the same fixpoint as a recursive CTE (viable
    because dedup clusters are small; the Spark form is the one that
    scales)."""
    from parquet_to_clickhouse_schema_spark.operators.graph import connected_components

    d = load_table(spark, sf_dir, "documents")
    digest = F.sha2(F.lower(F.trim(F.col("text"))), 256)
    # r18: materialize the digest proxy table ONCE (lazy checkpoint). Four
    # consumers (reps, exact_edges, labeled, keeper_dg) each re-ran the
    # corpus scan + per-row sha2 — the guide-§8 "decide with small rows"
    # table was being rebuilt per decision. The checkpointed frame is
    # (doc_id, n_chars, 64-char digest) ≈ 90 B/doc, no text; unlike the
    # measured-and-rejected q_dedup_ngram tok-table checkpoint (corpus-
    # sized token arrays), this stores digests only. Anchor median
    # 6.26 → 5.64 s at sf0.1 (the residual is the CC loop's fixed
    # per-iteration job cost); oracle-identical at sf0.01/sf0.1.
    docs = (
        d.select("doc_id", "n_chars", digest.alias("dg"))
        .localCheckpoint(eager=False)
    )
    best = F.max(F.struct("n_chars", (-F.col("doc_id")).alias("neg_id")))
    reps = (
        docs.groupBy("dg")
        .agg(best.alias("b"))
        .select("dg", (-F.col("b.neg_id")).alias("rep_id"))
    )
    exact_edges = (
        docs.join(reps, "dg")
        .filter(F.col("doc_id") != F.col("rep_id"))
        .select(F.col("doc_id").alias("doc_a"), F.col("rep_id").alias("doc_b"))
    )
    near = (
        q_dedup_ngram(spark, sf_dir)
        .filter(F.col("jaccard") >= _CLUSTER_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    comp = connected_components(exact_edges.unionByName(near))
    labeled = docs.join(comp, "doc_id", "left").withColumn(
        "cid", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    )
    keepers = (
        labeled.groupBy("cid")
        .agg(best.alias("b"))
        .select("cid", (-F.col("b.neg_id")).alias("keeper_id"))
    )
    keeper_dg = labeled.select(
        F.col("doc_id").alias("keeper_id"), F.col("dg").alias("keeper_dg")
    )
    return (
        labeled.join(keepers, "cid")
        .join(keeper_dg, "keeper_id")
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("keeper_id").cast("bigint").alias("keeper_id"),
            F.when(F.col("doc_id") == F.col("keeper_id"), F.lit("self"))
            .when(F.col("dg") == F.col("keeper_dg"), F.lit("exact"))
            .otherwise(F.lit("near"))
            .alias("reason"),
        )
    )


_EMB_DEDUP_ORACLE = """
    WITH ex AS (
      SELECT vec_id,
             unnest(range(1, len(embedding) + 1)) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    norms AS (
      SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id
    ),
    dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, sum(a.v * b.v) AS dot
      FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY a.vec_id, b.vec_id
    )
    SELECT d.vec_a, d.vec_b,
           floor((d.dot / (na.nrm * nb.nrm)) * 10000.0 + 0.5) / 10000.0 AS cosine
    FROM dots d
    JOIN norms na ON d.vec_a = na.vec_id
    JOIN norms nb ON d.vec_b = nb.vec_id
    WHERE d.dot / (na.nrm * nb.nrm) >= 0.5
"""


def _embeddings_rowcount(sf_dir: str) -> int:
    """Row count from Parquet footers only — a true metadata read on the
    driver (pyarrow sums row-group counts; no Spark job, no data pages).
    Sizing the block grid is the only consumer."""
    import pyarrow.dataset as ds

    return ds.dataset(f"{sf_dir}/embeddings.parquet", format="parquet").count_rows()


def _empty_pairs(score_col: str):
    """Empty (vec_id, nbr_id, <score>) frame — the zero-rows return shape
    shared by every ANN cogroup kernel."""
    import pandas as pd

    return pd.DataFrame(
        {
            "vec_id": pd.Series(dtype="int64"),
            "nbr_id": pd.Series(dtype="int64"),
            score_col: pd.Series(dtype="float64"),
        }
    )


def _partial_topk(a_ids, b_ids, scores, k: int):
    """Per-query partial top-k over one tile/bucket/list: for each query i,
    the k best candidates by (score desc, nbr_id asc), self excluded.
    The lexsort tiebreak matches every oracle's ORDER BY ... DESC, nbr_id,
    so cross-tile ties resolve exactly as a single global sort would.
    Returns (vec_ids, nbr_ids, scores) lists."""
    import numpy as np

    out_vec, out_nbr, out_sc = [], [], []
    for i in range(len(a_ids)):
        mask = b_ids != a_ids[i]
        cand_sc, cand_ids = scores[i][mask], b_ids[mask]
        sel = np.lexsort((cand_ids, -cand_sc))[:k]
        out_vec.extend([a_ids[i]] * len(sel))
        out_nbr.extend(cand_ids[sel])
        out_sc.extend(cand_sc[sel])
    return out_vec, out_nbr, out_sc


def _unit_rows(pdf, col: str = "embedding"):
    """(vec_ids, row-normalized float64 matrix) from a pandas batch."""
    import numpy as np

    mat = np.stack(pdf[col].to_numpy()).astype("float64")
    return pdf["vec_id"].to_numpy(), mat / np.sqrt((mat * mat).sum(axis=1))[:, None]


def _block_sides(
    spark: SparkSession, sf_dir: str, n_qblk: int, n_iblk: int
) -> tuple[DataFrame, DataFrame]:
    """Tag the two sides of a 2-D blocked all-pairs comparison.

    Block-matrix decomposition (the dense-linear-algebra SUMMA shape): the
    query side is hashed into n_qblk row-blocks and fans out across all
    n_iblk column-blocks; the index side is hashed into n_iblk column-blocks
    and fans out across all n_qblk row-blocks. Each (qblk, iblk) tile meets
    in ONE cogroup task, so parallelism is n_qblk * n_iblk tasks (a 1-D
    split would cap parallelism at n_blocks), and the per-task working set
    is bounded by (block_rows_q + block_rows_i) * dim doubles regardless of
    corpus size. Replication cost is n * n_iblk + n * n_qblk shuffled vector
    rows — the inherent cost of exact all-pairs, minimized for a given task
    count when the grid is square (sqrt scaling), which is why both defaults
    are the same block size. The fan-out explode replicates rows in the
    shuffle write; each parquet scan still runs once per side.

    The two sides are loaded INDEPENDENTLY on purpose: a self-cogroup of one
    DataFrame trips the analyzer's self-join deduplication — the Python
    function's right-side argument binding keeps the left side's expression
    ids, the right child is column-pruned down to the grouping key, and the
    kernel receives an index pdf without vec_id/embedding (observed as
    KeyError: 'vec_id' in the worker). Two reads create distinct leaf
    relations, so both sides bind and prune correctly."""
    eq = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ei = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    fanout = eq.withColumn(
        "qblk", F.pmod(F.xxhash64("vec_id"), F.lit(n_qblk)).cast("int")
    ).withColumn(
        "iblk", F.explode(F.sequence(F.lit(0), F.lit(n_iblk - 1)).cast("array<int>"))
    )
    indexed = ei.withColumn(
        "iblk", F.pmod(F.xxhash64("vec_id"), F.lit(n_iblk)).cast("int")
    ).withColumn(
        "qblk", F.explode(F.sequence(F.lit(0), F.lit(n_qblk - 1)).cast("array<int>"))
    )
    return fanout, indexed


@_q("q_dedup_embedding", _EMB_DEDUP_ORACLE)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= 0.5): the semantic
    dedup pass that catches paraphrases exact/MinHash dedup misses.

    Exact all-pairs semantics (matches the oracle bit-for-bit) as ONE
    distributed job: both sides are 2-D hash-blocked (see _block_sides) and
    groupBy(qblk, iblk).cogroup(...).applyInPandas runs one BLAS matmul per
    tile, emitting only pairs above threshold. Each unordered pair surfaces
    exactly once: every vector lives in exactly one (qblk, iblk) home cell
    per side and the vec_a < vec_b filter applies inside the kernel. No
    embedding ever transits the driver (the r2 version collected and
    re-broadcast the index block-by-block in a serial loop — n_blocks
    sequential jobs and n_blocks query-side scans; this is one job and one
    scan per side). The O(n²) comparison count is inherent to EXACT
    thresholding; the sub-quadratic approximate path is ann_lsh_topk's
    bucket join with a threshold filter (recall-tested, not oracle-gatable).
    """
    import numpy as np
    import pandas as pd

    n = _embeddings_rowcount(sf_dir)  # footer metadata, no Spark job
    n_blocks = max(1, -(-n // 1024))
    fanout, indexed = _block_sides(spark, sf_dir, n_blocks, n_blocks)

    def pairs_cogroup(qpdf: pd.DataFrame, ipdf: pd.DataFrame) -> pd.DataFrame:
        if len(qpdf) == 0 or len(ipdf) == 0:
            return pd.DataFrame(
                {"vec_a": pd.Series(dtype="int64"), "vec_b": pd.Series(dtype="int64"),
                 "cos_raw": pd.Series(dtype="float64")}
            )
        a_ids = qpdf["vec_id"].to_numpy()
        a_mat = np.stack(qpdf["embedding"].to_numpy()).astype("float64")
        a_norms = np.sqrt((a_mat * a_mat).sum(axis=1))
        b_ids = ipdf["vec_id"].to_numpy()
        b_mat = np.stack(ipdf["embedding"].to_numpy()).astype("float64")
        b_norms = np.sqrt((b_mat * b_mat).sum(axis=1))
        cos = (a_mat @ b_mat.T) / (a_norms[:, None] * b_norms[None, :])
        ai, bj = np.nonzero((cos >= 0.5) & (a_ids[:, None] < b_ids[None, :]))
        return pd.DataFrame(
            {"vec_a": a_ids[ai], "vec_b": b_ids[bj], "cos_raw": cos[ai, bj]}
        )

    pairs = (
        fanout.groupBy("qblk", "iblk")
        .cogroup(indexed.groupBy("qblk", "iblk"))
        .applyInPandas(pairs_cogroup, schema="vec_a long, vec_b long, cos_raw double")
    )
    return pairs.select("vec_a", "vec_b", qround(F.col("cos_raw"), 4).alias("cosine"))


_SRC_JACCARD_ORACLE = f"""
    WITH toks AS (SELECT source, string_split(text, ' ') AS t FROM documents),
    sh0 AS (
      SELECT source,
             unnest([array_to_string(t[i:i+{SHINGLE_K - 1}], ' ')
                     for i in range(1, greatest(len(t)-{SHINGLE_K - 1}, 1)+1)])
               AS s
      FROM toks
    ),
    sh AS (SELECT DISTINCT source, md5(s) AS dg FROM sh0),
    sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
    srcs AS (SELECT DISTINCT source FROM documents),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b, count(*) AS i
      FROM sh a JOIN sh b ON a.dg = b.dg AND a.source < b.source
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT x.source AS source_a, y.source AS source_b
      FROM srcs x JOIN srcs y ON x.source < y.source
    )
    SELECT p.source_a, p.source_b,
           CAST(coalesce(i.i, 0) AS BIGINT) AS n_inter,
           {{jac}} AS jaccard
    FROM pairs p
    JOIN sizes sa ON sa.source = p.source_a
    JOIN sizes sb ON sb.source = p.source_b
    LEFT JOIN inter i ON i.source_a = p.source_a AND i.source_b = p.source_b
"""


@_q(
    "q_source_jaccard_matrix",
    _SRC_JACCARD_ORACLE.format(
        jac=sql_qround(
            "coalesce(i.i, 0) * 1.0 / (sa.n + sb.n - coalesce(i.i, 0))", 6
        )
    ),
)
def q_source_jaccard_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-level inter-source overlap matrix: exact Jaccard of each
    source pair's {SHINGLE_K}-word shingle SETS — the corpus-curation
    number behind dataset-card overlap tables and mix-weight dedup
    discounts. q_cross_source_dups (text.py) counts whole documents both
    sources carry verbatim; this measures PARTIAL sharing (quoted
    passages, boilerplate, syndicated fragments) that whole-doc identity
    misses entirely — two crawls can share 40% of their shingles with
    zero identical documents. Dense matrix (every pair emitted, zeros
    included) with the exact intersection count beside the quantized
    ratio.

    Shingles are the SHINGLE_K definition shared with the minhash family
    (shingle_array), digested to 8-byte xxhash64 before any shuffle so
    raw text never travels. Scale shape: the distinct (source, digest) table
    is one map-side-combined distinct; per-digest fan-out in the
    self-join is bounded by the SOURCE count (≤ C(|sources|, 2) pair
    rows per digest, |sources| ~ 20 — catalog-sized, NOT corpus-sized),
    so the join emits O(shared shingles × sources²), never all-pairs of
    documents. Set sizes are a |sources|-row broadcast. Exact integers
    end to end; the only float is the final ratio, quantized at 1e-6."""
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select("source", F.split("text", " ").alias("_toks"))
        .select(
            "source",
            F.explode(shingle_array_of_toks(F.col("_toks"))).alias("s"),
        )
        # r18: xxhash64 long digest instead of 32-char md5 hex — the
        # digest never reaches the output, so the distinct + self-join
        # key needs equality only; 8-byte longs shuffle 4× fewer key
        # bytes (guide §2.3, the q_dedup_ngram precedent; raw-shingle
        # oracle pins the collision-mass argument). Interleaved A/B at
        # sf0.1: 2.00 → 1.88 s, byte-identical 190 rows.
        .select("source", F.xxhash64(F.col("s")).alias("dg"))
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count("*").alias("n"))
    inter = (
        sh.select(F.col("source").alias("source_a"), "dg")
        .join(sh.select(F.col("source").alias("source_b"), "dg"), "dg")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("i"))
    )
    srcs = docs.select("source").distinct()
    pairs = (
        F.broadcast(srcs.select(F.col("source").alias("source_a")))
        .crossJoin(F.broadcast(srcs.select(F.col("source").alias("source_b"))))
        .filter(F.col("source_a") < F.col("source_b"))
    )
    n_inter = F.coalesce(F.col("i"), F.lit(0))
    return (
        pairs.join(inter, ["source_a", "source_b"], "left")
        .join(
            F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na"))),
            "source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            n_inter.cast("bigint").alias("n_inter"),
            qround(
                n_inter * 1.0 / (F.col("na") + F.col("nb") - n_inter), 6
            ).alias("jaccard"),
        )
    )


# ------------------------------------------------------------ similarity ---


