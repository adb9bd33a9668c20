"""Training-data preparation operators: sequence packing, deterministic
splits, context-window chunking, parquet metadata introspection.

The last mile of an LLM data pipeline after dedup/quality filtering: turn a
document corpus into packed, split, chunked training sequences. All
deterministic (hash-based, no rand()) so a 100 TB run is reproducible and
resumable; all expressed as single-pass DataFrame transforms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_to_clickhouse_schema_spark._registry import new_registry
from parquet_to_clickhouse_schema_spark.functions.compat import qround
from parquet_to_clickhouse_schema_spark.sources.io import TABLES, load_table

QUERIES, ORACLES, _q = new_registry()


PACK_BUDGET = 256  # tokens per packed sequence


PACK_SUBBUCKETS = 16  # md5-nibble sub-buckets inside each lang


@_q(
    "q_pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tokens,
             instr('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS s
      FROM documents
    ), c AS (
      SELECT doc_id, lang, s, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang, s
                                 ORDER BY n_tokens DESC, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM t
    ), tot AS (
      SELECT lang, s,
             CAST(ceil(sum(n_tokens) / {PACK_BUDGET}.0) AS BIGINT) AS n_bins
      FROM t GROUP BY lang, s
    ), off AS (
      SELECT lang, s,
             COALESCE(sum(n_bins) OVER (PARTITION BY lang ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS bin_off
      FROM tot
    )
    SELECT c.doc_id, c.lang, CAST(c.n_tokens AS BIGINT) AS n_tokens,
           CAST(bin_off + floor((cum_tokens - c.n_tokens) / {PACK_BUDGET}.0)
                AS BIGINT) AS bin_id
    FROM c JOIN off ON c.lang = off.lang AND c.s = off.s
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed-token-budget bins.

    Greedy bin packing is inherently sequential; the scalable deterministic
    form is sort-by-size + running-sum binning (first-fit-decreasing over a
    cumulative window): bin id = floor(preceding_cumsum / budget).

    De-skewed: the cumulative window partitions on (lang, sub_bucket), not
    lang alone — with one dominant language a lang-partitioned window
    serializes the whole corpus through ONE task. The sub-bucket is the
    first md5 nibble of doc_id (content-free, deterministic, identical in
    DuckDB — same discipline as q_data_split), giving {PACK_SUBBUCKETS}×
    the parallelism. Each sub-bucket packs its own bins; per-bucket bin-id
    ranges are made disjoint with budget-aligned offsets
    (offset_s = Σ_{{s'<s}} ceil(tokens_{{s'}}/budget), a langs×16-row
    aggregate, broadcast back), so bin ids stay globally unique per lang
    and every bin still respects the token budget."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    base = (
        d.select("doc_id", "lang", n_tokens.alias("n_tokens"))
        .withColumn(
            "_nib",
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1),
        )
        .withColumn("s", F.expr("instr('0123456789abcdef', _nib) - 1"))
        .drop("_nib")
    )
    w = (
        Window.partitionBy("lang", "s")
        .orderBy(F.col("n_tokens").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    tot = base.groupBy("lang", "s").agg(
        F.ceil(F.sum("n_tokens") / float(PACK_BUDGET)).alias("n_bins")
    )
    off_w = (
        Window.partitionBy("lang")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = tot.withColumn(
        "bin_off", F.coalesce(F.sum("n_bins").over(off_w), F.lit(0))
    ).drop("n_bins")
    return (
        cum.join(F.broadcast(off), ["lang", "s"])
        .select(
            "doc_id",
            "lang",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            (
                F.col("bin_off")
                + F.floor(
                    (F.col("cum_tokens") - F.col("n_tokens")) / float(PACK_BUDGET)
                )
            )
            .cast("bigint")
            .alias("bin_id"),
        )
    )


CTX_SWEEP = (32, 64, 96, 128)  # candidate context lengths (tokens)


def _ctx_sweep_oracle() -> str:
    from parquet_to_clickhouse_schema_spark.functions.compat import sql_qround

    ls = ", ".join(str(x) for x in CTX_SWEEP)
    kept = "sum(least(n, l))"
    bins = f"ceil({kept} / (l * 1.0))"
    return f"""
    WITH t AS (SELECT len(string_split(text, ' ')) AS n FROM documents),
    ls AS (SELECT unnest([{ls}]) AS l)
    SELECT CAST(l AS INT) AS ctx_len,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n > l THEN 1 ELSE 0 END) AS BIGINT)
               AS n_trunc_docs,
           {sql_qround("sum(n - least(n, l)) * 1.0 / sum(n)", 6)}
               AS trunc_token_frac,
           CAST({bins} AS BIGINT) AS n_bins,
           {sql_qround(f"({bins} * l - {kept}) * 1.0 / ({bins} * l)", 6)}
               AS pad_frac
    FROM t CROSS JOIN ls
    GROUP BY l
    """


@_q("q_context_length_sweep", _ctx_sweep_oracle())
def q_context_length_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length budget planning: for each candidate training
    sequence length in {CTX_SWEEP}, the two numbers that trade against
    each other when picking it — tokens LOST to truncation (docs longer
    than the budget are cut) and capacity WASTED to padding (the bin
    count is the q_pack_sequences model, ceil(kept_tokens/budget); waste
    is the tail of the last bins). Per length: doc count, truncated-doc
    count, truncated-token fraction, packed-bin count, padding fraction.
    The table a pipeline reads before committing a context length to a
    100 TB tokenization run — q_pack_sequences executes ONE budget; this
    prices the alternatives first.

    Plan: ONE corpus scan. All {len(CTX_SWEEP)} budgets are conditional
    aggregates of the same per-doc token count (map-side combined to a
    single row), then stack() pivots that row to one row per budget —
    row multiplication happens AFTER the aggregate (4 rows), never on
    the corpus (a naive lengths×corpus crossJoin would scan-equivalently
    4× the input). Exact integers everywhere; the two fractions are
    single divides of exact sums, 1e-6-quantized. ceil(kept/L) is safe
    in IEEE double: kept ≤ 2^53 and a non-integer true quotient sits
    ≥ 1/L from any integer, orders of magnitude beyond one ulp."""
    d = load_table(spark, sf_dir, "documents")
    tc = d.select(F.size(F.split("text", " ")).alias("n"))
    aggs = [
        F.count("*").alias("n_docs"),
        F.sum("n").alias("tot"),
    ]
    for length in CTX_SWEEP:
        lit = F.lit(length)
        aggs.append(
            F.sum((F.col("n") > lit).cast("long")).alias(f"ntr_{length}")
        )
        aggs.append(F.sum(F.least(F.col("n"), lit)).alias(f"kept_{length}"))
    one = tc.agg(*aggs)
    stack_args = ", ".join(
        f"{length}, ntr_{length}, kept_{length}" for length in CTX_SWEEP
    )
    rows = one.select(
        "n_docs",
        "tot",
        F.expr(
            f"stack({len(CTX_SWEEP)}, {stack_args}) "
            "AS (ctx_len, n_trunc, kept)"
        ),
    )
    # Empty-corpus guard (ADVICE r17): the global agg always yields one
    # row, so stack() would emit len(CTX_SWEEP) rows of NULL fractions on
    # an empty documents table while the oracle's CROSS JOIN + GROUP BY
    # yields 0 rows. Dropping the n_docs=0 row makes both engines return
    # 0 rows on degenerate input and removes the tot=NULL division.
    rows = rows.filter(F.col("n_docs") > 0)
    bins = F.ceil(F.col("kept") / (F.col("ctx_len") * 1.0))
    return rows.select(
        F.col("ctx_len").cast("int"),
        F.col("n_docs").cast("bigint"),
        F.col("n_trunc").cast("bigint").alias("n_trunc_docs"),
        qround((F.col("tot") - F.col("kept")) * 1.0 / F.col("tot"), 6).alias(
            "trunc_token_frac"
        ),
        bins.cast("bigint").alias("n_bins"),
        qround(
            (bins * F.col("ctx_len") - F.col("kept"))
            * 1.0
            / (bins * F.col("ctx_len")),
            6,
        ).alias("pad_frac"),
    )


@_q(
    "q_data_split",
    """
    SELECT doc_id,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7','8','9','a','b')
                THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d')
                THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def q_data_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by content-free key hash
    (md5 of doc_id → first hex nibble: 12/2/2 ≈ 75%/12.5%/12.5%).
    Hash-based splits survive re-runs, repartitions and incremental
    appends — the only split discipline that works at 100 TB. md5 is used
    (not xxhash64) because it is identical across engines, making the
    split itself oracle-verifiable."""
    d = load_table(spark, sf_dir, "documents")
    nibble = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
    return d.select(
        "doc_id",
        F.when(nibble.isin(*"0123456789ab"), "train")
        .when(nibble.isin("c", "d"), "val")
        .otherwise("test")
        .alias("split"),
    )


CHUNK_TOKENS = 32
CHUNK_STRIDE = 16


@_q(
    "q_chunk_docs",
    f"""
    SELECT doc_id, chunk_idx,
           array_to_string(toks[(chunk_idx * {CHUNK_STRIDE} + 1):(chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS})], ' ')
               AS chunk_text,
           CAST(least({CHUNK_TOKENS}, len(toks) - chunk_idx * {CHUNK_STRIDE}) AS INT) AS chunk_len
    FROM (
      SELECT doc_id, string_split(text, ' ') AS toks,
             unnest(range(0, CAST(ceil(greatest(len(string_split(text, ' ')) - {CHUNK_TOKENS}, 0)
                                       / {CHUNK_STRIDE}.0) AS BIGINT) + 1)) AS chunk_idx
      FROM documents
    )
    """,
)
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: overlapping token windows (32 tokens,
    stride 16) per document — the standard long-document treatment before
    tokenization. explode(sequence) generates chunk indices; slice() cuts
    the token array; all JVM-side, output rows = ceil((n-32)/16)+1 per doc."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_chunks = (
        F.ceil(
            F.greatest(F.size(toks) - CHUNK_TOKENS, F.lit(0)) / float(CHUNK_STRIDE)
        ).cast("long")
        + 1
    )
    return (
        d.select("doc_id", toks.alias("toks"), n_chunks.alias("n_chunks"))
        .select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("n_chunks") - 1)).alias(
                "chunk_idx"
            ),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.concat_ws(
                " ",
                F.slice(
                    "toks", F.col("chunk_idx").cast("int") * CHUNK_STRIDE + 1, CHUNK_TOKENS
                ),
            ).alias("chunk_text"),
            F.least(
                F.lit(CHUNK_TOKENS),
                F.size("toks") - F.col("chunk_idx").cast("int") * CHUNK_STRIDE,
            )
            .cast("int")
            .alias("chunk_len"),
        )
    )


_META_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType(), False),
        T.StructField("num_row_groups", T.LongType(), False),
        T.StructField("num_rows", T.LongType(), False),
        T.StructField("num_columns", T.LongType(), False),
    ]
)


# The correctness driver compares Spark vs DuckDB at the fixed gate SF
# (sf0.01, TESTDATA.md), so the oracle can name the same files the Spark
# side is handed via sf_dir — DuckDB's parquet_file_metadata() walks the
# identical footer pyarrow reads. num_columns counts LEAF columns (a
# parquet_schema row with no children), matching pyarrow's
# FileMetaData.num_columns for nested schemas like embeddings.embedding.
_GATE_SF_DIR = "/root/testdata/sf0.01"
_PARQUET_META_ORACLE = "\nUNION ALL\n".join(
    f"""
    SELECT '{t}' AS table_name,
           CAST(fm.num_row_groups AS BIGINT) AS num_row_groups,
           CAST(fm.num_rows AS BIGINT) AS num_rows,
           (SELECT CAST(count(*) AS BIGINT)
            FROM parquet_schema('{_GATE_SF_DIR}/{t}.parquet')
            WHERE num_children IS NULL OR num_children = 0) AS num_columns
    FROM parquet_file_metadata('{_GATE_SF_DIR}/{t}.parquet') fm
    """
    for t in TABLES
)


@_q("q_parquet_meta", _PARQUET_META_ORACLE)
def q_parquet_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet footer introspection as a queryable table — the reference's
    metadata-only discipline (src/parquetutils.rs:28-30) extended from
    schema to row-group physiology: row-group count is the unit of Spark
    scan parallelism, so this is the first thing to inspect when a 100 TB
    table scans slowly (too few row groups = too few tasks).

    Oracle-gated since r10: DuckDB's parquet_file_metadata()/
    parquet_schema() read the same footers, so rows/row-groups/leaf-column
    counts hash-match. The oracle string pins the driver's gate SF dir
    (the only SF the oracle side ever runs at); the Spark side stays
    sf_dir-parameterized for bench/tests at other SFs."""
    from parquet_to_clickhouse_schema_spark.ddl import _read_footer_metadata

    rows = []
    for t in TABLES:
        md = _read_footer_metadata(f"{sf_dir}/{t}.parquet")
        rows.append((t, md.num_row_groups, md.num_rows, md.num_columns))
    return spark.createDataFrame(rows, _META_SCHEMA)


_COLSIZE_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType(), False),
        T.StructField("column_path", T.StringType(), False),
        T.StructField("compressed_bytes", T.LongType(), False),
        T.StructField("uncompressed_bytes", T.LongType(), False),
    ]
)

# DuckDB spells nested paths "a, list, element"; parquet-mr/pyarrow spell
# them "a.list.element" — normalize to dots on the oracle side.
_COLUMN_SIZES_ORACLE = "\nUNION ALL\n".join(
    f"""
    SELECT '{t}' AS table_name,
           replace(path_in_schema, ', ', '.') AS column_path,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(total_compressed_size) AS BIGINT) AS compressed_bytes,
           CAST(sum(total_uncompressed_size) AS BIGINT)
               AS uncompressed_bytes,
           floor(sum(total_uncompressed_size) * 1.0
                 / sum(total_compressed_size) * 1000000.0 + 0.5) / 1000000.0
               AS compression_ratio,
           floor(sum(total_compressed_size) * 1.0
                 / (SELECT sum(total_compressed_size)
                    FROM parquet_metadata('{_GATE_SF_DIR}/{t}.parquet'))
                 * 1000000.0 + 0.5) / 1000000.0 AS table_share
    FROM parquet_metadata('{_GATE_SF_DIR}/{t}.parquet')
    GROUP BY 1, 2
    """
    for t in TABLES
)


@_q("q_column_sizes", _COLUMN_SIZES_ORACLE)
def q_column_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column storage audit from parquet footers: compressed and
    uncompressed bytes, chunk count, compression ratio and each column's
    share of its table — the FIRST table a 100 TB storage-layout review
    builds (which column dominates the footprint, which codec is earning
    its keep, what a projection actually saves at the IO layer). Pure
    metadata: no data page is ever read, in either engine.

    Footer reads happen on the driver (the q_parquet_meta discipline —
    bytes read are O(columns), not O(data)); at real fleet scale the same
    per-file loop distributes as a parallelize over
    `spark.read.parquet(...).inputFiles` with this exact body per file.
    Directory datasets are handled (every fragment's footer contributes,
    listed and read like the DDL core's: _scan_dataset with Spark's
    hidden-path rule, then _read_footer_metadata per fragment), so the
    probe corpus' multi-file tables audit identically. The
    aggregation and both derived ratios are integer-sum arithmetic with
    one IEEE divide each, 1e-6-quantized — hash-identical to DuckDB's
    parquet_metadata() over the same footers."""
    from parquet_to_clickhouse_schema_spark.ddl import (
        _read_footer_metadata,
        _scan_dataset,
    )

    rows = []
    for t in TABLES:
        scan = _scan_dataset(f"{sf_dir}/{t}.parquet")
        for rel in scan.rels:
            md = _read_footer_metadata(scan.file(rel))
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                for j in range(rg.num_columns):
                    c = rg.column(j)
                    rows.append(
                        (
                            t,
                            c.path_in_schema,
                            c.total_compressed_size,
                            c.total_uncompressed_size,
                        )
                    )
    chunks = spark.createDataFrame(rows, _COLSIZE_SCHEMA)
    per_col = chunks.groupBy("table_name", "column_path").agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum("compressed_bytes").cast("bigint").alias("compressed_bytes"),
        F.sum("uncompressed_bytes").cast("bigint").alias("uncompressed_bytes"),
    )
    w = Window.partitionBy("table_name")
    return per_col.select(
        "table_name",
        "column_path",
        "n_chunks",
        "compressed_bytes",
        "uncompressed_bytes",
        qround(
            F.col("uncompressed_bytes") * 1.0 / F.col("compressed_bytes"), 6
        ).alias("compression_ratio"),
        qround(
            F.col("compressed_bytes")
            * 1.0
            / F.sum("compressed_bytes").over(w),
            6,
        ).alias("table_share"),
    )


SAMPLE_QUOTA = 100  # docs per stratum


@_q(
    "q_stratified_sample",
    f"""
    SELECT doc_id, lang, CAST(rn AS INT) AS sample_rank
    FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    )
    WHERE rn <= {SAMPLE_QUOTA}
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified quota sampling: exactly min(quota, |stratum|) docs per
    language, chosen by rank of a content-free key hash. Unlike rate-based
    splits (q_data_split) this balances strata — the upsample-rare-languages
    move every multilingual training mix needs. Rank-of-hash keeps it
    deterministic across re-runs and appends of unrelated docs; one shuffle
    on the stratum key, and at 100 TB the rank window is per-stratum so no
    single task ever sees more than one stratum's rows. md5 (not xxhash64)
    so the sample itself is oracle-verifiable cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    skey = F.md5(F.col("doc_id").cast("string").cast("binary"))
    w = Window.partitionBy("lang").orderBy(skey, "doc_id")
    return (
        d.select("doc_id", "lang")
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= SAMPLE_QUOTA)
    )


SHINGLE_W = 8  # words per decontamination shingle


def _split_shingles(d: DataFrame) -> DataFrame:
    """Shared by q_decontaminate / q_contamination_score: assign the
    md5-nibble train/test split and explode each doc into DISTINCT
    (doc_id, split, shingle_h) rows — 64-bit xxhash64 of each 8-word
    shingle, so every downstream shuffle carries 8-byte keys, never the
    ~50-char strings (the q_dedup_exact digest discipline; collisions are
    ~|vocab|²/2⁶⁴). The repartition is the projection-collapse barrier
    (without it the split() recomputes per shingle)."""
    nibble = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
    split_col = (
        F.when(nibble.isin(*"0123456789ab"), "train")
        .when(nibble.isin("e", "f"), "test")
        .otherwise(F.lit(None).cast("string"))
    )
    toks = F.split("text", " ")
    base = (
        d.select("doc_id", split_col.alias("split"), toks.alias("toks"))
        .filter(F.col("split").isNotNull() & (F.size("toks") >= SHINGLE_W))
        .repartition("doc_id")
    )
    return base.select(
        "doc_id",
        "split",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (SHINGLE_W - 1)),
                lambda i: F.xxhash64(
                    F.concat_ws(" ", F.slice(F.col("toks"), i, SHINGLE_W))
                ),
            )
        ).alias("shingle_h"),
    ).dropDuplicates(["doc_id", "split", "shingle_h"])


@_q(
    "q_decontaminate",
    f"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
                  END AS split,
             string_split(text, ' ') AS toks
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, split,
             array_to_string(toks[i:i + {SHINGLE_W - 1}], ' ') AS shingle
      FROM (SELECT doc_id, split, toks,
                   unnest(range(1, len(toks) - {SHINGLE_W - 2})) AS i
            FROM base WHERE split IS NOT NULL AND len(toks) >= {SHINGLE_W})
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_shingles
    FROM (SELECT DISTINCT t.doc_id, t.shingle
          FROM sh t
          JOIN (SELECT DISTINCT shingle FROM sh WHERE split = 'train') tr
            USING (shingle)
          WHERE t.split = 'test')
    GROUP BY doc_id
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: test-split documents sharing any
    8-word shingle with any train-split document, with the count
    of distinct leaked shingles. The standard eval-contamination check
    before a training run. Same split rule as q_data_split; the
    contamination test is an equi-join on the shingle's 64-bit hash —
    O(shared vocabulary), never all-pairs — so it scales exactly like the
    MinHash banding join, and the shuffle carries 8-byte keys instead of
    8-word strings. The repartition after tokenization is the projection-
    collapse barrier (without it the split() recomputes per shingle).
    Output: contaminated test doc_id + distinct shared-shingle count."""
    sh = _split_shingles(load_table(spark, sf_dir, "documents"))
    train_sh = sh.filter(F.col("split") == "train").select("shingle_h").distinct()
    test_sh = sh.filter(F.col("split") == "test").select("doc_id", "shingle_h")
    return (
        test_sh.join(train_sh, "shingle_h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_shingles"))
    )


EPOCH_SEED = "#1"


@_q(
    "q_epoch_shuffle",
    f"""
    WITH h AS (
      SELECT doc_id,
             substr(md5(CAST(doc_id AS VARCHAR) || '{EPOCH_SEED}'), 1, 15) AS hv
      FROM documents
    )
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY hv, doc_id) AS BIGINT) AS pos
    FROM h
    """,
)
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: a reproducible pseudo-random global
    permutation of the corpus (training-order randomization that survives
    re-runs and resumes — rand() does not). Position = global row_number
    in md5(doc_id || epoch_seed) order; changing the seed gives an
    independent permutation per epoch.

    A naive global row_number is a ONE-TASK total sort at 100 TB, so the
    position is computed with rank_low_cardinality (empty partition key =
    whole corpus): quantile-bucketed two-pass row_number over the numeric
    value of the hash's first 15 hex chars — fixed-width hex orders
    lexicographically exactly like its numeric value, which is what makes
    the Spark numeric form and the oracle's string ORDER BY agree."""
    from parquet_to_clickhouse_schema_spark.operators.windows import (
        rank_low_cardinality,
    )

    d = load_table(spark, sf_dir, "documents")
    hv = F.conv(
        F.substring(
            F.md5(
                F.concat(F.col("doc_id").cast("string"), F.lit(EPOCH_SEED)).cast(
                    "binary"
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    hashed = d.select("doc_id", hv.alias("hv"))
    return rank_low_cardinality(
        hashed,
        [],
        "hv",
        ascending=True,
        tiebreak_cols=["doc_id"],
        output_col="pos",
        method="row_number",
    ).select("doc_id", "pos")


HEX15 = float(16**15)  # 15 hex chars = 60 bits of md5 → uniform in [0, 1)
WEIGHT_CHARS = 400.0  # chars at which a doc reaches sampling weight 1.0
SAMPLE_SEED = "#w1"


@_q(
    "q_sample_weighted",
    f"""
    SELECT doc_id, lang,
           floor(least(1.0, n_chars / {WEIGHT_CHARS}) * 1000000.0 + 0.5)
               / 1000000.0 AS weight
    FROM documents
    WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '{SAMPLE_SEED}'),
                              1, 15) AS BIGINT) / {HEX15}
          < least(1.0, n_chars / {WEIGHT_CHARS})
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus downsampling: keep each document with
    probability equal to its weight (here a length proxy, capped at 1.0) —
    the standard way to temperature-balance a training mix without an RNG.
    The coin flip is u < w with u a 60-bit md5 uniform of (doc_id, seed):
    deterministic, reproducible across re-runs/repartitions/engines, and a
    pure per-row filter — no shuffle, scan-bound at 100 TB. Changing the
    seed resamples independently."""
    d = load_table(spark, sf_dir, "documents")
    w = F.least(F.lit(1.0), F.col("n_chars") / WEIGHT_CHARS)
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("doc_id").cast("string"), F.lit(SAMPLE_SEED)).cast(
                        "binary"
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(HEX15)
    )
    from parquet_to_clickhouse_schema_spark.functions.compat import qround

    return d.filter(u < w).select("doc_id", "lang", qround(w, 6).alias("weight"))


SOURCE_CAP = 15


@_q(
    "q_source_cap",
    f"""
    WITH h AS (
      SELECT doc_id, source,
             substr(md5(CAST(doc_id AS VARCHAR) || '#cap'), 1, 15) AS hv
      FROM documents
    ),
    r AS (
      SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source ORDER BY hv, doc_id)
                  AS BIGINT) AS pos
      FROM h
    )
    SELECT doc_id, source, pos FROM r WHERE pos <= {SOURCE_CAP}
    """,
)
def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap: keep at most SOURCE_CAP (15) docs per source,
    chosen by deterministic md5 order (an unbiased, reproducible sample of
    each source — NOT first-N, which biases toward ingestion order). The
    standard mix-balancing guard against one crawl dominating the corpus.

    source is a low-cardinality key, so the per-source row_number uses
    rank_low_cardinality (quantile-bucketed two-pass): no single task ever
    owns a whole source — the 100 TB-safe form of the windowed cap."""
    from parquet_to_clickhouse_schema_spark.operators.windows import (
        rank_low_cardinality,
    )

    d = load_table(spark, sf_dir, "documents")
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#cap")).cast("binary")),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    hashed = d.select("doc_id", "source", hv.alias("hv"))
    return (
        rank_low_cardinality(
            hashed,
            ["source"],
            "hv",
            ascending=True,
            tiebreak_cols=["doc_id"],
            output_col="pos",
            method="row_number",
        )
        .filter(F.col("pos") <= SOURCE_CAP)
        .select("doc_id", "source", "pos")
    )


MIX_SEED = "#bal1"


@_q(
    "q_mix_balanced",
    f"""
    WITH counts AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
    floor_n AS (SELECT min(n_s) AS n_min FROM counts),
    p AS (
      SELECT source, n_s, n_min / CAST(n_s AS DOUBLE) AS keep_p
      FROM counts CROSS JOIN floor_n
    )
    SELECT d.doc_id, d.source,
           floor(keep_p * 1000000.0 + 0.5) / 1000000.0 AS keep_p
    FROM documents d JOIN p ON d.source = p.source
    WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '{MIX_SEED}'),
                              1, 15) AS BIGINT) / {{hex15}} < keep_p
    """.replace("{hex15}", str(HEX15)),
)
def q_mix_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced corpus mixing: downsample every source to (in expectation)
    the size of the RAREST source — the uniform-mixture special case of
    training-mix rebalancing (arbitrary target weights are the same plan
    with a different keep_p table). A web-dominated crawl becomes a
    source-uniform corpus in one pass.

    Scale shape: per-source counts are one map-side-combined aggregate
    (|sources| rows); keep probabilities derive from that tiny table and
    broadcast back onto the scan; the keep decision is the same
    deterministic 60-bit md5 coin as q_sample_weighted — no RNG, no
    shuffle of the corpus, reproducible across re-runs, repartitions and
    engines. Changing MIX_SEED resamples independently of the quality
    sampler's seed."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n_s"))
    n_min = counts.agg(F.min("n_s").alias("n_min"))
    p = counts.crossJoin(F.broadcast(n_min)).select(
        "source", (F.col("n_min") / F.col("n_s").cast("double")).alias("keep_p")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit(MIX_SEED)
                    ).cast("binary")
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(HEX15)
    )
    from parquet_to_clickhouse_schema_spark.functions.compat import qround

    return (
        d.join(F.broadcast(p), "source")
        .filter(u < F.col("keep_p"))
        .select("doc_id", "source", qround(F.col("keep_p"), 6).alias("keep_p"))
    )


@_q(
    "q_contamination_score",
    f"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
                  END AS split,
             string_split(text, ' ') AS toks
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, split,
             array_to_string(toks[i:i + {SHINGLE_W - 1}], ' ') AS shingle
      FROM (SELECT doc_id, split, toks,
                   unnest(range(1, len(toks) - {SHINGLE_W - 2})) AS i
            FROM base WHERE split IS NOT NULL AND len(toks) >= {SHINGLE_W})
    ),
    tr AS (SELECT DISTINCT shingle FROM sh WHERE split = 'train')
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN tr.shingle IS NULL THEN 0 ELSE 1 END) AS BIGINT)
               AS n_shared,
           floor((sum(CASE WHEN tr.shingle IS NULL THEN 0.0 ELSE 1.0 END)
                  / count(*)) * 1000000.0 + 0.5) / 1000000.0
               AS contamination
    FROM sh LEFT JOIN tr USING (shingle)
    WHERE sh.split = 'test'
    GROUP BY sh.doc_id
    """,
)
def q_contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded contamination: for EVERY test-split document, the fraction of
    its distinct 8-word shingles that also appear in the train split —
    q_decontaminate's boolean membership turned into the score a filtering
    threshold actually needs (drop at >5%, flag at >0.1%, ...). Includes
    the zero-contamination rows the semi-join form can't emit.

    Same shingle machinery and 64-bit-hash discipline as q_decontaminate;
    the membership probe is a LEFT join against the distinct train-shingle
    set so the per-doc denominator rides the same pass as the numerator."""
    sh = _split_shingles(load_table(spark, sf_dir, "documents"))
    train_sh = (
        sh.filter(F.col("split") == "train")
        .select("shingle_h")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    test_sh = sh.filter(F.col("split") == "test").select("doc_id", "shingle_h")
    return (
        test_sh.join(train_sh, "shingle_h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_shared"),
            qround(
                F.sum(F.coalesce(F.col("hit").cast("double"), F.lit(0.0)))
                / F.count("*"),
                6,
            ).alias("contamination"),
        )
    )


CURRICULUM_SEED = "#c1"


@_q(
    "q_curriculum_order",
    f"""
    WITH keyed AS (
      SELECT doc_id,
             CAST(floor(log2(n_chars + 1)) AS BIGINT) AS difficulty_bucket,
             substr(md5(CAST(doc_id AS VARCHAR) || '{CURRICULUM_SEED}'), 1, 13) AS hv
      FROM documents
    )
    SELECT doc_id, difficulty_bucket,
           CAST(row_number() OVER (ORDER BY difficulty_bucket, hv, doc_id)
                AS BIGINT) AS pos
    FROM keyed
    """,
)
def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: a global training position that presents short
    (easy) documents first, shuffled WITHIN each difficulty tier by the
    deterministic md5 coin — ordered curriculum between tiers, epoch-
    shuffle randomness inside them.

    The composite (bucket, hash) order packs into ONE bigint —
    bucket * 2^52 + 52-bit hash prefix — so the global row_number reuses
    rank_low_cardinality's quantile-bucketed two-pass rank (no single-task
    total sort; same scale argument as q_epoch_shuffle). Fixed-width hex
    orders like its numeric value, which keeps the oracle's string ORDER
    BY and the packed bigint in exact agreement."""
    from parquet_to_clickhouse_schema_spark.operators.windows import (
        rank_low_cardinality,
    )

    d = load_table(spark, sf_dir, "documents")
    bucket = F.floor(F.log2(F.col("n_chars") + 1)).cast("bigint")
    hv = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"), F.lit(CURRICULUM_SEED)
                ).cast("binary")
            ),
            1,
            13,
        ),
        16,
        10,
    ).cast("bigint")
    keyed = d.select(
        "doc_id",
        bucket.alias("difficulty_bucket"),
        (bucket * F.lit(2**52).cast("bigint") + hv).alias("ok_packed"),
    )
    return rank_low_cardinality(
        keyed,
        [],
        "ok_packed",
        ascending=True,
        tiebreak_cols=["doc_id"],
        output_col="pos",
        method="row_number",
    ).select("doc_id", "difficulty_bucket", "pos")


HISTORY_SOURCES = tuple(f"src{i}" for i in range(10))  # the already-ingested half


@_q(
    "q_incremental_dedup",
    f"""
    WITH hist AS (
      SELECT DISTINCT md5(text) AS digest FROM documents
      WHERE source IN {HISTORY_SOURCES!r}
    ),
    batch AS (
      SELECT doc_id, source, md5(text) AS digest FROM documents
      WHERE source NOT IN {HISTORY_SOURCES!r}
    ),
    fresh AS (
      SELECT b.doc_id, b.source, b.digest
      FROM batch b LEFT JOIN hist USING (digest)
      WHERE hist.digest IS NULL
    )
    SELECT doc_id, source, digest
    FROM fresh
    WHERE doc_id = (SELECT min(f2.doc_id) FROM fresh f2
                    WHERE f2.digest = fresh.digest)
    """,
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: a new batch (sources src10+) is deduped
    against the already-ingested history (src0..src9) AND against itself,
    keeping the lowest doc_id per digest — the daily-append pattern where
    re-hashing the full corpus per batch would be O(corpus) instead of
    O(batch + history-index probe).

    Scale shape: both sides shuffle 16-byte md5 digests, never text; the
    history probe is a left-anti equi-join (at production scale the
    history digest set lives as its own compacted table — here it derives
    from the same corpus split); the within-batch keep-first is the
    map-side-combinable min aggregate, not a window."""
    d = load_table(spark, sf_dir, "documents")
    digest = F.md5(F.col("text").cast("binary"))
    hist = (
        d.filter(F.col("source").isin(*HISTORY_SOURCES))
        .select(digest.alias("digest"))
        .distinct()
    )
    batch = d.filter(~F.col("source").isin(*HISTORY_SOURCES)).select(
        "doc_id", "source", digest.alias("digest")
    )
    fresh = batch.join(hist, "digest", "left_anti")
    keep = fresh.groupBy(F.col("digest").alias("keep_digest")).agg(
        F.min("doc_id").alias("keep_id")
    )
    return fresh.join(
        keep,
        (F.col("digest") == F.col("keep_digest"))
        & (F.col("doc_id") == F.col("keep_id")),
    ).select("doc_id", "source", "digest")


MIX_TEMPERATURE = 0.5  # alpha < 1 flattens the source distribution


@_q(
    "q_mix_temperature",
    f"""
    WITH counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents
      GROUP BY source
    ),
    p AS (
      SELECT source, n_docs,
             n_docs / CAST(sum(n_docs) OVER () AS DOUBLE) AS raw_share,
             pow(n_docs / CAST(sum(n_docs) OVER () AS DOUBLE),
                 {MIX_TEMPERATURE}) AS unnorm
      FROM counts
    )
    SELECT source, n_docs,
           floor(raw_share * 1000000.0 + 0.5) / 1000000.0 AS raw_share,
           floor((unnorm / sum(unnorm) OVER ()) * 1000000.0 + 0.5) / 1000000.0
               AS temp_share,
           floor(((unnorm / sum(unnorm) OVER ()) / raw_share) * 10000.0 + 0.5)
               / 10000.0 AS upsample_factor
    FROM p
    """,
)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled corpus mixing (the multilingual-LM sampling rule:
    p_s ∝ (n_s/N)^alpha): per source, its raw share, its alpha=0.5
    flattened share, and the up/down-sampling factor that achieves it —
    the third member of the mixing family (balanced = alpha 0,
    proportional = alpha 1, temperature = in between).

    Float portability: pow/div are correctly-rounded operations on
    identical inputs (integer counts), so qround(1e-6) has ~1e-15
    relative noise to absorb — the standard ratio contract.

    Scale shape: the corpus collapses to |sources| rows first; the window
    normalizations run over that tiny table."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").cast("bigint").alias("n_docs"))
    total = F.sum("n_docs").over(Window.partitionBy())
    raw = F.col("n_docs") / total.cast("double")
    p = counts.select(
        "source", "n_docs", raw.alias("raw_share"),
        F.pow(raw, MIX_TEMPERATURE).alias("unnorm"),
    )
    temp = F.col("unnorm") / F.sum("unnorm").over(Window.partitionBy())
    return p.select(
        "source",
        "n_docs",
        qround(F.col("raw_share"), 6).alias("raw_share"),
        qround(temp, 6).alias("temp_share"),
        qround(temp / F.col("raw_share"), 4).alias("upsample_factor"),
    )


@_q(
    "q_training_mix_report",
    """
    WITH q AS (
      SELECT doc_id, lang, text,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS dr
      FROM documents
    ),
    kept AS (
      SELECT * FROM q WHERE n_tokens BETWEEN 20 AND 200 AND dr > 0.2
    ),
    reps AS (
      SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(lower(trim(text)))
    ),
    final AS (
      SELECT k.doc_id, k.lang, k.n_tokens,
             CASE WHEN substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7','8','9','a','b')
                  THEN 'train'
                  WHEN substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 1) IN ('c','d')
                  THEN 'val'
                  ELSE 'test' END AS split
      FROM kept k JOIN reps USING (doc_id)
    )
    SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM final GROUP BY split, lang
    """,
)
def q_training_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-prep ledger a training run starts from: quality filter ->
    exact dedup -> hash split, reported as (split, lang) document and token
    totals. Composes the gated stages with their EXACT expressions —
    q_quality_score's keep rule (length band 20-200 + vocabulary diversity
    > 0.2), q_dedup_exact's normalized-digest grouping (min-id rep among
    the QUALITY-PASSING docs: filter first, then dedup, the standard
    order), and q_data_split's content-free md5-nibble split — so the
    oracle hash match certifies the composition end to end, not just each
    stage in isolation.

    Scale shape: one scan computes tokens+keep, the dedup rep is a
    map-side-combinable min per 32-byte digest joined back left-semi, and
    the report is a bounded (split x lang) aggregate. No window, no
    all-pairs anything."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    dr = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    # r18: kept is consumed twice (rep election + the left-semi join
    # back), and each consumer re-ran the scan + tokenize + sha2 +
    # quality filter; the lazy checkpoint materializes the filtered
    # ~90 B/doc proxy table once (the q_dedup_pipeline digest-table
    # pattern). Interleaved A/B at sf0.1: 0.87 → 0.77 s, identical rows.
    kept = (
        d.select(
            "doc_id", "lang", n_tokens.alias("n_tokens"),
            F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("dg"),
        )
        .filter(n_tokens.between(20, 200) & (dr > 0.2))
        .localCheckpoint(eager=False)
    )
    reps = kept.groupBy("dg").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    nibble = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
    split = (
        F.when(nibble.isin(*"0123456789ab"), "train")
        .when(nibble.isin("c", "d"), "val")
        .otherwise("test")
    )
    return (
        kept.join(reps, "doc_id", "left_semi")
        .select("doc_id", "lang", "n_tokens", split.alias("split"))
        .groupBy("split", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )


SHARD_TOKENS = 4096  # token budget per output shard
SHARD_BLOCKS = 256  # contiguous hash-prefix blocks for the two-pass cumsum


@_q(
    "q_shard_plan",
    f"""
    WITH t AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
             md5('shard:' || doc_id) AS h
      FROM documents
    ), b AS (
      SELECT doc_id, lang, n_tokens, h,
             (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
             + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) AS blk
      FROM t
    ), c AS (
      SELECT doc_id, lang, n_tokens, blk,
             sum(n_tokens) OVER (PARTITION BY blk ORDER BY h, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM b
    ), tot AS (
      SELECT blk, sum(n_tokens) AS btok FROM b GROUP BY blk
    ), off AS (
      SELECT blk,
             COALESCE(sum(btok) OVER (ORDER BY blk ROWS BETWEEN UNBOUNDED
                      PRECEDING AND 1 PRECEDING), 0) AS boff
      FROM tot
    ), g AS (
      SELECT c.doc_id, c.lang, c.n_tokens,
             CAST(floor((off.boff + c.cum - c.n_tokens) / {SHARD_TOKENS}.0)
                  AS BIGINT) AS shard_id
      FROM c JOIN off ON c.blk = off.blk
    )
    SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM g GROUP BY shard_id
    """,
)
def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard layout plan: place the corpus in deterministic
    pseudo-random order (md5 of doc_id — the same reshuffle discipline as
    q_epoch_shuffle), cut it into fixed-token-budget shards by running
    token count, and report each shard's composition (docs, tokens,
    language diversity). This is the write plan an exporter runs before
    materializing a 100 TB corpus as training shards: byte-budgeted files
    in reproducible order, resumable because nothing depends on rand() or
    partition layout.

    The global running sum is the scale trap (a naive cumulative window is
    ONE task sorting the corpus); here it is two-pass: the hash's first
    byte splits the global hash order into {SHARD_BLOCKS} CONTIGUOUS,
    ordered blocks, each block computes its own cumulative sum in
    parallel, and block offsets come from a {SHARD_BLOCKS}-row aggregate
    (the only serial window, over {SHARD_BLOCKS} rows regardless of corpus
    size — same shape as q_pack_sequences' bin offsets). At 100 TB widen
    the prefix to 2-3 bytes (65k/16M blocks) and the pattern holds.
    All-integer arithmetic: no cross-engine float risk anywhere."""
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(
        F.concat(F.lit("shard:"), F.col("doc_id").cast("string")).cast("binary")
    )
    nib = lambda j: F.expr(f"instr('0123456789abcdef', substring(h, {j}, 1)) - 1")
    # r18: blk is a window/group/join key, so the inferred isnotnull(blk)
    # was pushed into the scan filter, re-evaluating the md5 per row just
    # for the null test (plans/r18/q_shard_plan_before); the explicit
    # doc_id-notnull filter + unreachable coalesce makes blk non-nullable
    # so the inferred filter folds away. On null-doc_id input this filter
    # is a FIX, not a pure identity (ADVICE r18): the null rows never
    # survive the c-to-off equi-join in either engine, but in the OLD form
    # they still built a blk=NULL group in the per-block totals, and the
    # running-offset window (Window.orderBy('blk')) sorts NULLS FIRST in
    # Spark vs LAST in DuckDB — so the NULL group's token sum inflated
    # boff for every real block on the Spark side only. Dropping the rows
    # at the scan removes that latent divergence; on the null-free test
    # tables both forms agree. (A variant deriving per-block totals from a second
    # whole-partition window on the c branch — one scan instead of two —
    # measured WORSE, 0.82 -> 1.09 s anchor median: WindowExec sorts its
    # partition even for an unordered frame, so the "saved" scan returned
    # as a second corpus sort. The groupBy branch stands.)
    b = (
        d.filter(F.col("doc_id").isNotNull())
        .select(
            "doc_id",
            "lang",
            F.size(F.split("text", " ")).alias("n_tokens"),
            h.alias("h"),
        )
        .withColumn("blk", F.coalesce(nib(1) * 16 + nib(2), F.lit(-1)))
    )
    wc = (
        Window.partitionBy("blk")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = b.withColumn("cum", F.sum("n_tokens").over(wc))
    tot = b.groupBy("blk").agg(F.sum("n_tokens").alias("btok"))
    woff = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    off = tot.withColumn("boff", F.coalesce(F.sum("btok").over(woff), F.lit(0))).drop(
        "btok"
    )
    g = c.join(F.broadcast(off), "blk").select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(
            (F.col("boff") + F.col("cum") - F.col("n_tokens")) / float(SHARD_TOKENS)
        )
        .cast("bigint")
        .alias("shard_id"),
    )
    return g.groupBy("shard_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )


MLM_SELECT_P = 0.15  # BERT masking rate
MLM_MASK_P = 0.8  # of selected: replace with [MASK]
MLM_RAND_P = 0.9  # of selected: 0.8-0.9 → random token; ≥0.9 → keep
MLM_SEED = "#mlm1"


@_q(
    "q_mask_plan",
    f"""
    WITH toks AS (
      SELECT doc_id,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    f AS (
      SELECT doc_id,
             CAST('0x' || substr(hv, 1, 15) AS BIGINT) / {HEX15} AS u1,
             CAST('0x' || substr(hv, 16, 15) AS BIGINT) / {HEX15} AS u2
      FROM (
        SELECT doc_id,
               md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)
                   || '{MLM_SEED}') AS hv
        FROM toks
      )
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN u1 < {MLM_SELECT_P} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_selected,
           CAST(sum(CASE WHEN u1 < {MLM_SELECT_P} AND u2 < {MLM_MASK_P}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_mask,
           CAST(sum(CASE WHEN u1 < {MLM_SELECT_P} AND u2 >= {MLM_MASK_P}
                          AND u2 < {MLM_RAND_P}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_random,
           CAST(sum(CASE WHEN u1 < {MLM_SELECT_P} AND u2 >= {MLM_RAND_P}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_sel,
           floor(sum(CASE WHEN u1 < {MLM_SELECT_P} THEN 1.0 ELSE 0.0 END)
                 * 1000000.0 / count(*) + 0.5) / 1000000.0 AS sel_rate
    FROM f GROUP BY doc_id
    """,
)
def q_mask_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BERT-style MLM masking plan (Devlin et al. 2018): select 15% of token
    positions per document, and split the selected set 80/10/10 into
    mask / random-replacement / keep-as-is — emitted as a per-document plan
    summary (counts + realized selection rate) rather than mutated text, so
    the plan itself is deterministic, auditable, and oracle-gated.

    Both coin flips come from ONE md5 of (doc_id, position, seed): chars
    1-15 give the 60-bit selection uniform, chars 16-30 the action uniform —
    the q_sample_weighted trick, extended to two independent draws per row
    without a second hash. Identical hex parsing and double division on both
    engines means the threshold comparisons are bit-identical, no
    quantize-before-compare needed; only the output rate is 1e-6 quantized.

    Scale shape: posexplode + per-row hash + one groupBy(doc_id) — a single
    fact-sized shuffle whose key is the natural partitioning of every
    downstream per-doc op. No vocab table, no window, no driver state; at
    100 TB this is scan-bound and embarrassingly parallel. Changing the
    seed re-draws every epoch's plan independently (pair with
    q_epoch_shuffle's seed discipline)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
    )
    h = F.md5(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit(":"),
            (F.col("pos0") + 1).cast("string"),
            F.lit(MLM_SEED),
        ).cast("binary")
    )
    u1 = F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint") / F.lit(HEX15)
    u2 = F.conv(F.substring(h, 16, 15), 16, 10).cast("bigint") / F.lit(HEX15)
    f = toks.select("doc_id", u1.alias("u1"), u2.alias("u2"))
    sel = F.col("u1") < MLM_SELECT_P
    return f.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum(sel.cast("int")).cast("bigint").alias("n_selected"),
        F.sum((sel & (F.col("u2") < MLM_MASK_P)).cast("int"))
        .cast("bigint")
        .alias("n_mask"),
        F.sum(
            (sel & (F.col("u2") >= MLM_MASK_P) & (F.col("u2") < MLM_RAND_P)).cast(
                "int"
            )
        )
        .cast("bigint")
        .alias("n_random"),
        F.sum((sel & (F.col("u2") >= MLM_RAND_P)).cast("int"))
        .cast("bigint")
        .alias("n_keep_sel"),
        (
            F.floor(
                F.sum(sel.cast("double")) * 1000000.0 / F.count("*") + F.lit(0.5)
            )
            / 1000000.0
        ).alias("sel_rate"),
    )


@_q(
    "q_ht_estimate",
    f"""
    WITH w AS (
      SELECT doc_id, n_chars,
             least(1.0, n_chars / {WEIGHT_CHARS}) AS w,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '{SAMPLE_SEED}'),
                                 1, 15) AS BIGINT) / {HEX15} AS u
      FROM documents
    ),
    s AS (
      SELECT count(*) AS n_sampled,
             sum(1.0 / w) AS est_docs,
             sum(n_chars / w) AS est_chars
      FROM w WHERE u < w
    ),
    t AS (
      SELECT count(*) AS true_docs, sum(n_chars) AS true_chars FROM documents
    )
    SELECT CAST(s.n_sampled AS BIGINT) AS n_sampled,
           floor(s.est_docs * 100.0 + 0.5) / 100.0 AS est_docs,
           CAST(t.true_docs AS BIGINT) AS true_docs,
           floor(s.est_chars * 100.0 + 0.5) / 100.0 AS est_chars,
           CAST(t.true_chars AS BIGINT) AS true_chars,
           floor(abs(s.est_chars - t.true_chars) / t.true_chars
                 * 1000000.0 + 0.5) / 1000000.0 AS rel_err_chars
    FROM s CROSS JOIN t
    """,
)
def q_ht_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson estimation over q_sample_weighted's deterministic
    sample: re-weight each kept document by 1/π (its md5-coin inclusion
    probability) to estimate the FULL corpus document count and character
    mass, reported against the truth with relative error — the accounting
    half of weighted sampling (a downsampled corpus is only honest if you
    can still estimate what the full one contained).

    Same md5 draw, weights and threshold as q_sample_weighted (shared
    constants), so the two keys are one pipeline: sample there, audit
    here. Sums of 1/π are pure arithmetic on exact inputs; estimates are
    quantized to 1e-2, the error ratio to 1e-6.

    Scale shape: one scan, two map-side-combined global aggregates, a
    1-row cross join. The estimator's variance shrinks as the sample
    grows; the plan cost does not change."""
    d = load_table(spark, sf_dir, "documents")
    w = F.least(F.lit(1.0), F.col("n_chars") / WEIGHT_CHARS)
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit(SAMPLE_SEED)
                    ).cast("binary")
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(HEX15)
    )
    s = (
        d.select(F.col("n_chars"), w.alias("w"), u.alias("u"))
        .filter(F.col("u") < F.col("w"))
        .agg(
            F.count("*").cast("bigint").alias("n_sampled"),
            F.sum(1.0 / F.col("w")).alias("est_docs_raw"),
            F.sum(F.col("n_chars") / F.col("w")).alias("est_chars_raw"),
        )
    )
    t = d.agg(
        F.count("*").cast("bigint").alias("true_docs"),
        F.sum("n_chars").cast("bigint").alias("true_chars"),
    )
    return s.crossJoin(F.broadcast(t)).select(
        "n_sampled",
        qround(F.col("est_docs_raw"), 2).alias("est_docs"),
        "true_docs",
        qround(F.col("est_chars_raw"), 2).alias("est_chars"),
        "true_chars",
        qround(
            F.abs(F.col("est_chars_raw") - F.col("true_chars"))
            / F.col("true_chars"),
            6,
        ).alias("rel_err_chars"),
    )


ES_K = 50
ES_SEED = "#es1"


@_q(
    "q_wsample_es",
    f"""
    WITH w AS (
      SELECT doc_id, lang,
             least(1.0, n_chars / {WEIGHT_CHARS}) AS w,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '{ES_SEED}'),
                                 1, 15) AS BIGINT) / {HEX15} AS u
      FROM documents
    )
    SELECT doc_id, lang,
           floor(w * 1000000.0 + 0.5) / 1000000.0 AS weight,
           floor(ln(u) / w * 1000000.0 + 0.5) / 1000000.0 AS es_key
    FROM w
    ORDER BY ln(u) / w DESC, doc_id LIMIT {ES_K}
    """,
)
def q_wsample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis 2006):
    every document draws key u^(1/w) (ranked as ln(u)/w) from its md5
    uniform, and the global top-{ES_K} keys ARE an exact weighted
    without-replacement sample — the distributed answer to "give me k
    docs, quality-weighted, no duplicates" that per-row coin flips
    (q_sample_weighted) can't provide because they fix the rate, not the
    count. Deterministic: same seed → same sample across re-runs, engines
    and partitionings.

    Float note: the ranking uses raw ln(u)/w (libm ln may differ 1 ulp
    cross-engine — the q_dsir_weights-documented margin; distinct docs'
    keys differ by ≫1e-9 so order is stable); emitted keys are 1e-6
    quantized after selection.

    Scale shape: one scan + a TakeOrdered top-{ES_K} (per-partition heaps,
    k-row driver merge) — no shuffle, no window; k scales the sample, not
    the plan."""
    d = load_table(spark, sf_dir, "documents")
    w = F.least(F.lit(1.0), F.col("n_chars") / WEIGHT_CHARS)
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("doc_id").cast("string"), F.lit(ES_SEED)).cast(
                        "binary"
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(HEX15)
    )
    keyed = d.select(
        "doc_id", "lang", w.alias("w"), (F.log(u) / w).alias("es_raw")
    )
    return (
        keyed.orderBy(F.col("es_raw").desc(), "doc_id")
        .limit(ES_K)
        .select(
            "doc_id",
            "lang",
            qround(F.col("w"), 6).alias("weight"),
            qround(F.col("es_raw"), 6).alias("es_key"),
        )
    )


@_q(
    "q_effective_sample_size",
    f"""
    WITH w AS (
      SELECT lang, least(1.0, n_chars / {WEIGHT_CHARS}) AS w FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           floor(sum(w) * sum(w) / sum(w * w) * 10000.0 + 0.5) / 10000.0
               AS ess,
           floor(sum(w) * sum(w) / sum(w * w) / count(*) * 1000000.0 + 0.5)
               / 1000000.0 AS ess_ratio
    FROM w GROUP BY lang
    """,
)
def q_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size of the quality-weight design per
    language: ESS = (Σw)²/Σw² — how many EQUAL-weight documents the
    weighted corpus is statistically worth (ess_ratio → 1 means weights
    are nearly uniform and reweighting costs nothing; → 0 means a few
    heavy docs dominate and every weighted estimate rides on them). The
    standing diagnostic for q_sample_weighted / q_ht_estimate /
    q_dsir_weights-style importance schemes: run it BEFORE trusting a
    weighted metric.

    Shares q_sample_weighted's weight definition (least(1, chars/400));
    exact arithmetic into two quantized ratios; one map-side-combined
    group aggregate, scan-bound at any scale."""
    d = load_table(spark, sf_dir, "documents")
    w = F.least(F.lit(1.0), F.col("n_chars") / WEIGHT_CHARS)
    g = d.select("lang", w.alias("w")).groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("w").alias("sw"),
        F.sum(F.col("w") * F.col("w")).alias("sww"),
    )
    ess = F.col("sw") * F.col("sw") / F.col("sww")
    return g.select(
        "lang",
        F.col("n").cast("bigint").alias("n_docs"),
        qround(ess, 4).alias("ess"),
        qround(ess / F.col("n"), 6).alias("ess_ratio"),
    )


@_q(
    "q_group_split",
    """
    WITH s AS (
      SELECT source,
             CASE WHEN substr(md5(source), 1, 1)
                       IN ('0','1','2','3','4','5','6','7','8','9','a','b')
                  THEN 'train'
                  WHEN substr(md5(source), 1, 1) IN ('c','d') THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT DISTINCT source FROM documents)
    )
    SELECT s.source, s.split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS n_chars
    FROM documents d JOIN s ON d.source = s.source
    GROUP BY 1, 2
    """,
)
def q_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free grouped split (GroupKFold semantics): the split is
    hashed from the SOURCE, not the document, so every document of a
    source lands in the same split — the discipline that keeps
    near-duplicate documents from one crawl/site/book from straddling
    train and test and inflating eval scores (q_data_split's per-doc hash
    cannot guarantee this; q_decontaminate then has to catch the
    stragglers). Same md5-nibble 12/2/2 rule as q_data_split, applied one
    level up, with per-source doc/char totals as the audit readout (group
    atomicity is by construction: source is the grouping key, so one
    split per source).

    Scale shape: the split rule is a pure projection on a distinct-source
    dimension (Heaps'-bounded, broadcast back onto the corpus scan) and
    one map-side-combined groupBy — no fact-sized shuffle beyond the
    aggregate itself. md5 keeps the assignment oracle-verifiable and
    stable under re-runs and appends."""
    d = load_table(spark, sf_dir, "documents")
    nibble = F.substring(F.md5(F.col("source").cast("binary")), 1, 1)
    s = d.select("source").distinct().select(
        "source",
        F.when(nibble.isin(*"0123456789ab"), "train")
        .when(nibble.isin("c", "d"), "val")
        .otherwise("test")
        .alias("split"),
    )
    return (
        d.join(F.broadcast(s), "source")
        .groupBy("source", "split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
    )


COVERAGE_LEVELS = (10, 25, 50, 100)  # percent of the md5-ordered ingest


@_q(
    "q_coverage_curve",
    f"""
    WITH d AS (
      SELECT doc_id, md5(text) AS digest,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) * 100.0 / 4294967296.0 AS pct
      FROM documents
    ),
    lv AS (SELECT unnest([{", ".join(str(v) for v in COVERAGE_LEVELS)}])
               AS level_pct)
    SELECT lv.level_pct AS level_pct,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT d.digest) AS BIGINT) AS n_unique,
           floor((1.0 - count(DISTINCT d.digest) * 1.0 / count(*))
                 * 1000000.0 + 0.5) / 1000000.0 AS dup_rate
    FROM d JOIN lv ON d.pct < lv.level_pct
    GROUP BY lv.level_pct
    """,
)
def q_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup saturation curve: exact-duplicate rate of the first
    10/25/50/100% of the corpus in a deterministic md5 ingest order — the
    is-more-data-still-new readout that decides whether the next crawl
    batch is worth processing (dup_rate flat in corpus size = healthy;
    climbing = the source is exhausted and you are re-buying old tokens).

    The "first X%" prefix is hash-RANGE membership (md5(doc_id) high bits
    under X% of the hash space), not a rank: no global sort, no window —
    prefix membership is a row-local predicate, exactly the trick
    hash-splits (q_data_split) use, so the curve costs one scan expanded
    {len(COVERAGE_LEVELS)}x by the level spine (realized prefix sizes are
    reported as n_docs — binomially close to nominal, never padded).
    Content identity is the md5 text digest (the q_dedup_exact dedup key):
    only digests flow into the distinct, never text. Exact integers plus
    one quantized ratio."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("digest"),
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
                16,
                10,
            ).cast("bigint")
            * 100.0
            / 4294967296.0
        ).alias("pct"),
    )
    lv = spark.createDataFrame(
        [(v,) for v in COVERAGE_LEVELS], "level_pct int"
    )
    return (
        d.join(F.broadcast(lv), F.col("pct") < F.col("level_pct"))
        .groupBy("level_pct")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("digest").cast("bigint").alias("n_unique"),
            (
                F.floor(
                    (1.0 - F.countDistinct("digest") * 1.0 / F.count("*"))
                    * 1000000.0
                    + F.lit(0.5)
                )
                / 1000000.0
            ).alias("dup_rate"),
        )
    )


CHURN_CUTOFF = "2024-01-24 00:00:00"


@_q(
    "q_churn_features",
    f"""
    WITH pre AS (
      SELECT user_id,
             count(*) AS n_events,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS n_purchases,
             max(ts) AS last_ts,
             sum(value) AS total_value
      FROM events WHERE ts <= TIMESTAMP '{CHURN_CUTOFF}'
      GROUP BY user_id
    ),
    post AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts > TIMESTAMP '{CHURN_CUTOFF}'
    )
    SELECT pre.user_id,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(n_purchases AS BIGINT) AS n_purchases,
           CAST((epoch_us(TIMESTAMP '{CHURN_CUTOFF}') - epoch_us(last_ts))
                // 86400000000 AS INT) AS recency_days,
           floor(total_value * 1000000.0 + 0.5) / 1000000.0 AS total_value,
           CAST(post.user_id IS NULL AS INT) AS churned
    FROM pre LEFT JOIN post ON pre.user_id = post.user_id
    """,
)
def q_churn_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe churn training table: features computed ONLY from
    events at or before the cutoff (activity counts, purchase count,
    recency in whole days, spend), label = churned (no event after the
    cutoff) from ONLY the post-cutoff window — the temporal
    feature/label wall every supervised pipeline on event data needs,
    and the thing ad-hoc notebook joins silently violate (a feature that
    peeks past the cutoff scores brilliantly offline and dies in
    production). Users with no pre-cutoff history emit no row: they have
    no features to train on.

    Recency is exact integer microseconds floor-divided to days (the
    cross-engine epoch discipline); spend is 1e-6-quantized. Scale
    shape: two timestamp-pruned scans collapsing to one row per user
    (map-side combined) and a user-keyed left join."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit(CHURN_CUTOFF).cast("timestamp")
    pre = (
        ev.filter(F.col("ts") <= cut)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("n_purchases"),
            F.max("ts").alias("last_ts"),
            F.sum("value").alias("total_value"),
        )
    )
    post = (
        ev.filter(F.col("ts") > cut)
        .select("user_id")
        .distinct()
        .withColumn("active", F.lit(1))
    )
    recency = F.floor(
        (
            F.unix_micros(cut)
            - F.unix_micros(F.col("last_ts").cast("timestamp"))
        )
        / 86400000000
    ).cast("int")
    return pre.join(post, "user_id", "left").select(
        "user_id",
        "n_events",
        "n_purchases",
        recency.alias("recency_days"),
        qround(F.col("total_value"), 6).alias("total_value"),
        F.col("active").isNull().cast("int").alias("churned"),
    )


NEYMAN_BUDGET = 100  # total sample rows to allocate across strata


@_q(
    "q_neyman_allocation",
    f"""
    WITH s AS (
      SELECT lang, count(*) AS n_h, stddev_pop(n_chars) AS s_h
      FROM documents GROUP BY lang
    ),
    t AS (SELECT sum(n_h * s_h) AS z FROM s)
    SELECT lang,
           CAST(n_h AS BIGINT) AS n_docs,
           floor(s_h * 1000000.0 + 0.5) / 1000000.0 AS stddev_chars,
           CAST(least(floor({NEYMAN_BUDGET} * n_h * s_h / t.z + 0.5), n_h)
                AS BIGINT) AS n_alloc,
           floor(n_h * s_h / t.z * 1000000.0 + 0.5) / 1000000.0
               AS alloc_share
    FROM s CROSS JOIN t
    """,
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling allocation: split a
    {NEYMAN_BUDGET}-row annotation/inspection budget across language
    strata ∝ N_h·S_h (stratum size × within-stratum std of doc length)
    — the variance-minimizing allocation for estimating a corpus mean,
    and the principled answer to "how many docs from each language do we
    hand the labelers". Proportional allocation (q_stratified_sample's
    regime) over-samples homogeneous strata; Neyman puts budget where
    the variance lives (capped at the stratum's own size — can't sample
    more than exists).

    Exact counts with two quantized ratios and a half-up-rounded integer
    allocation; all engine-identical expressions of the same doubles.
    Scale: one map-side-combined two-moment reduce per stratum and a
    1-row normalizer attach."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("lang").agg(
        F.count("*").alias("n_h"),
        F.stddev_pop("n_chars").alias("s_h"),
    )
    t = s.agg(F.sum(F.col("n_h") * F.col("s_h")).alias("z"))
    raw = F.lit(NEYMAN_BUDGET) * F.col("n_h") * F.col("s_h") / F.col("z")
    return s.crossJoin(F.broadcast(t)).select(
        "lang",
        F.col("n_h").cast("bigint").alias("n_docs"),
        qround(F.col("s_h"), 6).alias("stddev_chars"),
        F.least(F.floor(raw + F.lit(0.5)), F.col("n_h"))
        .cast("bigint")
        .alias("n_alloc"),
        qround(F.col("n_h") * F.col("s_h") / F.col("z"), 6).alias(
            "alloc_share"
        ),
    )
