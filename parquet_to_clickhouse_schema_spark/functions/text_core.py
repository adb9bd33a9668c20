"""Text-analysis operators, part 1 of 2 (split from functions/text.py in
r18, VERDICT r17 task #5 — a mechanical move, no behavior change):
language ID, quality scoring, repetition filter, token counting, document
fingerprinting, vocab reports, PII redact/scrub, DP count release, TF-IDF,
BM25, unigram NLL, perplexity buckets, DSIR weights, bigram PMI, length
histogram, source entropy, BPE pair mining + trainer + verified twin,
Zipf slope, OOV rate, frequency sketches, language confusion, filter
sweep.

All pure JVM expressions (split / regexp / hash built-ins) — scan-bound
at 100 TB, not CPU-bound. Each has a DuckDB oracle twin except where the
hash primitive is engine-specific (noted per query).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_to_clickhouse_schema_spark._registry import new_registry
from parquet_to_clickhouse_schema_spark.functions.compat import qround, sql_qround
from parquet_to_clickhouse_schema_spark.sources.io import load_table

QUERIES, ORACLES, _q = new_registry()


_LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "nicht"],
    "es": ["el", "que", "de"],
    "fr": ["le", "et", "les"],
}


def _contains_any_sql(col: str, words: list[str]) -> str:
    return " OR ".join(f"list_contains(string_split({col}, ' '), '{w}')" for w in words)


@_q(
    "q_lang_id",
    f"""
    SELECT doc_id, lang,
           CASE
             WHEN {_contains_any_sql("text", _LANG_MARKERS["de"])} THEN 'de'
             WHEN {_contains_any_sql("text", _LANG_MARKERS["es"])} THEN 'es'
             WHEN {_contains_any_sql("text", _LANG_MARKERS["fr"])} THEN 'fr'
             WHEN {_contains_any_sql("text", _LANG_MARKERS["en"])} THEN 'en'
             ELSE 'und'
           END AS lang_pred
    FROM documents
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification by stopword-marker voting (the classic
    fasttext-free heuristic): first language whose marker tokens appear.
    Token-set containment, not substring — 'the' must be a whole token."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")

    def has_any(words):
        cond = F.lit(False)
        for w in words:
            cond = cond | F.array_contains(toks, w)
        return cond

    pred = (
        F.when(has_any(_LANG_MARKERS["de"]), "de")
        .when(has_any(_LANG_MARKERS["es"]), "es")
        .when(has_any(_LANG_MARKERS["fr"]), "fr")
        .when(has_any(_LANG_MARKERS["en"]), "en")
        .otherwise("und")
    )
    return d.select("doc_id", "lang", pred.alias("lang_pred"))


@_q(
    "q_quality_score",
    """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           floor((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / len(string_split(text, ' '))) * 10000.0 + 0.5) / 10000.0
               AS distinct_ratio,
           floor((CAST(n_chars AS DOUBLE) / len(string_split(text, ' '))) * 10000.0 + 0.5)
               / 10000.0 AS avg_token_len,
           CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 200
                 AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')) > 0.2
                THEN 1 ELSE 0 END AS keep_flag
    FROM documents
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (length band + vocabulary diversity) — the
    filter shape used to drop boilerplate/spam before training. Emits the
    features and the keep/drop decision so downstream stages can re-weight
    instead of re-scan."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    return d.select(
        "doc_id",
        n_tokens.cast("int").alias("n_tokens"),
        qround(distinct_ratio, 4).alias("distinct_ratio"),
        qround(F.col("n_chars").cast("double") / n_tokens, 4).alias("avg_token_len"),
        F.when(n_tokens.between(20, 200) & (distinct_ratio > 0.2), 1)
        .otherwise(0)
        .alias("keep_flag"),
    )


@_q(
    "q_repetition_filter",
    """
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    tri AS (
      SELECT doc_id,
             list_transform(
               range(1, greatest(len(toks) - 2, 1) + 1),
               i -> array_to_string(toks[i:i+2], ' ')
             ) AS tris
      FROM tok
    )
    SELECT doc_id,
           CAST(len(tris) AS INT) AS n_trigrams,
           floor(((len(tris) - len(list_distinct(tris)))
                  / CAST(len(tris) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS dup_frac,
           CASE WHEN (len(tris) - len(list_distinct(tris)))
                     / CAST(len(tris) AS DOUBLE) <= 0.2
                THEN 1 ELSE 0 END AS keep_flag
    FROM tri
    """,
)
def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filter (C4/Gopher-style): the fraction of
    duplicate word trigrams. Templated/boilerplate/looping text repeats
    itself locally, which whole-document dedup and the vocabulary-diversity
    score both miss; the standard rule drops docs whose duplicate-trigram
    fraction exceeds a threshold (0.2 here). Pure JVM expressions on one
    scan — no shuffle, no state — so at 100 TB it rides the same
    scan-bound cost envelope as the other text filters. Short docs clamp
    to one whole-doc trigram (slice semantics match the oracle's list
    slicing exactly)."""
    d = load_table(spark, sf_dir, "documents")
    # r18: project the token array, then the trigram array, as named
    # columns. The single-select form evaluated the whole transform once
    # per consuming expression AND re-split the text once per trigram
    # position inside the lambda (interpreted HOFs get no CSE; see
    # llm_dedup.shingle_array). Both aliases are referenced more than
    # once, so CollapseProject keeps the staging projections.
    toked = d.select("doc_id", F.split("text", " ").alias("_toks"))
    n_tri = F.greatest(F.size("_toks") - 2, F.lit(1))
    tris = F.transform(
        F.sequence(F.lit(1), n_tri),
        lambda i: F.concat_ws(" ", F.slice("_toks", i, 3)),
    )
    trid = toked.select("doc_id", tris.alias("_tris"))
    dup_frac = (
        F.size("_tris") - F.size(F.array_distinct("_tris"))
    ).cast("double") / F.size("_tris")
    return trid.select(
        "doc_id",
        F.size("_tris").cast("int").alias("n_trigrams"),
        qround(dup_frac, 4).alias("dup_frac"),
        F.when(dup_frac <= 0.2, 1).otherwise(0).alias("keep_flag"),
    )


@_q(
    "q_token_count",
    r"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT)
               AS bpe_ish_tokens,
           CAST(ceil(n_chars / 4.0) AS INT) AS chars_div4_est
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""Token counting three ways: whitespace split, a BPE-ish regex
    (runs of letters / digits / single other symbols — the pre-tokenizer
    shape GPT-style BPEs use), and the chars/4 estimate used for quick
    budget math. All regexp work is JVM-side (regexp_extract_all)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("int").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]"), 0))
        .cast("int")
        .alias("bpe_ish_tokens"),
        F.ceil(F.col("n_chars") / 4.0).cast("int").alias("chars_div4_est"),
    )


@_q(
    "q_doc_fingerprint",
    """
    SELECT doc_id,
           md5(text) AS fp_md5,
           sha256(text) AS fp_sha256,
           list_min(list_transform(range(1, GREATEST(len(text) - 7, 1) + 1),
                                   i -> md5(text[i:i+7]))) AS fp_rolling_min
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whole-text digests (md5/sha256) plus a
    rolling-window fingerprint — the min digest over all 8-char windows
    (winnowing with window = whole doc). The rolling min is robust to
    appends/prepends, unlike the whole-text digest; both are portable
    string hashes so the oracle can verify them exactly."""
    d = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    n_windows = F.greatest(F.length(text) - 7, F.lit(1))
    rolling = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda i: F.md5(text.substr(i, F.lit(8)).cast("binary")),
    )
    return d.select(
        "doc_id",
        F.md5(text.cast("binary")).alias("fp_md5"),
        F.sha2(text.cast("binary"), 256).alias("fp_sha256"),
        F.array_min(rolling).alias("fp_rolling_min"),
    )


@_q(
    "q_vocab_top",
    """
    SELECT tok, CAST(count(*) AS BIGINT) AS freq,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok
    ORDER BY freq DESC, tok
    LIMIT 100
    """,
)
def q_vocab_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: token frequency + document frequency, top 100 —
    the canonical wordcount shape (explode -> two-level aggregate). Partial
    aggregation collapses each partition to its distinct tokens before the
    shuffle, so the exchange carries O(vocab), not O(corpus tokens) — at
    100 TB the vocab table is the tiny side of every subsequent join."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    return (
        toks.groupBy("tok")
        .agg(
            F.count("*").alias("freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("freq").desc(), "tok")
        .limit(100)
    )


_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"


@_q(
    "q_pii_redact",
    f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(injected, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS clean_text,
           CAST(len(regexp_extract_all(injected, '{_EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(injected, '{_PHONE_RE}')) AS INT) AS n_phones
    FROM (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 AS injected
      FROM documents
    )
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: regex-scrub emails and phone numbers, count what was
    removed. The synthetic corpus carries no PII, so the query first injects
    a deterministic email + phone per document (both engines inject
    identically), making the redaction observable and oracle-checkable. All
    JVM regexp built-ins — at 100 TB this is a scan-bound single pass, the
    same cost class as q_token_count; the count columns feed the audit
    metric ('how much PII did this source contain') that real pipelines
    must report."""
    d = load_table(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com call +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(injected, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        clean.alias("clean_text"),
        F.regexp_count(injected, F.lit(_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(injected, F.lit(_PHONE_RE)).cast("int").alias("n_phones"),
    )


TFIDF_TOP = 3


@_q(
    "q_tfidf_top",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             len(string_split(text, ' ')) AS n_toks
      FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, n_toks, count(*) AS cnt
      FROM toks GROUP BY doc_id, tok, n_toks
    ),
    df AS (
      SELECT tok, count(DISTINCT doc_id) AS doc_freq FROM toks GROUP BY tok
    ),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, tok,
           floor(((cnt / CAST(n_toks AS DOUBLE)) * ln(CAST(n_docs AS DOUBLE) / doc_freq))
                 * 1000000.0 + 0.5) / 1000000.0 AS tfidf
    FROM (
      SELECT tf.doc_id, tf.tok, tf.cnt, tf.n_toks, df.doc_freq, n.n_docs,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.cnt DESC, df.doc_freq ASC, tf.tok) AS rn
      FROM tf JOIN df USING (tok) CROSS JOIN n
    )
    WHERE rn <= {TFIDF_TOP}
    """,
)
def q_tfidf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF top terms — the classic relevance/keyword
    extraction pass. Term frequency is a (doc, tok) aggregate; document
    frequency is a vocab-sized table that BROADCASTS to the tf side (vocab
    << corpus at any scale); corpus size N joins as a 1-row broadcast. The
    top-3 selection ranks by the integer pair (cnt DESC, doc_freq ASC, tok)
    rather than the float product, so cross-engine last-ulp differences in
    ln() can never flip the selection; the float tfidf is emitted rounded
    to 6 dp."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split("text", " ")).alias("tok"),
        F.size(F.split("text", " ")).alias("n_toks"),
    )
    tf = toks.groupBy("doc_id", "tok", "n_toks").agg(F.count("*").alias("cnt"))
    # tf already holds one row per (doc, tok), so document frequency is a
    # plain count over it — no second explode/scan of the corpus, and the
    # df aggregate's input is O(doc x vocab) instead of O(corpus tokens)
    df_tbl = tf.groupBy("tok").agg(F.count("*").alias("doc_freq"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("cnt").desc(), F.col("doc_freq").asc(), "tok"
    )
    return (
        tf.join(F.broadcast(df_tbl), "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOP)
        .select(
            "doc_id",
            "tok",
            qround(
                (F.col("cnt") / F.col("n_toks").cast("double"))
                * F.log(F.col("n_docs").cast("double") / F.col("doc_freq")),
                6,
            ).alias("tfidf"),
        )
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("query", "scan", "merge")


@_q(
    "q_bm25_score",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             len(string_split(text, ' ')) AS dl
      FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, dl, count(*) AS tf
      FROM toks WHERE tok IN ('query', 'scan', 'merge')
      GROUP BY doc_id, tok, dl
    ),
    dfreq AS (
      SELECT tok, count(DISTINCT doc_id) AS df
      FROM toks WHERE tok IN ('query', 'scan', 'merge')
      GROUP BY tok
    ),
    stats AS (
      SELECT count(*) AS n_docs,
             avg(len(string_split(text, ' '))) AS avgdl
      FROM documents
    )
    SELECT doc_id,
           floor(sum(
             ln((n_docs - df + 0.5) / (df + 0.5) + 1)
             * (tf * ({BM25_K1} + 1))
             / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))
           ) * 1000000.0 + 0.5) / 1000000.0 AS bm25
    FROM tf JOIN dfreq USING (tok) CROSS JOIN stats
    GROUP BY doc_id
    """,
)
def q_bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance score of every document against a fixed query
    term set — the lexical-retrieval scoring pass of a data pipeline
    (quality-weighted sampling, query-targeted corpus slicing).

    Scale shape mirrors q_tfidf_top: term frequencies are a (doc, term)
    aggregate over the exploded token stream FILTERED to the query terms
    (the explode-filter collapses to a few rows per doc before any
    shuffle); document frequency is a |query|-row broadcast; corpus stats
    (N, avgdl) are a 1-row broadcast. No full-vocabulary state anywhere,
    so the plan is scan-bound at 100 TB."""
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
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    score = (
        idf
        * (F.col("tf") * (BM25_K1 + 1))
        / (
            F.col("tf")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(qround(F.sum(score), 6).alias("bm25"))
    )


# PII patterns shared by the Spark query and the DuckDB oracle. Kept to the
# regex subset Java regex and RE2 agree on (no lookaround, no backrefs):
# \b, \d, bounded quantifiers, character classes.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"

_PII_ORACLE = """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '%(email)s')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '%(ip)s')) AS INT) AS n_ips,
           CAST(len(regexp_extract_all(text, '%(phone)s')) AS INT) AS n_phones,
           regexp_replace(regexp_replace(regexp_replace(text,
               '%(email)s', '[EMAIL]', 'g'),
               '%(ip)s', '[IP]', 'g'),
               '%(phone)s', '[PHONE]', 'g') AS clean_text
    FROM documents
""" % {"email": PII_EMAIL, "ip": PII_IP, "phone": PII_PHONE}


@_q("q_pii_scrub", _PII_ORACLE)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over the RAW corpus: count and replace
    emails, IPv4 addresses and phone numbers with typed placeholder tokens
    — the compliance scrub every training corpus runs before tokenization.
    Complements q_pii_redact (which INJECTS deterministic PII so redaction
    is observable on the PII-free synthetic corpus): this is the production
    entry point — no injection, detects-nothing is a valid outcome, and the
    planted-PII test (tests/test_smoke.py) proves the patterns fire on real
    PII shapes including IPv4. Counts are computed on the ORIGINAL text
    (audit trail); redaction applies email → IP → phone in that fixed
    order so the two engines transform identically.

    Pure JVM regexp built-ins inside whole-stage codegen: scan-bound at
    100 TB, no UDF, no shuffle at all (row-local transformation). The
    pattern subset is restricted to what Java regex and RE2 evaluate
    identically — the oracle proves the parity on every sweep."""
    d = load_table(spark, sf_dir, "documents")
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "[EMAIL]"),
            PII_IP,
            "[IP]",
        ),
        PII_PHONE,
        "[PHONE]",
    )
    return d.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(PII_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(PII_IP)).cast("int").alias("n_ips"),
        F.regexp_count(F.col("text"), F.lit(PII_PHONE)).cast("int").alias("n_phones"),
        clean.alias("clean_text"),
    )


# deterministic-noise DP release: epsilon sweep, string form pinned so the
# md5 seed input is byte-identical cross-engine (no float-to-string drift)
DP_EPSILONS = (("0.5", 0.5), ("1.0", 1.0), ("2.0", 2.0))
_DP_2P60 = 1152921504606846976.0  # 2^60 as a double literal, both engines


@_q(
    "q_dp_count_release",
    f"""
    WITH cells AS (
      SELECT source, CAST(count(*) AS BIGINT) AS true_count
      FROM documents GROUP BY source
    ),
    eps AS (SELECT * FROM (VALUES {", ".join(f"('{s}', {s})" for s, _ in DP_EPSILONS)}) e(eps_s, eps)),
    seeded AS (
      SELECT source, true_count, eps,
             (CAST(('0x' || substr(md5('dp:' || source || ':' || eps_s),
                                   1, 15)) AS BIGINT) + 0.5)
               / {_DP_2P60!r} AS u
      FROM cells CROSS JOIN eps
    ),
    noised AS (
      SELECT source, true_count, eps,
             -(1.0 / eps) * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))
               AS noise
      FROM seeded
    )
    SELECT source, CAST(eps AS DOUBLE) AS epsilon,
           floor((true_count + noise) * 1000000.0 + 0.5) / 1000000.0
               AS released_count,
           true_count,
           floor(abs(noise) * 1000000.0 + 0.5) / 1000000.0 AS noise_abs
    FROM noised
    """,
)
def q_dp_count_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-SWEEP differentially-private count release (Laplace mechanism)
    over the per-source corpus composition. The single-ε mechanism
    certificate already exists (q_dp_histogram, dq.py — same md5-seeded
    inverse-CDF Laplace arithmetic, gated since r12); this key is its
    FRONTIER sibling: counts have L1 sensitivity 1, so Lap(1/ε) gives
    ε-DP per cell, and the ε sweep (0.5 / 1.0 / 2.0) emits the
    privacy-utility frontier the release owner actually chooses from,
    with the realized |noise| beside each released value (the
    q_lsh_param_sweep / q_filter_sweep measured-frontier pattern applied
    to privacy accounting; seeds are ε-qualified so tiers draw
    independent noise).

    Determinism caveat, stated loudly: a REAL release must draw fresh
    randomness — here the Laplace draw is seeded from md5('dp:'||source
    ||':'||ε) via inverse-CDF (u in (0,1) from the established '0x'||md5
    60-bit idiom; noise = -(1/ε)·sign(u-½)·ln(1-2|u-½|)) so DuckDB
    replays the identical noise and the mechanism itself — sensitivity,
    scale, inverse-CDF shape, per-cell accounting — is hash-gated. Swap
    the seed for a CSPRNG draw in production; everything else ships
    as-is. TRUE counts ride on the row for the same reason
    q_hll_verified carries exact_distinct: to measure (drop before an
    actual release).

    100 TB shape: one map-side-combined groupBy(source) — the shuffle
    carries |sources| partial counts; the ε fan-out and noise arithmetic
    touch |sources|×|ε| rows. Scan-bound, like every release-stats job
    should be."""
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("true_count")
    )
    eps = F.explode(
        F.array(
            *[
                F.struct(F.lit(s).alias("eps_s"), F.lit(v).alias("eps"))
                for s, v in DP_EPSILONS
            ]
        )
    ).alias("e")
    seeded = cells.select("source", "true_count", eps).select(
        "source",
        "true_count",
        F.col("e.eps").alias("eps"),
        (
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("dp:"),
                                F.col("source"),
                                F.lit(":"),
                                F.col("e.eps_s"),
                            ).cast("binary")
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("bigint")
                + F.lit(0.5)
            )
            / F.lit(_DP_2P60)
        ).alias("u"),
    )
    noise = (
        -(F.lit(1.0) / F.col("eps"))
        * F.signum(F.col("u") - 0.5)
        * F.log(F.lit(1.0) - 2.0 * F.abs(F.col("u") - 0.5))
    )
    return seeded.select(
        "source",
        F.col("eps").cast("double").alias("epsilon"),
        qround(F.col("true_count") + noise, 6).alias("released_count"),
        "true_count",
        qround(F.abs(noise), 6).alias("noise_abs"),
    )


@_q(
    "q_unigram_nll",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    n AS (SELECT count(*) AS n_tot FROM toks)
    SELECT doc_id,
           floor(avg(-ln(c / n_tot)) * 1000000.0 + 0.5) / 1000000.0 AS nll
    FROM toks JOIN freq USING (tok) CROSS JOIN n
    GROUP BY doc_id
    """,
)
def q_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus's own
    unigram language model — the CCNet/Gopher-style statistical quality
    signal (documents of improbable tokens score high = likely noise; a
    perplexity proxy without a trained LM).

    Scale shape: the token stream is an explode over split() (pure JVM);
    the unigram table is VOCAB-bounded (Heaps' law: ~1M rows at 100 TB),
    so its join back onto the token stream is an AQE broadcast, not a
    fact-fact shuffle; the corpus total is a 1-row broadcast. One real
    shuffle total — the per-doc re-aggregation. No UDF anywhere."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count("*").alias("c"))
    n = toks.agg(F.count("*").alias("n_tot"))
    return (
        toks.join(freq, "tok")
        .crossJoin(n)
        .groupBy("doc_id")
        .agg(qround(F.avg(-F.log(F.col("c") / F.col("n_tot"))), 6).alias("nll"))
    )


# bigram-PMI parameters: minimum pair support and result size
PPL_BUCKETS = 3  # CCNet's head / middle / tail


@_q(
    "q_perplexity_buckets",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    n AS (SELECT count(*) AS n_tot FROM toks),
    nll AS (
      SELECT doc_id,
             floor(avg(-ln(c / n_tot)) * 1000000.0 + 0.5) / 1000000.0 AS nll,
             CAST(count(*) AS BIGINT) AS n_toks
      FROM toks JOIN freq USING (tok) CROSS JOIN n
      GROUP BY doc_id
    ),
    b AS (
      SELECT d.lang, nll.nll, nll.n_toks,
             ntile({PPL_BUCKETS}) OVER (PARTITION BY d.lang
                                        ORDER BY nll.nll, nll.doc_id)
               AS bucket
      FROM nll JOIN documents d ON nll.doc_id = d.doc_id
    )
    SELECT lang, CAST(bucket AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           floor(avg(nll) * 10000.0 + 0.5) / 10000.0 AS mean_nll,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens
    FROM b GROUP BY lang, bucket
    """,
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020): split each
    language's corpus into head/middle/tail terciles by per-document
    unigram NLL (the perplexity proxy q_unigram_nll computes) and report
    each bucket's size, mean NLL and token mass — the standard first cut
    before choosing which quality tier feeds training.

    Determinism discipline: the tercile is ntile() over (quantized NLL,
    doc_id) — the 1e-6 quantization makes the sort key identical across
    engines and the doc_id tiebreak makes the order total, so bucket
    boundaries are bit-stable. Scale shape: unigram table is
    vocab-bounded (broadcast), one shuffle for the per-doc NLL; the
    per-lang ntile window is the q_window_rank-class serialization —
    at 100 TB swap in rank_low_cardinality's two-pass bucketed rank
    (oracle-identical, see q_window_rank_scalable) and derive the
    tercile from the position."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count("*").alias("c"))
    n = toks.agg(F.count("*").alias("n_tot"))
    nll = (
        toks.join(freq, "tok")
        .crossJoin(n)
        .groupBy("doc_id")
        .agg(
            qround(F.avg(-F.log(F.col("c") / F.col("n_tot"))), 6).alias("nll"),
            F.count("*").cast("bigint").alias("n_toks"),
        )
    )
    w = Window.partitionBy("lang").orderBy("nll", "doc_id")
    b = nll.join(d.select("doc_id", "lang"), "doc_id").withColumn(
        "bucket", F.ntile(PPL_BUCKETS).over(w)
    )
    return b.groupBy("lang", F.col("bucket").cast("int").alias("bucket")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        qround(F.avg("nll"), 4).alias("mean_nll"),
        F.sum("n_toks").cast("bigint").alias("total_tokens"),
    )


DSIR_BUCKETS = 256  # hashed-unigram feature space
DSIR_TARGET_LANG = "en"


@_q(
    "q_dsir_weights",
    f"""
    WITH toks AS (
      SELECT doc_id, lang,
             (instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
             + (instr('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) AS b
      FROM (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        FROM documents
      )
    ),
    tgt AS (
      SELECT b, count(*) AS ct FROM toks
      WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b
    ),
    src AS (SELECT b, count(*) AS cs FROM toks GROUP BY b),
    nt AS (
      SELECT count(*) AS n FROM toks WHERE lang = '{DSIR_TARGET_LANG}'
    ),
    ns AS (SELECT count(*) AS n FROM toks)
    SELECT t.doc_id, t.lang,
           floor(avg(ln(((COALESCE(tg.ct, 0) + 1.0) / (nt.n + {DSIR_BUCKETS}.0))
                        / ((s.cs + 1.0) / (ns.n + {DSIR_BUCKETS}.0))))
                 * 1000000.0 + 0.5) / 1000000.0 AS dsir_weight
    FROM toks t
    LEFT JOIN tgt tg USING (b)
    JOIN src s USING (b)
    CROSS JOIN nt CROSS JOIN ns
    GROUP BY t.doc_id, t.lang
    """,
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169): score
    every document by how target-like its hashed n-gram features are —
    the mean log-ratio of target vs source likelihood under two
    Laplace-smoothed hashed-unigram models ({DSIR_BUCKETS} md5 buckets;
    target = lang='{DSIR_TARGET_LANG}' here, any predicate works).
    Sampling ∝ exp(weight) reproduces the paper's importance resampling;
    emitting the weight keeps the op deterministic and oracle-gated.

    Scale shape: the feature space is FIXED-width ({DSIR_BUCKETS} rows),
    so both distribution tables and the two corpus totals are broadcasts
    — the token stream joins them map-side and the only shuffle is the
    per-doc mean. Hashed features are the paper's own trick for exactly
    this reason: the model size is independent of vocabulary growth.
    Float caveat: ln() of identical doubles may differ 1 ulp across
    libm implementations; the 1e-6 output quantization sits ~9 orders
    above (the q_unigram_nll-proven margin)."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("tok"))
        .withColumn("h", F.md5(F.col("tok").cast("binary")))
        .withColumn(
            "b",
            F.expr("instr('0123456789abcdef', substring(h, 1, 1)) - 1") * 16
            + F.expr("instr('0123456789abcdef', substring(h, 2, 1)) - 1"),
        )
        .drop("h", "tok")
    )
    tgt = (
        toks.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("b")
        .agg(F.count("*").alias("ct"))
    )
    src = toks.groupBy("b").agg(F.count("*").alias("cs"))
    nt = toks.filter(F.col("lang") == DSIR_TARGET_LANG).agg(
        F.count("*").alias("n_t")
    )
    ns = toks.agg(F.count("*").alias("n_s"))
    log_ratio = F.log(
        ((F.coalesce(F.col("ct"), F.lit(0)) + 1.0) / (F.col("n_t") + float(DSIR_BUCKETS)))
        / ((F.col("cs") + 1.0) / (F.col("n_s") + float(DSIR_BUCKETS)))
    )
    return (
        toks.join(F.broadcast(tgt), "b", "left")
        .join(F.broadcast(src), "b")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(ns))
        .groupBy("doc_id", "lang")
        .agg(qround(F.avg(log_ratio), 6).alias("dsir_weight"))
    )


PMI_MIN_COUNT = 5
PMI_TOP = 100


@_q(
    "q_bigram_pmi",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    bg AS (
      SELECT doc_id, tok AS a,
             lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS b
      FROM toks
    ),
    pairs AS (
      SELECT a, b, count(*) AS c_ab FROM bg WHERE b IS NOT NULL GROUP BY a, b
    ),
    uni AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    tot AS (
      SELECT (SELECT sum(c_ab) FROM pairs) AS n_bi,
             (SELECT sum(c) FROM uni) AS n_uni
    )
    SELECT a, b, CAST(c_ab AS BIGINT) AS pair_count,
           floor(ln((c_ab / n_bi) / ((ua.c / n_uni) * (ub.c / n_uni)))
                 * 1000000.0 + 0.5) / 1000000.0 AS pmi
    FROM pairs
    JOIN uni ua ON pairs.a = ua.tok
    JOIN uni ub ON pairs.b = ub.tok
    CROSS JOIN tot
    WHERE c_ab >= {PMI_MIN_COUNT}
    ORDER BY pmi DESC, a, b
    LIMIT {PMI_TOP}
    """,
)
def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information over adjacent-token
    bigrams — the corpus-statistics pass behind tokenizer merges, multiword
    expression mining, and boilerplate detection.

    Scale shape: bigrams come from a JVM `transform(sequence(...))` over
    the split token array (no window, no UDF — the pairing is row-local);
    both the bigram and unigram count tables are vocab-bounded, so the two
    enrichment joins are AQE broadcasts; corpus totals are a 1-row
    broadcast. The only fact-sized shuffle is the initial pair count, and
    the final top-{PMI_TOP} is a TakeOrdered, not a full sort."""
    d = load_table(spark, sf_dir, "documents")
    toks_arr = F.split(F.col("text"), " ")
    # r18: pair off a pre-projected token array — the split-inside-the-
    # lambda form re-split the document once per bigram position (HOF
    # lambdas get no CSE; see llm_dedup.shingle_array). CollapseProject
    # keeps the _toks alias because it is referenced three times.
    bg = (
        d.select(toks_arr.alias("_toks"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_toks) - 1), "
                    "i -> struct(_toks[i-1] AS a, _toks[i] AS b))"
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )
    pairs = bg.groupBy("a", "b").agg(F.count("*").alias("c_ab"))
    uni = d.select(F.explode(toks_arr).alias("tok")).groupBy("tok").agg(
        F.count("*").alias("c")
    )
    tot = pairs.agg(F.sum("c_ab").alias("n_bi")).crossJoin(
        uni.agg(F.sum("c").alias("n_uni"))
    )
    ua = uni.select(F.col("tok").alias("a"), F.col("c").alias("ca"))
    ub = uni.select(F.col("tok").alias("b"), F.col("c").alias("cb"))
    pmi = F.log(
        (F.col("c_ab") / F.col("n_bi"))
        / ((F.col("ca") / F.col("n_uni")) * (F.col("cb") / F.col("n_uni")))
    )
    return (
        pairs.filter(F.col("c_ab") >= PMI_MIN_COUNT)
        .join(ua, "a")
        .join(ub, "b")
        .crossJoin(tot)
        .select(
            "a",
            "b",
            F.col("c_ab").cast("bigint").alias("pair_count"),
            qround(pmi, 6).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "a", "b")
        .limit(PMI_TOP)
    )


@_q(
    "q_length_histogram",
    """
    SELECT CAST(floor(log2(n_chars)) AS INT) AS bucket,
           CAST(power(2.0, floor(log2(n_chars))) AS BIGINT) AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE n_chars > 0
    GROUP BY 1, 2
    """,
)
def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed document-length histogram — the first chart anyone
    draws over a new corpus (truncation artifacts show as a spike at the
    cap bucket; boilerplate shows as mass in the short buckets; the
    curve's shape drives chunking and packing parameters).

    Pure scan-bound aggregation: the bucket is a row-local log2/floor on an
    existing column, the groupBy carries ~64 possible buckets, so the
    shuffle is a few dozen rows of partial aggregates regardless of corpus
    size — map-side combine does all the work."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    bucket = F.floor(F.log2("n_chars"))
    return d.groupBy(
        bucket.cast("int").alias("bucket"),
        F.pow(F.lit(2.0), bucket).cast("bigint").alias("bucket_lo"),
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@_q(
    "q_source_entropy",
    """
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY source, tok),
    tot AS (SELECT source, sum(c) AS n FROM tf GROUP BY source)
    SELECT source,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(any_value(n) AS BIGINT) AS n_tokens,
           floor(-sum((c / n) * ln(c / n)) * 1000000.0 + 0.5) / 1000000.0
               AS entropy_nats
    FROM tf JOIN tot USING (source)
    GROUP BY source
    """,
)
def q_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's token distribution (plus vocabulary
    size and token count) — the corpus-mixing diversity signal: a source
    whose entropy collapses is template spam; mixing weights that maximize
    blended entropy give broader coverage per training token.

    Scale shape: one (source, token) count shuffle — vocab-bounded per
    source — then a per-source total (|sources| rows, broadcast back) and
    the -Σ p·ln p reduction, map-side combinable. Nothing fact-sized moves
    after the first aggregate."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    tf = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
    tot = tf.groupBy("source").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    return (
        tf.join(F.broadcast(tot), "source")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("vocab"),
            F.any_value(F.col("n")).cast("bigint").alias("n_tokens"),
            qround(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
        )
    )


# BPE pair-counting parameters
BPE_TOP = 50


def _word_freqs(d: DataFrame) -> DataFrame:
    """Shared by q_bpe_pairs / q_bpe_train: the (tok, wfreq) word table
    (tokens of >= 2 chars — 1-char tokens can never produce a pair)."""
    return (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.length("tok") >= 2)
        .groupBy("tok")
        .agg(F.count("*").alias("wfreq"))
    )


@_q(
    "q_bpe_pairs",
    f"""
    WITH words AS (
      SELECT tok, count(*) AS wfreq
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE len(tok) >= 2
      GROUP BY tok
    ),
    pairs AS (
      SELECT substr(tok, i, 1) AS a, substr(tok, i + 1, 1) AS b,
             sum(wfreq) AS pair_count
      FROM words, unnest(range(1, len(tok))) AS t(i)
      GROUP BY 1, 2
    )
    SELECT a, b, CAST(pair_count AS BIGINT) AS pair_count
    FROM pairs
    ORDER BY pair_count DESC, a, b
    LIMIT {BPE_TOP}
    """,
)
def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-trainer merge step: corpus-weighted adjacent character-pair
    counts, ranked — the top pair is the next merge a byte-pair-encoding
    tokenizer would learn. Iterating this op (merge, re-pair, recount) IS
    BPE training; the single gated step exercises the whole plan shape.

    Scale shape — the same trick real BPE trainers use: pairs are
    generated over the DISTINCT word table (vocab-bounded by Heaps' law)
    weighted by word frequency, never over the raw corpus, so the
    expensive explode runs on ~1M rows even at 100 TB. One corpus-sized
    shuffle (the word count), one vocab-sized shuffle (the pair sum), and
    a TakeOrdered top-{BPE_TOP}; ties rank deterministically by (a, b)."""
    words = _word_freqs(load_table(spark, sf_dir, "documents"))
    pairs = words.select(
        "wfreq",
        F.explode(
            F.expr(
                "transform(sequence(1, length(tok) - 1), "
                "i -> struct(substr(tok, i, 1) AS a, substr(tok, i + 1, 1) AS b))"
            )
        ).alias("p"),
    ).select("wfreq", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    return (
        pairs.groupBy("a", "b")
        .agg(F.sum("wfreq").cast("bigint").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "a", "b")
        .limit(BPE_TOP)
    )


# Zipf fit: number of top-ranked tokens entering the regression
ZIPF_TOP = 1000


@_q(
    "q_zipf_slope",
    f"""
    WITH freq AS (
      SELECT tok, count(*) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    ),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r
      FROM freq
    )
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           floor(regr_slope(ln(c), ln(r)) * 1000000.0 + 0.5) / 1000000.0
               AS zipf_slope,
           floor(regr_r2(ln(c), ln(r)) * 1000000.0 + 0.5) / 1000000.0 AS r2
    FROM ranked WHERE r <= {ZIPF_TOP}
    """,
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: the slope of ln(freq) vs
    ln(rank) for the top {ZIPF_TOP} tokens (natural text sits near -1;
    template spam and synthetic soup deviate) plus the fit's R² — a
    one-row corpus-health fingerprint that detects generation artifacts
    and boilerplate floods without reading a single document twice.

    Scale shape: the token count is the only corpus-sized shuffle; the
    top-{ZIPF_TOP} slice is a TakeOrdered (distributed), the rank window
    runs over just that slice, and the regression aggregates are
    map-side-combinable closed-form sums. regr_slope/regr_r2 evaluate
    the same closed form in both engines; per-statistic rounding absorbs
    the summation-order ulps exactly as q_stats_agg's corr does."""
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    # TakeOrdered pulls the top slice distributed-ly; the global rank
    # window then runs over only ZIPF_TOP rows (a global no-partition
    # window over the full vocab would serialize it into one task)
    top = freq.orderBy(F.col("c").desc(), "tok").limit(ZIPF_TOP)
    w = Window.orderBy(F.col("c").desc(), "tok")
    ranked = top.withColumn("r", F.row_number().over(w))
    return ranked.agg(
        F.count("*").cast("bigint").alias("n_points"),
        qround(F.regr_slope(F.log("c"), F.log("r")), 6).alias("zipf_slope"),
        qround(F.regr_r2(F.log("c"), F.log("r")), 6).alias("r2"),
    )


OOV_VOCAB_K = 20  # vocab size BELOW the corpus vocabulary (31 distinct
# tokens) so the OOV branch really fires — at 500 every token was
# in-vocab and the oracle verified the operator vacuously


@_q(
    "q_oov_rate",
    f"""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, count(*) AS freq FROM toks GROUP BY tok
        ORDER BY freq DESC, tok LIMIT {OOV_VOCAB_K}
      )
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN vocab.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           floor((sum(CASE WHEN vocab.tok IS NULL THEN 1.0 ELSE 0.0 END)
                  / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS oov_rate
    FROM toks LEFT JOIN vocab USING (tok)
    GROUP BY source
    """,
)
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against the corpus's own
    top-``OOV_VOCAB_K`` token vocabulary — the tokenizer-coverage readout run before freezing
    a vocab (a source with high OOV will fragment into bytes/UNKs).

    Vocabulary selection is deterministic (count desc, token asc) so the
    rank-K boundary can't flip cross-engine on ties.

    Scale shape: token counting is map-side combinable and vocab-bounded;
    the top-k is a TakeOrdered slice of the count table; the vocab joins
    back BROADCAST (K rows) onto the token stream, so the only fact-
    scale shuffle is the per-source final aggregate — |sources| rows."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), "tok")
        .limit(OOV_VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            qround(
                F.sum(
                    F.when(F.col("in_vocab").isNull(), 1.0).otherwise(0.0)
                )
                / F.count("*"),
                6,
            ).alias("oov_rate"),
        )
    )


FREQ_SKETCH_K = 5  # heavy hitters reported per source


@_q("q_freq_topk_sketch")  # rows-only: sketch estimates are approximate by design
def q_freq_topk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source heavy hitters via the approx_top_k sketch — the
    constant-memory companion to the exact q_vocab_top: each partition
    tracks a bounded item map and the maps MERGE, so the shuffle carries
    one sketch per partition instead of the full (source, token) count
    table. The 100 TB form of "top tokens per source".

    Exactness contract: with maxItemsTracked >= the true distinct-token
    count the estimates ARE exact (tested against the exact counts at
    test SF); at scale the 10k cap bounds memory and the counts become
    upper-bound estimates — which is why this key is rows-only.

    Output is exploded to scalar columns (driver canonicalizer forbids
    array/struct cells): source, rank, token, est_count."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    sk = toks.groupBy("source").agg(
        F.expr(f"approx_top_k(tok, {FREQ_SKETCH_K}, 10000)").alias("topk")
    )
    ranked = sk.select(
        "source", F.posexplode("topk").alias("pos", "entry")
    )
    return ranked.select(
        "source",
        (F.col("pos") + 1).cast("int").alias("rank"),
        F.col("entry.item").alias("token"),
        F.col("entry.count").cast("bigint").alias("est_count"),
    )


@_q(
    "q_freq_topk_exact",
    f"""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    counts AS (
      SELECT source, token, count(*) AS n_count FROM toks GROUP BY source, token
    )
    SELECT source, CAST(rn AS INT) AS rank, token,
           CAST(n_count AS BIGINT) AS n_count
    FROM (
      SELECT source, token, n_count,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_count DESC, token) AS rn
      FROM counts
    )
    WHERE rn <= {FREQ_SKETCH_K}
    """,
)
def q_freq_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source heavy hitters — the oracle-gated twin of
    q_freq_topk_sketch (which stays rows-only because approx_top_k
    estimates carry no cross-engine contract). Same question, exact
    answer: full (source, token) counts, deterministic (count desc,
    token) tie-break, top {FREQ_SKETCH_K} per source.

    Scale shape: the groupBy(source, token) count is map-side combined,
    so the shuffle carries the distinct (source, token) table (Heaps'-law
    bounded — ~1M distinct tokens per source at 100 TB), not the token
    stream; the rank window partitions by source, so no task ever sees
    more than one source's count table. When even the distinct table is
    too hot, the sketch variant (constant-memory merge) is the documented
    degradation — tests/test_text.py pins sketch == exact at test SF,
    which is exactly the contract this key makes driver-visible."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("token"))
    counts = toks.groupBy("source", "token").agg(F.count("*").alias("n_count"))
    w = Window.partitionBy("source").orderBy(F.col("n_count").desc(), "token")
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= FREQ_SKETCH_K)
        .select(
            "source",
            F.col("rank").cast("int").alias("rank"),
            "token",
            F.col("n_count").cast("bigint").alias("n_count"),
        )
    )


def bpe_train(words: DataFrame, n_merges: int = 10) -> DataFrame:
    """Full iterative BPE training over a (tok, wfreq) word-frequency table:
    repeat [count adjacent symbol pairs -> take the most frequent ->
    merge it everywhere] n_merges times. Returns a lazy
    (merge_rank, left, right, pair_count) frame of the learned merges in
    merge order — the Sennrich et al. trainer loop, of which q_bpe_pairs is
    one gated step.

    The loop state is the word-type table, bounded by the vocabulary
    (Heaps' law — ~1M rows at 100 TB), not the corpus; the corpus is
    touched ONCE, upstream, to build the word frequencies. So the whole
    loop runs as ONE grouped-map task on a constant key, in Python:
    - each word starts as its tuple of characters; equal symbol tuples
      share one count;
    - argmax is (count desc, left, right) over exact integer counts —
      Python str order is Spark's UTF-8 byte order, so ties break as they
      would in Spark;
    - merge is a left-to-right, non-overlapping scan, exactly like the
      reference trainer. A word that has fully merged into one symbol
      yields no pairs and stays.
    No step launches a Spark job, and the driver sees no rows. ``train``
    is nested so it ships to the executor by value."""

    def train(pdf):
        import pandas as pd

        cur: dict[tuple, int] = {}
        for tok, f in zip(pdf["tok"].tolist(), pdf["wfreq"].tolist()):
            cur[tuple(tok)] = cur.get(tuple(tok), 0) + f
        merges = []
        for rank in range(1, n_merges + 1):
            counts: dict[tuple, int] = {}
            for syms, f in cur.items():
                for pair in zip(syms, syms[1:]):
                    counts[pair] = counts.get(pair, 0) + f
            if not counts:
                break
            (a, b), c = min(counts.items(), key=lambda pc: (-pc[1], pc[0]))
            merges.append((rank, a, b, c))
            merged: dict[tuple, int] = {}
            for syms, f in cur.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                merged[tuple(out)] = merged.get(tuple(out), 0) + f
            cur = merged
        return pd.DataFrame(
            merges, columns=["merge_rank", "left", "right", "pair_count"]
        )

    return words.groupBy(F.lit("all")).applyInPandas(
        train, "merge_rank int, left string, right string, pair_count bigint"
    )


BPE_TRAIN_MERGES = 6


@_q("q_bpe_train")  # rows-only: iterative argmax loop is not single-query SQL
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full BPE trainer (bpe_train) as a gated key: the first
    BPE_TRAIN_MERGES learned merges in order — (rank, left, right,
    pair_count). Deterministic end to end (integer counts, lexicographic
    tiebreak), equivalence-tested against a pure-Python reference trainer
    in-engine; rows-only at the driver because the per-iteration argmax
    loop is not expressible as one SQL statement (same class as
    q_kmeans_clusters / q_pagerank)."""
    words = _word_freqs(load_table(spark, sf_dir, "documents"))
    return bpe_train(words, n_merges=BPE_TRAIN_MERGES)


BPEV_ROUNDS = 4  # unrolled merge rounds in the verified twin


def _bpe_train_verified_oracle() -> str:
    """Chained-CTE unroll of BPEV_ROUNDS BPE merge rounds (the
    q_pagerank_ranks / q_kmeans_verified move applied to the trainer
    loop). Word state is a STRING with every symbol wrapped in single
    spaces ('hello' -> ' h  e  l  l  o '), so applying merge (a, b) is one
    literal replace(' a  b ', ' ab ') — non-overlapping left-to-right in
    both engines, and the wrapping spaces make symbol boundaries exact
    (no prefix-collision: ' a  b ' cannot match inside symbol 'bx')."""
    parts = [
        """
    WITH words AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS wfreq
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE len(tok) >= 2
      GROUP BY tok
    ),
    w0 AS (
      SELECT wfreq,
             array_to_string(list_transform(string_split(tok, ''),
                                            c -> ' ' || c || ' '), '') AS w
      FROM words
    )"""
    ]
    for i in range(1, BPEV_ROUNDS + 1):
        parts.append(
            f""",
    c{i} AS (
      SELECT s[i] AS a, s[i + 1] AS b, CAST(sum(wfreq) AS BIGINT) AS c
      FROM (SELECT wfreq, string_split(trim(w), '  ') AS s FROM w{i - 1}),
           unnest(range(1, len(s))) t(i)
      GROUP BY 1, 2
    ),
    t{i} AS (SELECT a, b, c FROM c{i} ORDER BY c DESC, a, b LIMIT 1)"""
        )
        if i < BPEV_ROUNDS:
            parts.append(
                f""",
    w{i} AS (
      SELECT wfreq,
             replace(w, ' ' || t{i}.a || '  ' || t{i}.b || ' ',
                     ' ' || t{i}.a || t{i}.b || ' ') AS w
      FROM w{i - 1}, t{i}
    )"""
            )
    selects = "\n      UNION ALL ".join(
        f'SELECT {i} AS merge_rank, a AS "left", b AS "right", '
        f"c AS pair_count FROM t{i}"
        for i in range(1, BPEV_ROUNDS + 1)
    )
    parts.append(
        f"""
    SELECT CAST(merge_rank AS INT) AS merge_rank, "left", "right", pair_count
    FROM ({selects})"""
    )
    return "".join(parts)


@_q("q_bpe_train_verified", _bpe_train_verified_oracle())
def q_bpe_train_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gated BPE trainer: the first BPEV_ROUNDS merge rounds of the
    count -> argmax -> merge LOOP unrolled so DuckDB replays the whole
    training path bit-for-bit (q_bpe_train's hash-gated mechanism twin —
    q_bpe_encode gates application, q_bpe_pairs gates one count step; this
    gates the iteration itself, the q_pagerank_ranks / q_kmeans_verified
    move). In-engine, tests pin these rows == the first rows of the
    production trainer (bpe_train), closing the loop: driver gate ->
    verified twin == production path.

    Mechanism: word state is a string with each symbol wrapped in single
    spaces; merge (a, b) is the literal replace(' a  b ' -> ' ab '), whose
    left-to-right non-overlapping scan is exactly the BPE merge rule (and
    identical in both engines — probed: ' a  a  a  a ' + merge (a,a) ->
    ' aa  aa '). Pair counts re-split the state (split on double space),
    argmax is deterministic (count desc, left, right) over exact integer
    counts. Unlike bpe_train's in-task Python loop, the twin is fully
    declarative: each round's top pair is a 1-row broadcast crossJoin,
    never driver state.

    100 TB shape: the corpus is touched once (word-frequency groupBy,
    map-side combined, Heaps'-bounded output); each unrolled round is a
    vocab-table scan + a groups-bounded pair count + a 1-row broadcast.
    localCheckpoint per round truncates the lineage (graph.py:18
    discipline)."""
    words = _word_freqs(load_table(spark, sf_dir, "documents"))
    enc = F.expr(
        "concat_ws('', transform(split(tok, ''), c -> concat(' ', c, ' ')))"
    )
    cur = words.select("wfreq", enc.alias("w")).localCheckpoint()
    tops: list[DataFrame] = []
    for i in range(1, BPEV_ROUNDS + 1):
        syms = cur.select(
            "wfreq", F.split(F.trim("w"), "  ").alias("s")
        ).filter(F.size("s") >= 2)
        pairs = syms.select(
            "wfreq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(s) - 1), "
                    "i -> struct(s[i - 1] AS a, s[i] AS b))"
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("wfreq").cast("bigint").alias("c"))
            .orderBy(F.col("c").desc(), "a", "b")
            .limit(1)
            .localCheckpoint()
        )
        tops.append(
            top.select(
                F.lit(i).cast("int").alias("merge_rank"),
                F.col("a").alias("left"),
                F.col("b").alias("right"),
                F.col("c").alias("pair_count"),
            )
        )
        if i < BPEV_ROUNDS:
            cur = (
                cur.crossJoin(F.broadcast(top))
                .select(
                    "wfreq",
                    F.replace(
                        "w",
                        F.concat(
                            F.lit(" "),
                            F.col("a"),
                            F.lit("  "),
                            F.col("b"),
                            F.lit(" "),
                        ),
                        F.concat(
                            F.lit(" "), F.col("a"), F.col("b"), F.lit(" ")
                        ),
                    ).alias("w"),
                )
                .localCheckpoint()
            )
    out = tops[0]
    for t in tops[1:]:
        out = out.unionByName(t)
    return out


@_q(
    "q_lang_confusion",
    f"""
    WITH pred AS (
      SELECT lang,
             CASE
               WHEN {_contains_any_sql("text", _LANG_MARKERS["de"])} THEN 'de'
               WHEN {_contains_any_sql("text", _LANG_MARKERS["es"])} THEN 'es'
               WHEN {_contains_any_sql("text", _LANG_MARKERS["fr"])} THEN 'fr'
               WHEN {_contains_any_sql("text", _LANG_MARKERS["en"])} THEN 'en'
               ELSE 'und'
             END AS lang_pred
      FROM documents
    )
    SELECT lang AS lang_true, lang_pred,
           CAST(count(*) AS BIGINT) AS n,
           floor((count(*) / CAST(sum(count(*)) OVER (PARTITION BY lang)
                                  AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
               AS row_share
    FROM pred
    GROUP BY lang_true, lang_pred
    """,
)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation at corpus scale: the confusion matrix of the
    stopword-marker language identifier against the labeled lang column,
    with per-true-language row shares (the recall diagonal) — the
    standing eval every heuristic classifier in a pipeline needs watched
    (marker drift shows up here before it corrupts a training mix).

    Scale shape: prediction is scan-bound token-set containment; the
    matrix is |langs|² cells map-side combined; row shares are a window
    over those cells."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")

    def has_any(words):
        cond = F.lit(False)
        for w in words:
            cond = cond | F.array_contains(toks, w)
        return cond

    pred = (
        F.when(has_any(_LANG_MARKERS["de"]), "de")
        .when(has_any(_LANG_MARKERS["es"]), "es")
        .when(has_any(_LANG_MARKERS["fr"]), "fr")
        .when(has_any(_LANG_MARKERS["en"]), "en")
        .otherwise("und")
    )
    cells = (
        d.select(F.col("lang").alias("lang_true"), pred.alias("lang_pred"))
        .groupBy("lang_true", "lang_pred")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    from pyspark.sql import Window as W

    share = F.col("n") / F.sum("n").over(W.partitionBy("lang_true")).cast("double")
    return cells.select(
        "lang_true", "lang_pred", "n", qround(share, 6).alias("row_share")
    )


FILTER_SWEEP_MIN_TOKENS = (10, 20, 40, 60, 80)


@_q(
    "q_filter_sweep",
    f"""
    WITH scored AS (
      SELECT len(string_split(text, ' ')) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS distinct_ratio
      FROM documents
    ),
    sweep AS (
      SELECT min_tokens, n_tokens, distinct_ratio
      FROM scored, unnest({list(FILTER_SWEEP_MIN_TOKENS)!r}) AS t(min_tokens)
    )
    SELECT CAST(min_tokens AS INT) AS min_tokens,
           CAST(sum(CASE WHEN n_tokens >= min_tokens THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           floor((sum(CASE WHEN n_tokens >= min_tokens THEN 1.0 ELSE 0.0 END)
                  / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS kept_share,
           floor(coalesce(avg(CASE WHEN n_tokens >= min_tokens
                                   THEN distinct_ratio END), 0.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS kept_mean_diversity
    FROM sweep
    GROUP BY min_tokens
    """,
)
def q_filter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-threshold tuning sweep: for each candidate minimum-length
    cutoff, how much corpus survives and how diverse the survivors are —
    the one-pass parameter sweep run before freezing a quality filter
    (q_quality_score applies ONE threshold; this shows the whole
    tradeoff curve so the threshold is chosen with evidence).

    Scale shape: features are computed once per doc, then a tiny
    threshold dimension fans each doc into |thresholds| sweep rows inside
    the same pass (Expand, no re-scan); the result is |thresholds|
    rows."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scored = d.select(
        F.size(toks).alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "distinct_ratio"
        ),
    )
    thresholds = spark.createDataFrame(
        [(t,) for t in FILTER_SWEEP_MIN_TOKENS], "min_tokens INT"
    )
    kept = F.col("n_tokens") >= F.col("min_tokens")
    return (
        scored.crossJoin(F.broadcast(thresholds))
        .groupBy("min_tokens")
        .agg(
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            qround(
                F.sum(F.when(kept, 1.0).otherwise(0.0)) / F.count("*"), 6
            ).alias("kept_share"),
            qround(
                F.coalesce(
                    F.avg(F.when(kept, F.col("distinct_ratio"))), F.lit(0.0)
                ),
                6,
            ).alias("kept_mean_diversity"),
        )
    )


