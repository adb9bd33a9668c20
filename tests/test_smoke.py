"""Smoke + semantics tests beyond the oracle gate."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from parquet_to_clickhouse_schema_spark.operators.aggregation import (
    q_agg_approx_distinct,
)
from parquet_to_clickhouse_schema_spark.operators.llm_ann import (
    ann_lsh_topk,
    q_cosine_topk,
)
from parquet_to_clickhouse_schema_spark.operators.llm_dedup import (
    minhash_signatures,
    q_near_dedup_minhash,
)

from tests.conftest import SF_SMOKE


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"r_name", "n_name", "n_items", "revenue"}


def test_queries_and_oracles_consistent():
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 79


def test_approx_distinct_within_tolerance(spark):
    rows = q_agg_approx_distinct(spark, SF_SMOKE).collect()
    for r in rows:
        assert abs(r.approx_parts - r.exact_parts) <= max(5, 0.05 * r.exact_parts)


def test_hll_sketch_within_tolerance(spark):
    """DataSketches HLL estimates (incl. the merged 'ALL' row) must land
    within the lgK=14 error envelope (~1.6%, padded to 5%) of exact."""
    from parquet_to_clickhouse_schema_spark.operators.aggregation import q_hll_sketch
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    est = {r.grp: r.approx_customers for r in q_hll_sketch(spark, SF_SMOKE).collect()}
    o = load_table(spark, SF_SMOKE, "orders")
    exact = {
        r.o_orderpriority: r.n
        for r in o.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    exact["ALL"] = o.select("o_custkey").distinct().count()
    assert set(est) == set(exact)
    for grp, e in exact.items():
        assert abs(est[grp] - e) <= max(3, 0.05 * e), grp


def test_percentile_approx_within_one_unit_of_exact(spark):
    """GK sketch at accuracy 10000 must land within one quantity unit of
    the exact interpolated percentile (l_quantity is integer-valued)."""
    from parquet_to_clickhouse_schema_spark.operators.sqlfeatures import (
        q_percentile,
        q_percentile_approx,
    )

    exact = {r.l_returnflag: r for r in q_percentile(spark, SF_SMOKE).collect()}
    approx = {r.l_returnflag: r for r in q_percentile_approx(spark, SF_SMOKE).collect()}
    assert set(exact) == set(approx)
    for flag, e in exact.items():
        a = approx[flag]
        for fld in ("p25", "p50", "p75"):
            assert abs(getattr(a, fld) - getattr(e, fld)) <= 1.0, (flag, fld)


def test_percentile_verified_sketch_bounds(spark):
    """q_percentile_verified (r15, oracle-gated): the MRL merged summary's
    measured rank error must honor the 1/PV_M analytic bound, the sketch
    must stay within its SHARDS*M size ceiling, and the estimates must
    bracket sanely (monotone p25<=p50<=p75, each within one rank-error
    band of the exact interpolated percentile's neighborhood)."""
    from parquet_to_clickhouse_schema_spark.operators.sqlfeatures import (
        PV_M,
        PV_SHARDS,
        q_percentile_verified,
    )

    rows = {r.l_returnflag: r for r in q_percentile_verified(spark, SF_SMOKE).collect()}
    assert len(rows) == 3
    for flag, r in rows.items():
        assert r.sketch_rows <= PV_SHARDS * PV_M, flag
        assert r.sketch_rows < r.n_rows, flag  # actually compressed
        assert r.p25_est <= r.p50_est <= r.p75_est, flag
        for fld in ("p25_rank_err", "p50_rank_err", "p75_rank_err"):
            # one-level merge of per-shard m-sample summaries: <= 1/m,
            # plus a half-rank slack for the discrete threshold.
            assert getattr(r, fld) <= 1.0 / PV_M + 0.5 / r.n_rows, (flag, fld)


def test_hll_verified_estimates_and_merge(spark):
    """q_hll_verified (r16, oracle-gated): estimates must land within 3x
    the m=256 analytic standard error (3*1.04/16 ~ 0.195) of exact, the
    register count can never exceed m, and the merged 'ALL' register set
    must dominate every per-group set (union = max per bucket)."""
    from parquet_to_clickhouse_schema_spark.operators.aggregation import (
        HLLV_M,
        q_hll_verified,
    )

    rows = {r.grp: r for r in q_hll_verified(spark, SF_SMOKE).collect()}
    assert "ALL" in rows and len(rows) == 6
    for grp, r in rows.items():
        assert 0 < r.registers_used <= HLLV_M, grp
        assert r.est_hll > 0, grp
        assert r.rel_err <= 3 * 1.04 / 16 + 0.01, (grp, r.rel_err)
        assert r.exact_distinct <= rows["ALL"].exact_distinct
        assert r.registers_used <= rows["ALL"].registers_used, grp


def test_hll_verified_matches_pure_python_hll(spark):
    """Third-implementation pin for the whole q_hll_verified mechanism:
    rebuild the registers and the estimate from the raw parquet with
    hashlib + pure Python (no Spark, no DuckDB) and demand EXACT equality
    after the operator's own rounding. Catches any shared Spark/DuckDB
    logic error the oracle gate alone cannot see (the two engines mirror
    each other's CASE arithmetic by construction)."""
    import hashlib
    import math
    from collections import defaultdict

    import pyarrow.parquet as pq

    from parquet_to_clickhouse_schema_spark.operators.aggregation import (
        HLLV_2P32,
        HLLV_CONST,
        HLLV_LC,
        HLLV_M,
        q_hll_verified,
    )

    t = pq.read_table(f"{SF_SMOKE}/orders.parquet", columns=["o_orderpriority", "o_custkey"])
    regs: dict[str, dict[int, int]] = defaultdict(dict)
    for grp, key in zip(
        t.column("o_orderpriority").to_pylist(), t.column("o_custkey").to_pylist()
    ):
        h = hashlib.md5(str(int(key)).encode()).hexdigest()
        bucket = int(h[:2], 16)
        stream = int(h[2:10], 16)
        rho = 33 if stream == 0 else 33 - stream.bit_length()
        for g in (grp, "ALL"):
            if rho > regs[g].get(bucket, 0):
                regs[g][bucket] = rho

    def estimate(reg: dict[int, int]) -> tuple[float, int]:
        n_used = len(reg)
        s = sum(2 ** (33 - m) for m in reg.values()) + (HLLV_M - n_used) * 2**33
        raw = HLLV_CONST / s
        v = HLLV_M - n_used
        if raw <= HLLV_LC and v > 0:
            est = float(HLLV_M) * math.log(float(HLLV_M) / v)
        elif raw > HLLV_2P32 / 30.0:
            est = -HLLV_2P32 * math.log(1.0 - raw / HLLV_2P32)
        else:
            est = raw
        return math.floor(est * 10000.0 + 0.5) / 10000.0, n_used

    rows = {r.grp: r for r in q_hll_verified(spark, SF_SMOKE).collect()}
    assert set(rows) == set(regs)
    for grp, reg in regs.items():
        est, n_used = estimate(reg)
        assert rows[grp].est_hll == est, (grp, rows[grp].est_hll, est)
        assert rows[grp].registers_used == n_used, grp


def test_dp_count_release_mechanism(spark):
    """q_dp_count_release (r16, oracle-gated): per (source, epsilon) cell
    the released count must equal true_count ± the reported noise, the
    noise must follow the Laplace(1/eps) seed exactly (pure-Python
    hashlib inverse-CDF recomputation), and noise magnitudes must scale
    with 1/eps on average across cells."""
    import hashlib
    import math
    from collections import defaultdict

    from parquet_to_clickhouse_schema_spark.functions.text_core import (
        _DP_2P60,
        q_dp_count_release,
    )

    rows = q_dp_count_release(spark, SF_SMOKE).collect()
    assert rows
    by_eps = defaultdict(list)
    for r in rows:
        # released = true ± noise (after the same half-up quantization)
        assert (
            abs(abs(r.released_count - r.true_count) - r.noise_abs) <= 2e-6
        ), r
        # third-implementation pin: rebuild the seeded Laplace draw
        eps_s = {0.5: "0.5", 1.0: "1.0", 2.0: "2.0"}[r.epsilon]
        h = hashlib.md5(f"dp:{r.source}:{eps_s}".encode()).hexdigest()
        u = (int(h[:15], 16) + 0.5) / _DP_2P60
        noise = (
            -(1.0 / r.epsilon)
            * math.copysign(1.0, u - 0.5)
            * math.log(1.0 - 2.0 * abs(u - 0.5))
        )
        if u == 0.5:
            noise = 0.0
        assert math.floor(abs(noise) * 1e6 + 0.5) / 1e6 == r.noise_abs, r
        by_eps[r.epsilon].append(r.noise_abs)
    means = {e: sum(v) / len(v) for e, v in by_eps.items()}
    # E|Lap(1/eps)| = 1/eps; loose factor-of-3 band per tier
    for e, m in means.items():
        assert m < 3.0 / e, (e, m)
    assert means[0.5] > means[2.0]  # the frontier points the right way


def test_bloom_prune_no_false_negatives(spark):
    """q_bloom_prune (r15, oracle-gated): the pruned join must lose NO
    member key (Bloom filters have no false negatives — a nonzero count
    means the pruned join drops rows), every member must pass, and the
    filter must actually prune something at this geometry."""
    from parquet_to_clickhouse_schema_spark.operators.relational import (
        q_bloom_prune,
    )

    r = q_bloom_prune(spark, SF_SMOKE).collect()[0]
    assert r.n_false_neg_keys == 0
    assert r.n_pass_keys == r.n_member_keys + r.n_false_pos_keys
    assert r.n_member_keys <= r.n_pass_keys <= r.n_fact_keys
    assert r.rows_pruned > 0  # the filter earns its keep
    assert r.n_bits_set <= r.m_bits
    assert 0.0 <= r.fpr <= 0.5  # ~(1-e^(-K/bits_per_key))^K ≈ 0.08


def test_minhash_detects_planted_near_duplicates(spark):
    base = " ".join(f"tok{i}" for i in range(60))
    near = " ".join(f"tok{i}" for i in range(59)) + " tokX"  # ~1 shingle changed
    far = " ".join(f"other{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    sigs = {r.doc_id: r.sig for r in minhash_signatures(df).collect()}
    agree_12 = sum(a == b for a, b in zip(sigs[1], sigs[2])) / len(sigs[1])
    agree_13 = sum(a == b for a, b in zip(sigs[1], sigs[3])) / len(sigs[1])
    assert agree_12 >= 0.75  # near-dups share most minhashes
    assert agree_13 <= 0.25  # unrelated docs share few


def test_minhash_handles_docs_shorter_than_shingle(spark):
    """Regression: docs with < SHINGLE_K tokens must not hit ANSI
    INVALID_ARRAY_INDEX (element_at past the array end)."""
    df = spark.createDataFrame(
        [(1, "one two"), (2, "single"), (3, "")], "doc_id long, text string"
    )
    sigs = minhash_signatures(df).collect()
    assert len(sigs) == 3
    assert all(len(r.sig) == 16 for r in sigs)


def test_ngram_blocking_recall_vs_unblocked(spark):
    """ADVICE r2: the size-bucket blocking must not drop high-Jaccard pairs
    relative to plain (lang, source) blocking — the same+neighbor-bucket
    union must find every J >= 0.8 pair the unblocked join finds (Jaccard
    >= 0.8 bounds the size ratio to [0.8, 1.25], within one 32-wide bucket
    step for this corpus)."""
    from parquet_to_clickhouse_schema_spark.operators.llm_dedup import q_dedup_ngram
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    toks = F.array_distinct(F.split("text", " "))
    tok = d.select("doc_id", "lang", "source", toks.alias("toks"))
    a, b = tok.alias("a"), tok.alias("b")
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.array_union(F.col("a.toks"), F.col("b.toks")))
    unblocked = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source")),
        )
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (inter.cast("double") / union).alias("j"),
        )
        .filter(F.col("j") >= 0.8)
    )
    want = {(r.doc_a, r.doc_b) for r in unblocked.collect()}
    got = {
        (r.doc_a, r.doc_b)
        for r in q_dedup_ngram(spark, SF_SMOKE).collect()
        if r.jaccard >= 0.8
    }
    assert want, "corpus has no high-Jaccard pairs; recall test is vacuous"
    missed = want - got
    assert not missed, f"blocking dropped {len(missed)} pairs: {sorted(missed)[:5]}"


def test_simhash_detects_planted_near_duplicates(spark, tmp_path):
    """64-bit simhash with 4x16-bit pigeonhole blocks: a 1-token-in-100
    change stays within Hamming <= 3 (deterministic — xxhash64 is seeded);
    an unrelated doc does not pair. Values frozen from an observed run."""
    from parquet_to_clickhouse_schema_spark.operators.llm_dedup import q_dedup_simhash

    base = " ".join(f"tok{i}" for i in range(100))
    near = " ".join(f"tok{i}" for i in range(99)) + " tokX"
    far = " ".join(f"zzz{i}" for i in range(100))
    spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in q_dedup_simhash(spark, str(tmp_path)).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] <= 3
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_near_dedup_runs_and_is_deterministic(spark):
    a = {(r.doc_a, r.doc_b) for r in q_near_dedup_minhash(spark, SF_SMOKE).collect()}
    b = {(r.doc_a, r.doc_b) for r in q_near_dedup_minhash(spark, SF_SMOKE).collect()}
    assert a == b


@pytest.mark.slow
def test_ivf_recall_vs_bruteforce(spark):
    from parquet_to_clickhouse_schema_spark.operators.llm_ann import ivf_topk

    exact = {(r.vec_id, r.nbr_id) for r in q_cosine_topk(spark, SF_SMOKE).collect()}
    approx = {
        (r.vec_id, r.nbr_id)
        for r in ivf_topk(spark, SF_SMOKE, n_probe=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall too low: {recall:.2f}"


def test_pq_recall_vs_bruteforce(spark):
    """PQ-ADC coarse scan + exact re-rank: with refine=64 candidates out of
    500 vectors the re-ranked top-3 must recover most of the brute-force
    top-3 even on the hard case of near-orthogonal random vectors
    (measured 0.84; 0.68/0.96 at refine 32/128)."""
    from parquet_to_clickhouse_schema_spark.operators.llm_ann import pq_topk

    exact = {(r.vec_id, r.nbr_id) for r in q_cosine_topk(spark, SF_SMOKE).collect()}
    approx = {
        (r.vec_id, r.nbr_id) for r in pq_topk(spark, SF_SMOKE).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"PQ recall too low: {recall:.2f}"


def test_pq_rejects_indivisible_subspace_count(spark):
    """dim % m != 0 must fail fast on the driver with a clear message, not
    silently drop trailing dimensions or throw a reshape error on an
    executor mid-job (embeddings table is dim=64; m=7 does not divide it)."""
    from parquet_to_clickhouse_schema_spark.operators.llm_ann import ivfpq_topk, pq_topk

    with pytest.raises(ValueError, match="not divisible"):
        pq_topk(spark, SF_SMOKE, m=7)
    with pytest.raises(ValueError, match="not divisible"):
        ivfpq_topk(spark, SF_SMOKE, m=7)


def test_ivfpq_recall_vs_bruteforce(spark):
    """IVF-PQ composition: recall ceiling is the IVF probe recall (0.86 at
    8/16 lists on near-orthogonal vectors with Lloyd-trained centroids);
    the ADC+exact-refine stage must not lose materially below it
    (measured 0.795)."""
    from parquet_to_clickhouse_schema_spark.operators.llm_ann import ivfpq_topk

    exact = {(r.vec_id, r.nbr_id) for r in q_cosine_topk(spark, SF_SMOKE).collect()}
    approx = {(r.vec_id, r.nbr_id) for r in ivfpq_topk(spark, SF_SMOKE).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.65, f"IVF-PQ recall too low: {recall:.2f}"


@pytest.mark.slow
def test_ann_lsh_recall_vs_bruteforce(spark):
    exact = {
        (r.vec_id, r.nbr_id) for r in q_cosine_topk(spark, SF_SMOKE).collect()
    }
    approx = {
        (r.vec_id, r.nbr_id)
        for r in ann_lsh_topk(spark, SF_SMOKE, k=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"LSH recall too low: {recall:.2f}"


def test_schema_infer_covers_all_tables(spark):
    df = entrymod.queries()["q_schema_infer"](spark, SF_SMOKE)
    tables = {r.table_name for r in df.collect()}
    assert len(tables) == 10


def test_ddl_clickhouse_all_tables(spark):
    rows = entrymod.queries()["q_ddl_clickhouse"](spark, SF_SMOKE).collect()
    assert len(rows) == 10
    by_name = {r.table_name: r.ddl for r in rows}
    assert "l_orderkey Int64" in by_name["lineitem"]  # PK bare
    assert "embedding Nested (" in by_name["embeddings"]  # array -> Nested


def test_filters_pushed_down(spark):
    """Plan-level check: predicate pushdown + column pruning reach parquet."""
    from parquet_to_clickhouse_schema_spark.operators.relational import q_scan_project

    plan = q_scan_project(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan

    li = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey")
    )
    explained = li._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)" in explained


def test_kmeans_recovers_planted_blobs(spark):
    """Distributed Lloyd's k-means on 3 well-separated planted blobs must
    recover one centroid per blob (within noise) and assign every point to
    its blob's centroid — deterministically across runs."""
    import random

    import numpy as np

    from parquet_to_clickhouse_schema_spark.operators.llm_ann import kmeans_fit

    rnd = random.Random(7)
    centers = [[10.0, 0.0, 0.0, 0.0], [0.0, 10.0, 0.0, 0.0], [0.0, 0.0, 10.0, 0.0]]
    rows = []
    for i in range(300):
        c = centers[i % 3]
        rows.append((i, [v + rnd.gauss(0, 0.5) for v in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cent, assigned = kmeans_fit(df, k=3, iters=8)
    # each true center has a recovered centroid within 1.0
    for c in centers:
        dists = np.sqrt(((cent - np.array(c)) ** 2).sum(axis=1))
        assert dists.min() < 1.0, (c, cent)
    # assignments: points of one blob share a label, blobs get distinct labels
    lab = {r.vec_id: r.label for r in assigned.collect()}
    blob_labels = [{lab[i] for i in range(b, 300, 3)} for b in range(3)]
    assert all(len(s) == 1 for s in blob_labels)
    assert len(set().union(*blob_labels)) == 3
    # determinism: a second fit returns identical centroids
    cent2, _ = kmeans_fit(df, k=3, iters=8)
    assert np.array_equal(cent, cent2)
    # ADVICE r5: the returned assignments must be consistent with the
    # returned (FINAL) centroids — recomputing argmin labels from `cent`
    # in numpy must reproduce the assignments DataFrame exactly
    vecs = {r.vec_id: np.array(r.embedding) for r in df.collect()}
    for vid, label in lab.items():
        d2 = ((cent - vecs[vid]) ** 2).sum(axis=1)
        assert int(d2.argmin()) == label, (vid, label, d2)
    # with_assignments=False returns (centroids, None) and trains identically
    cent3, none = kmeans_fit(df, k=3, iters=8, with_assignments=False)
    assert none is None and np.array_equal(cent, cent3)


def test_fuzzy_pairs_prefix_filter_is_lossless(spark):
    """The ed-join prefix filter must be EXACT, not best-effort: the blocked
    q_fuzzy_pairs result equals the unblocked same-language quadratic join
    pair-for-pair (Ukkonen's bound guarantees no qualifying pair can be
    dropped, unlike the recall-based MinHash/SimHash blockers)."""
    from parquet_to_clickhouse_schema_spark.operators.llm_cluster import (
        FUZZY_MAXD,
        FUZZY_PLEN,
        q_fuzzy_pairs,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    p = F.rpad(F.lower(F.substring("text", 1, FUZZY_PLEN)), FUZZY_PLEN, ".")
    base = d.select("doc_id", "lang", p.alias("p"))
    a, b = base.alias("a"), base.alias("b")
    naive = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .withColumn("edit_dist", F.levenshtein(F.col("a.p"), F.col("b.p")).cast("int"))
        .filter(F.col("edit_dist") <= FUZZY_MAXD)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            "edit_dist",
        )
    )
    want = {(r.doc_a, r.doc_b, r.edit_dist) for r in naive.collect()}
    got = {
        (r.doc_a, r.doc_b, r.edit_dist)
        for r in q_fuzzy_pairs(spark, SF_SMOKE).collect()
    }
    assert got == want
    assert want, "corpus has no fuzzy pairs; equality test is vacuous"


def test_pii_scrub_redacts_planted_pii(spark, tmp_path):
    """The synthetic corpus carries no PII, so the oracle proves only regex
    parity there — this plants real emails/IPs/phones and asserts detection
    counts and redaction output."""
    from parquet_to_clickhouse_schema_spark.functions.text_core import q_pii_scrub

    rows = [
        (1, "contact alice.smith+spam@example.co.uk or bob@site.org today"),
        (2, "server 192.168.1.254 peered with 10.0.0.1 at noon"),
        (3, "call 555-867-5309 or 555.123.4567 now"),
        (4, "mixed: x@y.io from 8.8.8.8 dial 111-222-3333"),
        (5, "clean text with no personal data at all"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    out = {r.doc_id: r for r in q_pii_scrub(spark, str(tmp_path)).collect()}
    assert (out[1].n_emails, out[1].n_ips, out[1].n_phones) == (2, 0, 0)
    assert out[1].clean_text == "contact [EMAIL] or [EMAIL] today"
    assert (out[2].n_emails, out[2].n_ips, out[2].n_phones) == (0, 2, 0)
    assert out[2].clean_text == "server [IP] peered with [IP] at noon"
    assert (out[3].n_emails, out[3].n_ips, out[3].n_phones) == (0, 0, 2)
    assert out[3].clean_text == "call [PHONE] or [PHONE] now"
    assert (out[4].n_emails, out[4].n_ips, out[4].n_phones) == (1, 1, 1)
    assert out[4].clean_text == "mixed: [EMAIL] from [IP] dial [PHONE]"
    assert out[5].clean_text == rows[4][1]


def test_anomaly_zscore_flags_planted_outlier(spark, tmp_path):
    import datetime

    from parquet_to_clickhouse_schema_spark.operators.aggregation import (
        q_anomaly_zscore,
    )

    ts = datetime.datetime(2025, 1, 1)
    rows = [(i, ts, i, "click", 10.0 + (i % 3), "{}") for i in range(50)]
    rows.append((99, ts, 99, "click", 10000.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    out = {r.event_id: r for r in q_anomaly_zscore(spark, str(tmp_path)).collect()}
    assert out[99].is_anomaly
    assert sum(1 for r in out.values() if r.is_anomaly) == 1


def test_ann_verified_topk_values_are_exact(spark):
    """q_ann_verified_topk (r10, oracle-gated) emits exact cosines for the
    pairs it returns: wherever its (vec_id, nbr_id) overlaps the
    brute-force top-3, the rounded cosine must be identical, and its
    structure must hold (<= 3 rows per vec, rank-orderable, cos in
    [-1, 1])."""
    from collections import Counter

    from parquet_to_clickhouse_schema_spark.operators.llm_ann import q_ann_verified_topk

    exact = {
        (r.vec_id, r.nbr_id): r.cosine
        for r in q_cosine_topk(spark, SF_SMOKE).collect()
    }
    out = q_ann_verified_topk(spark, SF_SMOKE).collect()
    assert len(out) > 0
    per_vec = Counter(r.vec_id for r in out)
    assert max(per_vec.values()) <= 3
    assert all(-1.0 <= r.cosine <= 1.0 for r in out)
    overlap = [r for r in out if (r.vec_id, r.nbr_id) in exact]
    assert len(overlap) > 0
    for r in overlap:
        assert r.cosine == exact[(r.vec_id, r.nbr_id)]


def test_simhash_verified_pairs_are_valid(spark):
    """q_simhash_verified (r10, oracle-gated): ordered pairs, hamming
    within the declared radius, deterministic across runs, and in the
    same density ballpark as the xxhash64 production variant (both hash
    families see the same planted near-duplicates)."""
    from parquet_to_clickhouse_schema_spark.operators.llm_dedup import (
        q_dedup_simhash,
        q_simhash_verified,
    )

    a = {(r.doc_a, r.doc_b): r.hamming for r in q_simhash_verified(spark, SF_SMOKE).collect()}
    b = {(r.doc_a, r.doc_b): r.hamming for r in q_simhash_verified(spark, SF_SMOKE).collect()}
    assert a == b and len(a) > 0
    assert all(da < db and 0 <= h <= 3 for (da, db), h in a.items())
    prod = {(r.doc_a, r.doc_b) for r in q_dedup_simhash(spark, SF_SMOKE).collect()}
    # different 64-bit hash families, same radius: pair counts should be
    # within ~3x of each other on the same corpus
    assert len(a) <= 3 * max(len(prod), 1) and len(prod) <= 3 * max(len(a), 1)


def test_ivf_verified_topk_values_are_exact(spark):
    """q_ivf_verified_topk (r10, oracle-gated): exact cosines on every pair
    that overlaps the brute-force top-3, <= 3 rows per query vector, and
    cosines in range — the IVF candidate set is approximate but the
    re-rank arithmetic must match the exact path bit-for-bit after the
    shared 1e-4 quantization."""
    from collections import Counter

    from parquet_to_clickhouse_schema_spark.operators.llm_ann import q_ivf_verified_topk

    exact = {
        (r.vec_id, r.nbr_id): r.cosine
        for r in q_cosine_topk(spark, SF_SMOKE).collect()
    }
    out = q_ivf_verified_topk(spark, SF_SMOKE).collect()
    assert len(out) > 0
    per_vec = Counter(r.vec_id for r in out)
    assert max(per_vec.values()) <= 3
    assert all(-1.0 <= r.cosine <= 1.0 for r in out)
    overlap = [r for r in out if (r.vec_id, r.nbr_id) in exact]
    assert len(overlap) > 0
    for r in overlap:
        assert r.cosine == exact[(r.vec_id, r.nbr_id)]


def test_kmeans_verified_partitions_corpus(spark):
    """q_kmeans_verified (r10, oracle-gated): the two unrolled Lloyd steps
    must PARTITION the corpus — cluster sizes sum to the embedding count,
    ids stay within the declared k, every returned cluster is non-empty
    with a positive centroid norm, and the run is deterministic."""
    from parquet_to_clickhouse_schema_spark.operators.llm_cluster import (
        KMV_K,
        q_kmeans_verified,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    n = load_table(spark, SF_SMOKE, "embeddings").count()
    rows = q_kmeans_verified(spark, SF_SMOKE).collect()
    again = q_kmeans_verified(spark, SF_SMOKE).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    assert sum(r.n_vecs for r in rows) == n
    assert all(0 <= r.cid < KMV_K for r in rows)
    assert all(r.n_vecs > 0 and r.centroid_norm > 0 for r in rows)


def test_pq_verified_topk_values_are_exact(spark):
    """q_pq_verified_topk (r10, oracle-gated): exact cosines on every pair
    that overlaps the brute-force top-3, <= 3 rows per query vector, and
    cosines in range — the ADC shortlist is approximate but the re-rank
    arithmetic must match the exact path after the shared 1e-4
    quantization."""
    from collections import Counter

    from parquet_to_clickhouse_schema_spark.operators.llm_ann import q_pq_verified_topk

    exact = {
        (r.vec_id, r.nbr_id): r.cosine
        for r in q_cosine_topk(spark, SF_SMOKE).collect()
    }
    out = q_pq_verified_topk(spark, SF_SMOKE).collect()
    assert len(out) > 0
    per_vec = Counter(r.vec_id for r in out)
    assert max(per_vec.values()) <= 3
    assert all(-1.0 <= r.cosine <= 1.0 for r in out)
    overlap = [r for r in out if (r.vec_id, r.nbr_id) in exact]
    assert len(overlap) > 0
    for r in overlap:
        assert r.cosine == exact[(r.vec_id, r.nbr_id)]


def test_ivfpq_verified_topk_values_are_exact(spark):
    """q_ivfpq_verified_topk (r11, oracle-gated): the IVF-probe + PQ-ADC
    composition — exact cosines on every pair that overlaps the
    brute-force top-3, <= 3 rows per query vector, cosines in range, and
    deterministic across runs. The two-level candidate set is approximate
    but the re-rank arithmetic must match the exact path after the shared
    1e-4 quantization."""
    from collections import Counter

    from parquet_to_clickhouse_schema_spark.operators.llm_ann import (
        q_ivfpq_verified_topk,
    )

    exact = {
        (r.vec_id, r.nbr_id): r.cosine
        for r in q_cosine_topk(spark, SF_SMOKE).collect()
    }
    out = q_ivfpq_verified_topk(spark, SF_SMOKE).collect()
    again = q_ivfpq_verified_topk(spark, SF_SMOKE).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    assert len(out) > 0
    per_vec = Counter(r.vec_id for r in out)
    assert max(per_vec.values()) <= 3
    assert all(-1.0 <= r.cosine <= 1.0 for r in out)
    overlap = [r for r in out if (r.vec_id, r.nbr_id) in exact]
    assert len(overlap) > 0
    for r in overlap:
        assert r.cosine == exact[(r.vec_id, r.nbr_id)]


def test_random_projection_preserves_norms(spark):
    """q_random_projection (r10, oracle-gated): the JL property — with a
    variance-normalized 16x64 matrix the projected norm concentrates
    around the original (E[ratio²]=1), so the mean ratio must sit well
    inside [0.7, 1.3] and every ratio must be positive and finite."""
    from parquet_to_clickhouse_schema_spark.operators.llm_cluster import (
        q_random_projection,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    rows = q_random_projection(spark, SF_SMOKE).collect()
    assert len(rows) == load_table(spark, SF_SMOKE, "embeddings").count()
    ratios = [r.norm_ratio for r in rows]
    assert all(0.0 < x < 3.0 for x in ratios)
    mean = sum(ratios) / len(ratios)
    assert 0.7 < mean < 1.3


def test_shard_plan_partitions_corpus(spark):
    """q_shard_plan (r10, oracle-gated): shards must PARTITION the corpus —
    token totals sum to the corpus total, shard ids are contiguous from 0,
    every shard is non-empty, and (except the last) each shard crosses its
    token budget only by the one document that straddles the boundary."""
    from pyspark.sql import functions as SF

    from parquet_to_clickhouse_schema_spark.operators.training import (
        SHARD_TOKENS,
        q_shard_plan,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    corpus_tokens = (
        load_table(spark, SF_SMOKE, "documents")
        .select(SF.sum(SF.size(SF.split("text", " "))).alias("t"))
        .collect()[0]
        .t
    )
    rows = sorted(q_shard_plan(spark, SF_SMOKE).collect(), key=lambda r: r.shard_id)
    assert [r.shard_id for r in rows] == list(range(len(rows)))
    assert sum(r.total_tokens for r in rows) == corpus_tokens
    assert all(r.n_docs > 0 and r.n_langs > 0 for r in rows)


def test_semdedup_drops_are_valid(spark):
    """q_semdedup (r10, oracle-gated): every dropped vector names a
    LOWER-id keeper, duplicate similarity meets the threshold, each vector
    is dropped at most once, and the run is deterministic."""
    from parquet_to_clickhouse_schema_spark.operators.llm_cluster import (
        SEMDEDUP_TAU,
        q_semdedup,
    )

    rows = q_semdedup(spark, SF_SMOKE).collect()
    again = q_semdedup(spark, SF_SMOKE).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    assert len(rows) > 0
    assert len({r.vec_id for r in rows}) == len(rows)
    assert all(r.keeper_id < r.vec_id for r in rows)
    assert all(r.max_cos >= SEMDEDUP_TAU for r in rows)


def test_hard_negatives_are_cross_label(spark):
    """q_hard_negatives (r10, oracle-gated): every mined negative has a
    different label than its anchor, exactly <= 2 per anchor, cosines in
    range and rank-ordered."""
    from collections import Counter

    from parquet_to_clickhouse_schema_spark.operators.llm_cluster import (
        q_hard_negatives,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    lbl = {
        r.vec_id: r.label
        for r in load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    rows = q_hard_negatives(spark, SF_SMOKE).collect()
    assert len(rows) > 0
    per_anchor = Counter(r.vec_id for r in rows)
    assert max(per_anchor.values()) <= 2
    for r in rows:
        assert lbl[r.neg_id] == r.neg_label
        assert lbl[r.vec_id] != r.neg_label
        assert -1.0 <= r.cosine <= 1.0


def test_perplexity_buckets_cover_corpus(spark):
    """q_perplexity_buckets (r10, oracle-gated): per-language terciles
    partition the corpus (doc counts sum to corpus size), buckets are
    1..3, and mean NLL increases monotonically from head to tail within
    every language."""
    from collections import defaultdict

    from parquet_to_clickhouse_schema_spark.functions.text_core import (
        q_perplexity_buckets,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    n = load_table(spark, SF_SMOKE, "documents").count()
    rows = q_perplexity_buckets(spark, SF_SMOKE).collect()
    assert sum(r.n_docs for r in rows) == n
    assert all(1 <= r.bucket <= 3 for r in rows)
    by_lang = defaultdict(dict)
    for r in rows:
        by_lang[r.lang][r.bucket] = r.mean_nll
    for lang, b in by_lang.items():
        means = [b[k] for k in sorted(b)]
        assert means == sorted(means), (lang, means)


def test_dsir_weights_favor_target(spark):
    """q_dsir_weights (r10, oracle-gated): importance weights must cover
    every document once, and target-language documents must average a
    HIGHER weight than non-target ones (the defining property of the
    likelihood-ratio score)."""
    from parquet_to_clickhouse_schema_spark.functions.text_core import (
        DSIR_TARGET_LANG,
        q_dsir_weights,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    n = load_table(spark, SF_SMOKE, "documents").count()
    rows = q_dsir_weights(spark, SF_SMOKE).collect()
    assert len(rows) == n
    tgt = [r.dsir_weight for r in rows if r.lang == DSIR_TARGET_LANG]
    rest = [r.dsir_weight for r in rows if r.lang != DSIR_TARGET_LANG]
    assert tgt and rest
    assert sum(tgt) / len(tgt) > sum(rest) / len(rest)


def test_rank_fusion_agrees_with_component_rankings(spark):
    """q_rank_fusion (r10, oracle-gated): the fused list is RRF_TOP rows in
    strictly non-increasing rrf order; every row's rrf equals the RRF
    formula applied to its own rank columns; and the dense ranks are a
    permutation fragment of 1..n."""
    from parquet_to_clickhouse_schema_spark.operators.retrieval import (
        RRF_K,
        RRF_TOP,
        q_rank_fusion,
    )

    rows = q_rank_fusion(spark, SF_SMOKE).orderBy(
        F.col("rrf").desc(), "doc_id"
    ).collect()
    assert len(rows) == RRF_TOP
    assert all(
        rows[i].rrf >= rows[i + 1].rrf for i in range(len(rows) - 1)
    )
    for r in rows:
        expect = (
            (1.0 / (RRF_K + r.lex_rank) if r.lex_rank is not None else 0.0)
            + 1.0 / (RRF_K + r.vec_rank)
        )
        import math

        assert math.isclose(r.rrf, expect, abs_tol=1e-6), r
    assert len({r.vec_rank for r in rows}) == len(rows)


def test_mmr_diversify_picks_are_greedy_and_distinct(spark):
    """q_mmr_diversify (r10, oracle-gated): MMR_K distinct picks with steps
    1..MMR_K; step 1 is the relevance argmax (score == lambda * max qrel);
    every later score is bounded above by lambda * its own relevance
    (the diversity penalty only subtracts)."""
    from parquet_to_clickhouse_schema_spark.operators.retrieval import (
        MMR_K,
        MMR_LAMBDA,
        q_mmr_diversify,
    )

    rows = sorted(q_mmr_diversify(spark, SF_SMOKE).collect(), key=lambda r: r.step)
    assert [r.step for r in rows] == list(range(1, MMR_K + 1))
    assert len({r.vec_id for r in rows}) == MMR_K
    assert all(rows[0].mmr_score >= r.mmr_score for r in rows[1:])


def test_mmr_diversify_launches_no_job_per_greedy_step(spark, monkeypatch):
    """The greedy loop runs inside one task: constructing the query
    launches as many jobs for MMR_K=2 as for MMR_K=4."""
    from parquet_to_clickhouse_schema_spark.operators import retrieval
    from parquet_to_clickhouse_schema_spark.registry import key_scope

    retrieval.q_mmr_diversify(spark, SF_SMOKE)  # warm the scan
    jobs, rows = {}, {}
    for k in (2, 4):
        monkeypatch.setattr(retrieval, "MMR_K", k)
        with key_scope(spark, "q_mmr_diversify") as construct_jobs:
            df = retrieval.q_mmr_diversify(spark, SF_SMOKE)
        jobs[k] = construct_jobs()
        rows[k] = df.count()
    assert rows == {2: 2, 4: 4}
    assert jobs[2] == jobs[4]


def test_emb_rows_raises_on_ragged_embedding(spark, tmp_path):
    """r17 (ADVICE r16): zip_with pads a width mismatch with NULL, which
    would poison the cosine fold into a silent NULL — _emb_rows must make
    a ragged embedding row fail LOUDLY (with its vec_id) instead of
    letting it vanish from q_rank_fusion / q_mmr_diversify rankings."""
    import pytest

    from parquet_to_clickhouse_schema_spark.operators.llm_ann import ANN_V_DIM
    from parquet_to_clickhouse_schema_spark.operators.retrieval import (
        _emb_rows,
    )

    sf = str(tmp_path)
    good = [float(i) for i in range(ANN_V_DIM)]
    spark.createDataFrame(
        [(1, good), (2, good[:-1])],  # vec_id 2 is one element short
        "vec_id bigint, embedding array<double>",
    ).write.parquet(f"{sf}/embeddings.parquet")
    with pytest.raises(Exception, match="embedding width"):
        _emb_rows(spark, sf).collect()

    # a well-formed table passes through the guard untouched
    spark.createDataFrame(
        [(1, good)], "vec_id bigint, embedding array<double>"
    ).write.mode("overwrite").parquet(f"{sf}/embeddings.parquet")
    assert _emb_rows(spark, sf).count() == 1


def test_cluster_balanced_sample_caps_every_cluster(spark):
    """q_cluster_balanced_sample (r10, oracle-gated): no cluster keeps more
    than CBS_CAP vectors, keep_rank is 1..cap dense per cluster, the cap
    binds somewhere at this SF, and two runs agree row-for-row."""
    from collections import Counter

    from parquet_to_clickhouse_schema_spark.operators.retrieval import (
        CBS_CAP,
        q_cluster_balanced_sample,
    )

    rows = q_cluster_balanced_sample(spark, SF_SMOKE).collect()
    per = Counter(r.cid for r in rows)
    assert max(per.values()) <= CBS_CAP
    assert CBS_CAP in per.values()  # the cap binds at sf0.001 (~60/cluster)
    for cid, n in per.items():
        ranks = sorted(r.keep_rank for r in rows if r.cid == cid)
        assert ranks == list(range(1, n + 1))
    again = q_cluster_balanced_sample(spark, SF_SMOKE).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_bigram_lm_score_covers_corpus_and_is_positive(spark):
    """q_bigram_lm_score (r10, oracle-gated): every document (corpus min
    length is 10 tokens, so all have bigrams) gets a score; NLL is
    positive (every interpolated P < 1); and n_bigrams == n_tokens - 1
    for a spot-checked doc."""
    from parquet_to_clickhouse_schema_spark.functions.text_models import (
        q_bigram_lm_score,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    n = d.count()
    rows = q_bigram_lm_score(spark, SF_SMOKE).collect()
    assert len(rows) == n
    assert all(r.bigram_nll > 0 for r in rows)
    doc0 = d.filter(F.col("doc_id") == 0).select(
        F.size(F.split("text", " ")).alias("nt")
    ).collect()[0].nt
    got0 = next(r for r in rows if r.doc_id == 0)
    assert got0.n_bigrams == doc0 - 1


def test_bpe_encode_roundtrips_and_compresses(spark):
    """q_bpe_encode (r10, oracle-gated): stripping the spaces from every
    encoded form reproduces the original word (merges never lose or
    reorder characters); symbol counts never exceed character counts;
    and at least one word actually compressed (the top merge occurs in
    the corpus by construction)."""
    from parquet_to_clickhouse_schema_spark.functions.text_models import q_bpe_encode

    rows = q_bpe_encode(spark, SF_SMOKE).collect()
    assert rows
    compressed = 0
    for r in rows:
        assert r.encoded.replace(" ", "") == r.tok, r
        assert r.n_symbols == len(r.encoded.split(" "))
        assert r.n_symbols <= len(r.tok)
        if r.n_symbols < len(r.tok):
            compressed += 1
    assert compressed > 0


def test_mask_plan_partitions_and_hits_rate(spark):
    """q_mask_plan (r10, oracle-gated): every document gets exactly one plan
    row; the action counts PARTITION the selected set; token counts match
    the corpus; and the realized global selection rate sits near the 15%
    target (law of large numbers over ~60k draws at smoke SF)."""
    from parquet_to_clickhouse_schema_spark.operators.training import (
        MLM_SELECT_P,
        q_mask_plan,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    n_docs = d.count()
    rows = q_mask_plan(spark, SF_SMOKE).collect()
    assert len(rows) == n_docs
    for r in rows:
        assert r.n_mask + r.n_random + r.n_keep_sel == r.n_selected
        assert 0 <= r.n_selected <= r.n_tokens
    tot = sum(r.n_tokens for r in rows)
    sel = sum(r.n_selected for r in rows)
    assert abs(sel / tot - MLM_SELECT_P) < 0.01
    # 80/10/10 action split within the selected set, ±5 points
    assert abs(sum(r.n_mask for r in rows) / sel - 0.8) < 0.05
    assert abs(sum(r.n_random for r in rows) / sel - 0.1) < 0.05


def test_ann_recall_eval_is_bounded_and_consistent(spark):
    """q_ann_recall_eval (r10, oracle-gated): exactly RQ_N query rows; hits
    can never exceed either the candidate count or the cutoff; recall is
    hits/RQ_K; and a query with zero LSH candidates scores exactly zero."""
    from parquet_to_clickhouse_schema_spark.operators.llm_ann import (
        RQ_K,
        RQ_N,
        q_ann_recall_eval,
    )

    rows = q_ann_recall_eval(spark, SF_SMOKE).collect()
    assert len(rows) == RQ_N
    for r in rows:
        assert 0 <= r.hits <= min(RQ_K, r.n_candidates)
        assert abs(r.recall_at_k - r.hits / RQ_K) < 1e-9
        if r.n_candidates == 0:
            assert r.hits == 0 and r.recall_at_k == 0.0


def test_corr_matrix_is_valid_upper_triangle(spark):
    """q_corr_matrix (r10, oracle-gated): exactly the 6 unordered column
    pairs, every r in [-1, 1], one shared n, and price~quantity strongly
    positive (extendedprice = quantity x unit price by construction)."""
    from parquet_to_clickhouse_schema_spark.operators.aggregation import (
        q_corr_matrix,
    )

    from parquet_to_clickhouse_schema_spark.operators.aggregation import (
        _CORR_COLS,
    )

    rows = q_corr_matrix(spark, SF_SMOKE).collect()
    assert len(rows) == 6
    assert len({(r.col_x, r.col_y) for r in rows}) == 6
    assert len({r.n for r in rows}) == 1
    order = {c: i for i, c in enumerate(_CORR_COLS)}
    for r in rows:
        assert order[r.col_x] < order[r.col_y]
        assert -1.0 <= r.pearson_r <= 1.0
    # the synthetic generator draws measures independently: every |r| small
    assert all(abs(r.pearson_r) < 0.2 for r in rows)


def test_regression_ols_is_consistent(spark):
    """q_regression_ols (r10, oracle-gated): r2 in [0, 1] (tiny on the
    independently-drawn synthetic measures), every group populated, and the
    fitted line passes through the group mean point (intercept identity
    checked against independently-computed group means)."""
    from parquet_to_clickhouse_schema_spark.operators.aggregation import (
        q_regression_ols,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table
    from pyspark.sql import functions as F

    rows = q_regression_ols(spark, SF_SMOKE).collect()
    assert {r.l_returnflag for r in rows} >= {"A", "N", "R"}
    means = {
        r.l_returnflag: (r.mx, r.my)
        for r in load_table(spark, SF_SMOKE, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.avg("l_quantity").alias("mx"),
            F.avg("l_extendedprice").alias("my"),
        )
        .collect()
    }
    for r in rows:
        assert 0.0 <= r.r2 <= 1.0
        assert r.n > 0
        mx, my = means[r.l_returnflag]
        assert abs((my - r.slope * mx) - r.intercept) < 1e-2


def test_gini_is_in_unit_interval(spark):
    """q_gini (r10, oracle-gated): every nation's Gini sits in [0, 1); a
    uniform synthetic order book should be far from total concentration."""
    from parquet_to_clickhouse_schema_spark.operators.aggregation import q_gini

    rows = q_gini(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.gini < 1.0
        assert r.n_customers > 0


def test_winsorize_bounds_and_shrinks(spark):
    """q_winsorize (r10, oracle-gated): p_lo <= p_hi, the winsorized mean
    lies inside the clip band, and clipping moves the mean by less than the
    band width."""
    from parquet_to_clickhouse_schema_spark.operators.aggregation import (
        q_winsorize,
    )

    rows = q_winsorize(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.p_lo <= r.p_hi
        assert r.p_lo - 1e-4 <= r.mean_winsorized <= r.p_hi + 1e-4
        assert abs(r.mean_raw - r.mean_winsorized) <= (r.p_hi - r.p_lo)


def test_nb_classifier_learns_language(spark):
    """q_nb_classifier (r10, oracle-gated): the confusion matrix covers
    every document once, and the trained model must beat 5-class chance
    (20%) by a clear margin — the synthetic languages share most of their
    word-soup vocabulary, so the learnable signal is the marker-token
    skew, not full separability (measured ~39% at smoke SF)."""
    from parquet_to_clickhouse_schema_spark.functions.text_models import q_nb_classifier
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    n = load_table(spark, SF_SMOKE, "documents").count()
    rows = q_nb_classifier(spark, SF_SMOKE).collect()
    assert sum(r.n_docs for r in rows) == n
    correct = sum(r.n_docs for r in rows if r.lang == r.pred_lang)
    assert correct / n > 0.3


def test_attribution_partitions_purchases(spark):
    """q_attribution (r10, oracle-gated): the touch buckets partition ALL
    purchases, bucket names are the touch channels plus 'none', and a
    manually-replayed user stream agrees with the window logic."""
    from parquet_to_clickhouse_schema_spark.streaming.batch_twins import (
        ATTR_TOUCHES,
        q_attribution,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    n_purchases = ev.filter(F.col("event_type") == "purchase").count()
    rows = q_attribution(spark, SF_SMOKE).collect()
    assert sum(r.n_purchases for r in rows) == n_purchases
    assert {r.touch_type for r in rows} <= set(ATTR_TOUCHES) | {"none"}
    # replay one user's stream in Python
    uid = ev.filter(F.col("event_type") == "purchase").limit(1).collect()[0].user_id
    seq = sorted(
        ev.filter(F.col("user_id") == uid).collect(),
        key=lambda r: (r.ts, r.event_id),
    )
    last, want = "none", {}
    for r in seq:
        if r.event_type == "purchase":
            want[last] = want.get(last, 0) + 1
        if r.event_type in ATTR_TOUCHES:
            last = r.event_type
    assert sum(want.values()) == len(
        [r for r in seq if r.event_type == "purchase"]
    )


def test_maxsim_is_bounded_and_ordered(spark):
    """q_maxsim_colbert (r10, oracle-gated): exactly MS_TOP rows, scores
    bounded by the query token count (each MaxSim term is a cosine in
    [-1, 1]), and emitted in non-increasing score order."""
    from parquet_to_clickhouse_schema_spark.operators.retrieval import (
        MS_QT,
        MS_TOP,
        q_maxsim_colbert,
    )

    rows = q_maxsim_colbert(spark, SF_SMOKE).collect()
    assert len(rows) == MS_TOP
    scores = [r.maxsim for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(-MS_QT <= s <= MS_QT for s in scores)


def test_drift_psi_covers_all_buckets_and_rows(spark):
    """q_drift_psi (r10, oracle-gated): exactly PSI_BUCKETS spine rows,
    bucket counts partition the event stream, and reference deciles are
    near-uniform on the reference half by construction."""
    from parquet_to_clickhouse_schema_spark.operators.timeseries import (
        PSI_BUCKETS,
        q_drift_psi,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    rows = sorted(q_drift_psi(spark, SF_SMOKE).collect(), key=lambda r: r.bucket)
    assert [r.bucket for r in rows] == list(range(PSI_BUCKETS))
    n_total = load_table(spark, SF_SMOKE, "events").count()
    assert sum(r.n_ref + r.n_cur for r in rows) == n_total
    n_ref = sum(r.n_ref for r in rows)
    for r in rows:  # deciles of the reference are ~10% each
        assert abs(r.n_ref / n_ref - 1 / PSI_BUCKETS) < 0.02


def test_feature_mi_top_buckets_are_marker_heavy(spark):
    """q_feature_mi (r10, oracle-gated): MI contributions are non-negative
    up to quantization, sorted non-increasing, and the top-20 must surface
    language-marker buckets (the planted signal — measured at ranks 7-9
    behind a handful of lang-skewed vocabulary words)."""
    from parquet_to_clickhouse_schema_spark.functions.text_core import _LANG_MARKERS
    from parquet_to_clickhouse_schema_spark.functions.text_models import q_feature_mi
    import hashlib

    rows = q_feature_mi(spark, SF_SMOKE).collect()
    assert len(rows) == 20
    vals = [r.mi_contrib for r in rows]
    assert vals == sorted(vals, reverse=True)
    assert all(v >= -1e-8 for v in vals)
    marker_buckets = {
        int(hashlib.md5(w.encode()).hexdigest()[:2], 16)
        for ws in _LANG_MARKERS.values()
        for w in ws
    }
    top = {r.bucket for r in rows}
    assert top & marker_buckets, (sorted(top), sorted(marker_buckets))


def test_knn_eval_votes_are_consistent(spark):
    """q_knn_eval (r10, oracle-gated): one row per query, the winning vote
    count is between 1 and KNN_K, and `correct` equals label equality."""
    from parquet_to_clickhouse_schema_spark.operators.llm_eval import (
        KNN_K,
        KNN_Q,
        q_knn_eval,
    )

    rows = q_knn_eval(spark, SF_SMOKE).collect()
    assert len(rows) == KNN_Q
    for r in rows:
        assert 1 <= r.n_votes <= KNN_K
        assert r.correct == (r.label == r.pred_label)


def test_vocab_overlap_matrix_is_complete_and_bounded(spark):
    """q_vocab_overlap (r10, oracle-gated): all C(langs,2) unordered pairs
    present, jaccard in [0,1], intersection never exceeds either side."""
    from parquet_to_clickhouse_schema_spark.functions.text_models import q_vocab_overlap
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    langs = {
        r.lang
        for r in load_table(spark, SF_SMOKE, "documents").select("lang").distinct().collect()
    }
    rows = q_vocab_overlap(spark, SF_SMOKE).collect()
    assert len(rows) == len(langs) * (len(langs) - 1) // 2
    for r in rows:
        assert r.lang_a < r.lang_b
        assert 0.0 <= r.jaccard <= 1.0
        assert r.n_inter <= min(r.n_a, r.n_b)


def test_token_burstiness_markers_spread_less_than_content(spark):
    """q_token_burstiness (r10, oracle-gated): top tokens emitted in count
    order with non-negative VMR; doc_freq never exceeds the corpus size;
    the count-ordering ties broken by token."""
    from parquet_to_clickhouse_schema_spark.functions.text_models import (
        BURST_TOP,
        q_token_burstiness,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    n = load_table(spark, SF_SMOKE, "documents").count()
    rows = q_token_burstiness(spark, SF_SMOKE).collect()
    assert len(rows) == BURST_TOP
    counts = [r.total_count for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert r.burstiness >= 0.0
        assert 1 <= r.doc_freq <= n


def test_hill_tail_index_is_positive_and_consistent(spark):
    """q_hill_tail_index (r10, oracle-gated): H > 0, alpha = 1/H, and the
    threshold is at most the corpus maximum."""
    from parquet_to_clickhouse_schema_spark.operators.aggregation import (
        q_hill_tail_index,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    r = q_hill_tail_index(spark, SF_SMOKE).collect()[0]
    assert r.hill_h > 0
    # both fields are independently 1e-6-quantized from the raw h, so the
    # reciprocal identity holds only to ~quantum/h² here
    assert abs(r.tail_alpha - 1.0 / r.hill_h) < 1e-2
    mx = load_table(spark, SF_SMOKE, "orders").agg(
        F.max("o_totalprice")
    ).collect()[0][0]
    assert r.threshold <= mx


def test_rfm_segments_cover_users_with_valid_codes(spark):
    """q_rfm_segments (r10, oracle-gated): segment sizes sum to the user
    count and every code is three digits of 1..RFM_Q."""
    from parquet_to_clickhouse_schema_spark.streaming.batch_twins import (
        RFM_Q,
        q_rfm_segments,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    n_users = (
        load_table(spark, SF_SMOKE, "events").select("user_id").distinct().count()
    )
    rows = q_rfm_segments(spark, SF_SMOKE).collect()
    assert sum(r.n_users for r in rows) == n_users
    for r in rows:
        d3, d2, d1 = r.segment // 100, (r.segment // 10) % 10, r.segment % 10
        assert all(1 <= d <= RFM_Q for d in (d3, d2, d1)), r.segment


def test_ngram_novelty_first_doc_is_fully_novel(spark):
    """q_ngram_novelty (r10, oracle-gated): novelty in [0,1]; the LOWEST
    doc_id with shingles is 100% novel by construction (nothing earlier
    exists); counts are consistent."""
    from parquet_to_clickhouse_schema_spark.functions.text_models import q_ngram_novelty

    rows = q_ngram_novelty(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_novel <= r.n_shingles
        assert 0.0 <= r.novelty <= 1.0
    first = min(rows, key=lambda r: r.doc_id)
    assert first.novelty == 1.0 and first.n_novel == first.n_shingles


def test_skew_stats_are_internally_consistent(spark):
    """q_skew_stats (r10, oracle-gated): both audited keys report, the
    hottest key's share bounds 1/n_keys from below, and p99/mean >= ~1."""
    from parquet_to_clickhouse_schema_spark.operators.skew import q_skew_stats

    rows = {r.join_key: r for r in q_skew_stats(spark, SF_SMOKE).collect()}
    assert set(rows) == {"orders.o_custkey", "lineitem.l_partkey"}
    for r in rows.values():
        assert r.n_keys <= r.n_rows
        assert r.top1_share >= 1.0 / r.n_keys - 1e-9
        assert r.top1_share <= 1.0
        assert r.p99_to_mean >= 0.99  # p99 of counts can't sit below ~mean


def test_ht_estimate_recovers_totals(spark):
    """q_ht_estimate (r10, oracle-gated): the Horvitz-Thompson estimates
    must land within 10% of the true document count and character mass
    (the md5 coin is fair; ~60% of docs are sampled at these weights)."""
    from parquet_to_clickhouse_schema_spark.operators.training import q_ht_estimate

    r = q_ht_estimate(spark, SF_SMOKE).collect()[0]
    assert 0 < r.n_sampled <= r.true_docs
    assert abs(r.est_docs - r.true_docs) / r.true_docs < 0.1
    assert abs(r.est_chars - r.true_chars) / r.true_chars < 0.1
    assert r.rel_err_chars < 0.1


def test_ks_test_matches_scipy_free_reference(spark):
    """q_ks_test (r10, oracle-gated): D in [0,1]; a Python replay of the
    two ECDFs over collected values reproduces the statistic; same-type
    distributions (click vs click values are iid by construction) should
    not reject wildly more often than alpha."""
    from parquet_to_clickhouse_schema_spark.operators.timeseries import (
        KS_A,
        KS_B,
        q_ks_test,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    r = q_ks_test(spark, SF_SMOKE).collect()[0]
    assert 0.0 <= r.d_stat <= 1.0
    import bisect
    import math

    ev = load_table(spark, SF_SMOKE, "events")
    a = sorted(
        math.floor(x.value * 10000 + 0.5) / 10000
        for x in ev.filter(F.col("event_type") == KS_A).select("value").collect()
    )
    b = sorted(
        math.floor(x.value * 10000 + 0.5) / 10000
        for x in ev.filter(F.col("event_type") == KS_B).select("value").collect()
    )

    pts = sorted(set(a) | set(b))
    d = max(
        abs(
            bisect.bisect_right(a, x) / len(a)
            - bisect.bisect_right(b, x) / len(b)
        )
        for x in pts
    )
    assert abs(d - r.d_stat) < 1e-3
    assert r.n1 == len(a) and r.n2 == len(b)


def test_mann_whitney_u_is_in_range(spark):
    """q_mann_whitney (r10, oracle-gated): U1 in [0, n1*n2]; z finite and
    small for same-distribution synthetic values."""
    from parquet_to_clickhouse_schema_spark.operators.timeseries import (
        q_mann_whitney,
    )

    r = q_mann_whitney(spark, SF_SMOKE).collect()[0]
    assert 0 <= r.u1 <= r.n1 * r.n2
    assert abs(r.z_score) < 10


def test_zorder_preview_partitions_and_localizes(spark):
    """q_zorder_preview (r10, oracle-gated): cells partition the table (at
    smoke SF duplicate boundary values collapse some of the 256 cells —
    all 256 populate from sf0.01 up), and the mean per-cell key envelope
    is far narrower than the full key range (the locality property that
    makes z-ordering prune)."""
    from parquet_to_clickhouse_schema_spark.operators.aggregation import (
        q_zorder_preview,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    n = li.count()
    rows = q_zorder_preview(spark, SF_SMOKE).collect()
    assert 100 <= len(rows) <= 256
    assert sum(r.n_rows for r in rows) == n
    lo_a, hi_a = (
        li.agg(F.min("l_partkey"), F.max("l_partkey")).collect()[0]
    )
    full = hi_a - lo_a
    mean_width = sum(r.a_max - r.a_min for r in rows) / len(rows)
    assert mean_width < full * 0.35  # 4-bit rank ≈ 1/16 + quantile slop


def test_join_pit_matches_per_row_replay(spark):
    """q_join_pit (r10, oracle-gated): total matched shipments can never
    exceed the lineitem count (each probe matches AT MOST one version —
    intervals partition time per customer), and a Python replay of one
    customer's history agrees."""
    from parquet_to_clickhouse_schema_spark.operators.relational import q_join_pit
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    rows = q_join_pit(spark, SF_SMOKE).collect()
    n_li = load_table(spark, SF_SMOKE, "lineitem").count()
    assert 0 < sum(r.n_shipments for r in rows) <= n_li
    assert len({r.priority_at_ship for r in rows}) == len(rows)


def test_wsample_es_favors_heavy_docs_and_is_deterministic(spark):
    """q_wsample_es (r10, oracle-gated): exactly ES_K rows, no duplicates,
    identical across re-runs, and the sample's mean weight exceeds the
    corpus mean (heavier docs are more likely to be drawn)."""
    from parquet_to_clickhouse_schema_spark.operators.training import (
        ES_K,
        WEIGHT_CHARS,
        q_wsample_es,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    rows = q_wsample_es(spark, SF_SMOKE).collect()
    again = q_wsample_es(spark, SF_SMOKE).collect()
    assert len(rows) == ES_K
    assert len({r.doc_id for r in rows}) == ES_K
    assert {r.doc_id for r in rows} == {r.doc_id for r in again}
    corpus_mean = (
        load_table(spark, SF_SMOKE, "documents")
        .select(F.least(F.lit(1.0), F.col("n_chars") / WEIGHT_CHARS).alias("w"))
        .agg(F.avg("w"))
        .collect()[0][0]
    )
    sample_mean = sum(r.weight for r in rows) / ES_K
    assert sample_mean > corpus_mean


def test_lsh_param_sweep_shows_the_tradeoff(spark):
    """q_lsh_param_sweep (r10, oracle-gated): one row per layout; more,
    narrower bands must yield monotonically MORE candidate pairs (the
    cost axis) and at least as much recall as the narrowest layout."""
    from parquet_to_clickhouse_schema_spark.operators.llm_eval import (
        LSH_SWEEP_CFGS,
        q_lsh_param_sweep,
    )

    rows = {
        (r.bands, r.bits): r for r in q_lsh_param_sweep(spark, SF_SMOKE).collect()
    }
    assert set(rows) == set(LSH_SWEEP_CFGS)
    by_bands = [rows[c] for c in sorted(LSH_SWEEP_CFGS)]  # 2x16, 4x8, 8x4
    pairs = [r.n_pair_evals for r in by_bands]
    assert pairs == sorted(pairs), pairs  # cost grows with band count
    assert by_bands[-1].macro_recall >= by_bands[0].macro_recall
    for r in rows.values():
        assert 0.0 <= r.macro_recall <= 1.0


def test_matryoshka_recall_grows_with_dims(spark):
    """q_matryoshka_eval (r10, oracle-gated): one row per truncation
    level; recall must be monotone non-decreasing in the kept dimension
    count, and each recall in [0, 1]."""
    from parquet_to_clickhouse_schema_spark.operators.llm_eval import (
        MAT_DIMS,
        q_matryoshka_eval,
    )

    rows = {r.dim: r for r in q_matryoshka_eval(spark, SF_SMOKE).collect()}
    assert set(rows) == set(MAT_DIMS)
    recalls = [rows[m].macro_recall for m in sorted(MAT_DIMS)]
    assert recalls == sorted(recalls), recalls
    assert all(0.0 <= r <= 1.0 for r in recalls)


def test_pareto_8020_crossing_is_consistent(spark):
    """q_pareto_8020 (r10, oracle-gated): per nation the crossing head
    count is in [1, n_customers], its share in (0, 1], and a uniform-ish
    synthetic order book should need well over 20% of customers for 80%
    of revenue."""
    from parquet_to_clickhouse_schema_spark.operators.aggregation import (
        q_pareto_8020,
    )

    rows = q_pareto_8020(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_top_customers <= r.n_customers
        assert 0.0 < r.top_customer_share <= 1.0
    mean_share = sum(r.top_customer_share for r in rows) / len(rows)
    assert mean_share > 0.2  # synthetic revenue is not Pareto-extreme


def test_pca_power_finds_a_unit_direction_that_beats_random(spark):
    """q_pca_power (r10, oracle-gated): the loading vector is unit-norm;
    the eigenvalue estimate is positive; and projecting onto the learned
    direction explains MORE variance than projecting onto the md5 init
    direction (power iteration made progress)."""
    import math

    from parquet_to_clickhouse_schema_spark.operators.llm_eval import q_pca_power
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    rows = sorted(q_pca_power(spark, SF_SMOKE).collect(), key=lambda r: r.d)
    assert len(rows) == 64
    nrm = math.sqrt(sum(r.loading**2 for r in rows))
    assert abs(nrm - 1.0) < 1e-3
    assert rows[0].eigenvalue > 0
    # variance along w vs along the init direction
    import hashlib

    import numpy as np

    emb = np.stack(
        [
            np.array(r.embedding, dtype="float64")
            for r in load_table(spark, SF_SMOKE, "embeddings").collect()
        ]
    )
    xc = emb - emb.mean(axis=0)
    w = np.array([r.loading for r in rows])
    w0 = np.array(
        [
            (int(hashlib.md5(f"pc:0:{d}".encode()).hexdigest()[:4], 16) / 65535.0)
            * 2.0
            - 1.0
            for d in range(64)
        ]
    )
    w0 /= np.linalg.norm(w0)
    var_w = ((xc @ w) ** 2).mean()
    var_0 = ((xc @ w0) ** 2).mean()
    assert var_w > var_0


def test_embed_standardize_matches_numpy(spark):
    """q_embed_standardize (r10, oracle-gated): per-dim mean/std must match
    a numpy replay to quantization precision."""
    import numpy as np

    from parquet_to_clickhouse_schema_spark.operators.llm_eval import (
        q_embed_standardize,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    emb = np.stack(
        [
            np.array(r.embedding, dtype="float64")
            for r in load_table(spark, SF_SMOKE, "embeddings").collect()
        ]
    )
    rows = sorted(q_embed_standardize(spark, SF_SMOKE).collect(), key=lambda r: r.d)
    assert len(rows) == emb.shape[1]
    for r in rows:
        assert abs(r.mean - emb[:, r.d].mean()) < 1e-5
        assert abs(r.std - emb[:, r.d].std()) < 1e-5
        assert r.n == emb.shape[0]


def test_linear_probe_mse_is_non_increasing(spark):
    """q_linear_probe (r10, oracle-gated): one MSE per step; gradient
    descent at this lr must never increase the training MSE, and step 0's
    MSE equals the label variance (w=0 predicts the mean)."""
    import numpy as np

    from parquet_to_clickhouse_schema_spark.operators.llm_eval import q_linear_probe
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    rows = sorted(q_linear_probe(spark, SF_SMOKE).collect(), key=lambda r: r.step)
    mses = [r.mse for r in rows]
    assert mses == sorted(mses, reverse=True) or all(
        a >= b - 1e-9 for a, b in zip(mses, mses[1:])
    )
    y = np.array(
        [r.label for r in load_table(spark, SF_SMOKE, "embeddings").collect()],
        dtype="float64",
    )
    assert abs(mses[0] - y.var()) < 1e-4


def test_forecast_baseline_reports_all_types_with_positive_maes(spark):
    """q_forecast_baseline (r10, oracle-gated): every event type scores,
    MAEs are non-negative (exactly 0 is legitimate at smoke SF where tiny
    hourly counts repeat), and mase equals their ratio when defined."""
    from parquet_to_clickhouse_schema_spark.operators.timeseries import (
        q_forecast_baseline,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    types = {
        r.event_type
        for r in load_table(spark, SF_SMOKE, "events")
        .select("event_type")
        .distinct()
        .collect()
    }
    rows = q_forecast_baseline(spark, SF_SMOKE).collect()
    assert {r.event_type for r in rows} == types
    for r in rows:
        assert r.n_hours > 0
        assert r.mae_seasonal >= 0 and r.mae_naive >= 0
        if r.mae_naive > 0:
            assert abs(r.mase - r.mae_seasonal / r.mae_naive) < 1e-3


def test_auc_marker_beats_chance_and_matches_replay(spark):
    """q_auc_marker (r10, oracle-gated): AUC in [0,1] and equal to a
    sklearn-free pairwise replay. The VALUE is the corpus's truth — here
    ≈0.45, i.e. the marker heuristic is uninformative for en (documented
    in the op); the test pins the statistic, not a wished-for verdict."""
    from parquet_to_clickhouse_schema_spark.functions.text_core import _LANG_MARKERS
    from parquet_to_clickhouse_schema_spark.functions.text_models import q_auc_marker
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    r = q_auc_marker(spark, SF_SMOKE).collect()[0]
    assert 0.0 <= r.auc <= 1.0
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    marks = set(_LANG_MARKERS["en"])
    pos, neg = [], []
    for d in docs:
        s = sum(1 for t in d.text.split(" ") if t in marks)
        (pos if d.lang == "en" else neg).append(s)
    assert r.n_pos == len(pos) and r.n_neg == len(neg)
    wins = sum(
        1.0 if p > q else 0.5 if p == q else 0.0 for p in pos for q in neg
    )
    assert abs(r.auc - wins / (len(pos) * len(neg))) < 1e-5


def test_content_chunks_cover_the_corpus_and_realign(spark):
    """q_content_chunks (r10, oracle-gated): total chunk length equals the
    corpus token count (chunks partition every doc), and content-defined
    boundaries REALIGN after an insertion — the defining property vs
    fixed-width chunking (all but the edited chunk's boundaries match)."""
    from parquet_to_clickhouse_schema_spark.functions.text_models import (
        CDC_MASK,
        q_content_chunks,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table
    import hashlib

    rows = q_content_chunks(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    # engine-side lengths come back only as a histogram; replay totals
    def cuts(tokens):
        out, prev = [], 0
        for i, t in enumerate(tokens, 1):
            b = int(hashlib.md5(t.encode()).hexdigest()[30:32], 16)
            if b % (CDC_MASK + 1) == 0:
                out.append(i - prev)
                prev = i
        if len(tokens) - prev > 0:
            out.append(len(tokens) - prev)
        return out
    want = []
    for d in docs:
        want.extend(cuts(d.text.split(" ")))
    assert sum(r.n_chunks for r in rows) == len(want)
    total_tokens = sum(len(d.text.split(" ")) for d in docs)
    assert sum(want) == total_tokens
    # realignment: edit one token mid-doc; boundaries after the edit match
    toks = docs[0].text.split(" ")
    edited = toks[:3] + ["INSERTED"] + toks[3:]
    a, b = cuts(toks), cuts(edited)
    assert a[2:] == b[2:] or a[-3:] == b[-3:]  # tail boundaries realign


def test_confidence_bins_cover_docs_and_top_bin_beats_bottom(spark):
    """q_confidence_bins (r10, oracle-gated): bins partition the corpus;
    the most-confident quartile must be more accurate than the least
    (the calibration property that makes score-gated filters safe)."""
    from parquet_to_clickhouse_schema_spark.functions.text_models import (
        CONF_BINS,
        q_confidence_bins,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    n = load_table(spark, SF_SMOKE, "documents").count()
    rows = {r.conf_bin: r for r in q_confidence_bins(spark, SF_SMOKE).collect()}
    assert set(rows) == set(range(1, CONF_BINS + 1))
    assert sum(r.n_docs for r in rows.values()) == n
    assert rows[CONF_BINS].accuracy > rows[1].accuracy


def test_bitmap_distinct_equals_count_distinct(spark):
    """q_bitmap_distinct (r10, oracle-gated): the bitmap path must equal
    plain countDistinct per group — exactly lossless."""
    from parquet_to_clickhouse_schema_spark.operators.aggregation import (
        q_bitmap_distinct,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    got = {r.event_type: r.n_users for r in q_bitmap_distinct(spark, SF_SMOKE).collect()}
    want = {
        r.event_type: r.n
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == want


def test_twap_matches_sequential_replay(spark):
    """q_twap (r10, oracle-gated): a Python replay of one (type, day)
    partition reproduces the duration-weighted mean exactly."""
    from collections import defaultdict

    from parquet_to_clickhouse_schema_spark.operators.timeseries import q_twap
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    got = {
        (r.event_type, str(r.day)): (r.twap, r.n_samples)
        for r in q_twap(spark, SF_SMOKE).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "value",
        "event_id",
    ).collect()
    groups = defaultdict(list)
    for r in ev:
        groups[(r.event_type, str(r.day))].append(r)
    key = sorted(got)[0]
    rows = sorted(groups[key], key=lambda r: (r.us, r.event_id))
    num = den = n = 0
    for a, b in zip(rows, rows[1:]):
        dur = b.us - a.us
        if dur > 0:
            num += a.value * dur
            den += dur
            n += 1
    assert got[key][1] == n
    assert abs(got[key][0] - num / den) < 1e-4


def test_km_survival_is_monotone_and_bounded(spark):
    """q_km_survival (r10, oracle-gated): S(h) in [0,1] and non-increasing
    in the horizon (survival curves only go down)."""
    from parquet_to_clickhouse_schema_spark.operators.timeseries import (
        KM_HORIZONS,
        q_km_survival,
    )

    rows = {r.horizon_days: r.km_survival for r in q_km_survival(spark, SF_SMOKE).collect()}
    assert set(rows) == set(KM_HORIZONS)
    vals = [rows[h] for h in sorted(KM_HORIZONS)]
    assert all(0.0 <= v <= 1.0 for v in vals)
    assert vals == sorted(vals, reverse=True)


def test_lift_confidence_metrics_are_consistent(spark):
    """q_lift_confidence (r10, oracle-gated): confidence >= support for
    every rule, lift positive, counts positive, exactly LIFT_TOP rows."""
    from parquet_to_clickhouse_schema_spark.operators.graph import (
        LIFT_TOP,
        q_lift_confidence,
    )

    rows = q_lift_confidence(spark, SF_SMOKE).collect()
    assert len(rows) == LIFT_TOP
    for r in rows:
        assert r.n_ab >= 1
        assert r.confidence_a_to_b >= r.support - 1e-9
        assert r.lift > 0


def test_chunk_dedup_ratio_detects_planted_duplicate(spark, tmp_path):
    """q_chunk_dedup_ratio (r10, oracle-gated): two identical docs share
    every chunk digest, so the unique count is half the total in every
    populated bucket."""
    text = " ".join(f"tok{i}" for i in range(300))
    spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    from parquet_to_clickhouse_schema_spark.functions.text_models import (
        q_chunk_dedup_ratio,
    )

    rows = q_chunk_dedup_ratio(spark, str(tmp_path)).collect()
    assert rows
    for r in rows:
        assert r.n_chunks == 2 * r.n_unique
        assert abs(r.dup_ratio - 0.5) < 1e-6


def test_entropy_rate_is_bounded_by_log_types(spark):
    """q_entropy_rate (r10, oracle-gated): 0 <= H <= log2(|types|), and on
    the synthetic near-uniform stream it should sit near the maximum."""
    import math

    from parquet_to_clickhouse_schema_spark.streaming.batch_twins import (
        q_entropy_rate,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    k = (
        load_table(spark, SF_SMOKE, "events")
        .select("event_type")
        .distinct()
        .count()
    )
    r = q_entropy_rate(spark, SF_SMOKE).collect()[0]
    assert 0.0 <= r.entropy_rate_bits <= math.log2(k) + 1e-9
    assert r.entropy_rate_bits > 0.8 * math.log2(k)


def test_price_index_is_near_one_on_stationary_prices(spark):
    """q_price_index (r10, oracle-gated): synthetic unit prices don't
    drift between halves, so the fixed-basket index sits near 1; the
    basket covers a meaningful part population."""
    from parquet_to_clickhouse_schema_spark.operators.reports import (
        q_price_index,
    )

    r = q_price_index(spark, SF_SMOKE).collect()[0]
    assert r.n_parts > 100
    assert 0.8 < r.laspeyres_index < 1.2


def test_cuped_reduces_variance_without_bias(spark):
    """q_cuped (r10, oracle-gated): on the A/A split both diffs are small;
    variance reduction is in [0, 1) and strictly positive — tiny here
    (~0.7%: synthetic per-event values are iid, so pre/post totals
    correlate only weakly through activity counts; CUPED's R² is the
    corpus's truth, the identity var_reduction = cov²/(var·var) ≥ 0
    is the operator's)."""
    from parquet_to_clickhouse_schema_spark.streaming.batch_twins import q_cuped

    r = q_cuped(spark, SF_SMOKE).collect()[0]
    assert r.n_a > 0 and r.n_b > 0
    assert 0.0 <= r.var_reduction < 1.0
    assert r.var_reduction > 0.0
    scale = abs(r.diff_raw) + 1e-9
    assert abs(r.diff_cuped) < 10 * scale + 1.0  # no wild bias introduced


def test_minhash_union_estimates_are_tight(spark):
    """q_minhash_union (r10, oracle-gated): all C(5,2) pairs present; the
    64-slot estimate must land within ~3/sqrt(64) of the truth (generous
    3-sigma MinHash envelope) and the union bounds hold."""
    from parquet_to_clickhouse_schema_spark.functions.text_models import (
        MHU_SOURCES,
        q_minhash_union,
    )

    rows = q_minhash_union(spark, SF_SMOKE).collect()
    k = len(MHU_SOURCES)
    assert len(rows) == k * (k - 1) // 2
    for r in rows:
        assert 0.0 <= r.jaccard_est <= 1.0
        assert r.rel_err < 0.4  # 3/sqrt(64) on J, amplified through 1/(1+J)
        assert r.union_est > 0 and r.true_union > 0


def test_ndcg_is_bounded_and_ideal_is_respected(spark):
    """q_ndcg (r10, oracle-gated): one row per query, ndcg in [0, 1]
    (corpus-ideal normalization upper-bounds every query), dcg > 0."""
    from parquet_to_clickhouse_schema_spark.operators.llm_ann import RQ_N
    from parquet_to_clickhouse_schema_spark.operators.llm_eval import q_ndcg

    rows = q_ndcg(spark, SF_SMOKE).collect()
    assert len(rows) == RQ_N
    for r in rows:
        assert 0.0 <= r.ndcg <= 1.0
        assert r.dcg >= 0.0


def test_quantile_normalize_reference_is_monotone(spark):
    """q_quantile_normalize (r10, oracle-gated): the reference distribution
    is non-decreasing in rank, every rank covered by every source, and
    min <= ref <= max at each rank."""
    from parquet_to_clickhouse_schema_spark.functions.text_models import (
        q_quantile_normalize,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    n_sources = (
        load_table(spark, SF_SMOKE, "documents").select("source").distinct().count()
    )
    rows = sorted(q_quantile_normalize(spark, SF_SMOKE).collect(), key=lambda r: r.rank)
    vals = [r.ref_value for r in rows]
    assert vals == sorted(vals)
    for r in rows:
        assert r.n_sources == n_sources
        assert r.min_raw <= r.ref_value <= r.max_raw


def test_mh_odds_is_positive_and_near_crude_on_aa(spark):
    """q_mh_odds (r10, oracle-gated): odds ratios non-negative; at smoke
    SF (15 users → zero cells in some strata) the pure MH estimator can
    legitimately hit 0 — the crude/MH agreement check applies only when
    both are positive (they are from sf0.01 up)."""
    from parquet_to_clickhouse_schema_spark.streaming.batch_twins import q_mh_odds

    r = q_mh_odds(spark, SF_SMOKE).collect()[0]
    assert r.or_crude >= 0 and r.or_mh >= 0
    if r.or_crude > 0 and r.or_mh > 0:
        assert 0.1 < r.or_mh / r.or_crude < 10.0


def test_effective_sample_size_bounds(spark):
    """q_effective_sample_size (r10, oracle-gated): 1 <= ESS <= n per lang
    (Kish bounds) and the ratio matches ess/n."""
    from parquet_to_clickhouse_schema_spark.operators.training import (
        q_effective_sample_size,
    )

    rows = q_effective_sample_size(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 1.0 <= r.ess <= r.n_docs + 1e-6
        assert abs(r.ess_ratio - r.ess / r.n_docs) < 1e-3


def test_gap_distribution_counts_all_positive_gaps(spark):
    """q_gap_distribution (r10, oracle-gated): bucket counts sum to the
    corpus's positive per-user gap count; per-bucket min/max respect the
    log2 bucket edges."""
    from parquet_to_clickhouse_schema_spark.streaming.batch_twins import (
        q_gap_distribution,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table
    from pyspark.sql import Window as W

    ev = load_table(spark, SF_SMOKE, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    want = (
        ev.select((us - F.lag(us).over(w)).alias("g"))
        .filter(F.col("g").isNotNull() & (F.col("g") > 0))
        .count()
    )
    rows = q_gap_distribution(spark, SF_SMOKE).collect()
    assert sum(r.n_gaps for r in rows) == want
    for r in rows:
        assert r.min_sec <= r.max_sec
        assert 2 ** r.log2_gap_sec <= r.max_sec * 1.01 + 1e-9


def test_catalog_coverage_matches_anti_join(spark):
    """q_catalog_coverage (r10, oracle-gated): never-sold equals an
    independent anti-join count; fractions and bounds consistent."""
    from parquet_to_clickhouse_schema_spark.operators.reports import (
        q_catalog_coverage,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    r = q_catalog_coverage(spark, SF_SMOKE).collect()[0]
    p = load_table(spark, SF_SMOKE, "part")
    li = load_table(spark, SF_SMOKE, "lineitem")
    never = p.join(
        li.select("l_partkey").distinct(),
        p.p_partkey == F.col("l_partkey"),
        "left_anti",
    ).count()
    assert r.n_never_sold == never
    assert r.n_parts == p.count()
    assert 0.0 <= r.dead_stock_frac <= 1.0
    assert r.mean_lines <= r.max_lines


def test_abc_classification_partitions_catalog(spark):
    """q_abc_classification (r10, oracle-gated): classes partition sold
    parts; shares sum to ~1; A's share dominates per construction of the
    80/95 cut (its share is >= any other class's)."""
    from parquet_to_clickhouse_schema_spark.operators.reports import (
        q_abc_classification,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table

    rows = {r.abc: r for r in q_abc_classification(spark, SF_SMOKE).collect()}
    assert set(rows) <= {"A", "B", "C"} and "A" in rows
    n_sold = (
        load_table(spark, SF_SMOKE, "lineitem").select("l_partkey").distinct().count()
    )
    assert sum(r.n_parts for r in rows.values()) == n_sold
    assert abs(sum(r.revenue_share for r in rows.values()) - 1.0) < 1e-3
    assert rows["A"].revenue_share >= max(
        r.revenue_share for r in rows.values()
    ) - 1e-9


def test_markov_stationary_is_a_distribution_near_empirical(spark):
    """q_markov_stationary (r10, oracle-gated): stationary probabilities
    form a distribution (sum 1) and, on a well-mixed synthetic chain, sit
    close to the empirical frequencies."""
    from parquet_to_clickhouse_schema_spark.streaming.batch_twins import (
        q_markov_stationary,
    )

    rows = q_markov_stationary(spark, SF_SMOKE).collect()
    assert abs(sum(r.stationary_p for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert 0.0 <= r.stationary_p <= 1.0
        assert abs(r.stationary_p - r.empirical_p) < 0.1


def test_mrr_ranks_and_reciprocals_are_consistent(spark):
    """q_mrr (r10, oracle-gated): every query present; rr = 1/rank when a
    same-label hit exists and exactly 0 when none does."""
    from parquet_to_clickhouse_schema_spark.operators.llm_ann import RQ_K, RQ_N
    from parquet_to_clickhouse_schema_spark.operators.llm_eval import q_mrr

    rows = q_mrr(spark, SF_SMOKE).collect()
    assert len(rows) == RQ_N
    for r in rows:
        assert 0 <= r.first_rel_rank <= RQ_K
        if r.first_rel_rank == 0:
            assert r.rr == 0.0
        else:
            assert abs(r.rr - 1.0 / r.first_rel_rank) < 1e-6
