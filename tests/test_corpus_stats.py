"""Corpus statistics (functions/text_core.py, functions/text_models.py):
unigram-NLL, bigram-PMI, source divergences, vocabulary coverage, frequency
sketches and the BPE trainer, plus linear-interpolation semantics, on small
hand-checkable inputs or pure-Python reimplementations (the oracle sweep
proves engine parity; these prove the math)."""

import math
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from parquet_to_clickhouse_schema_spark import registry
from parquet_to_clickhouse_schema_spark.functions import text_core as tx
from parquet_to_clickhouse_schema_spark.functions.text_models import (
    NOVELTY_N,
    _docs_with_min_toks,
)
from parquet_to_clickhouse_schema_spark.sources.io import load_table
from parquet_to_clickhouse_schema_spark.streaming import batch_twins as bt

from .conftest import SF_SMOKE

Q = registry.all_queries()


def _q6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def test_unigram_nll_math(spark, tmp_path):
    # corpus: "a a b" + "a c" → counts a=3,b=1,c=1, N=5
    docs = spark.createDataFrame(
        [(1, "a a b", "en", "s", 5), (2, "a c", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["doc_id"]: r["nll"]
        for r in tx.q_unigram_nll(spark, str(tmp_path)).collect()
    }
    pa, pb, pc = 3 / 5, 1 / 5, 1 / 5
    exp1 = -(math.log(pa) + math.log(pa) + math.log(pb)) / 3
    exp2 = -(math.log(pa) + math.log(pc)) / 2
    assert abs(out[1] - exp1) < 1e-6
    assert abs(out[2] - exp2) < 1e-6
    # rarer-token doc scores HIGHER (more surprising) — the quality signal
    assert out[2] > out[1]


def test_bigram_pmi_favors_exclusive_pairs(spark, tmp_path):
    # "x y" always adjacent and exclusive; "a"/"b" frequent but independent
    rows = [(i, "x y a b a b a b", "en", "s", 10) for i in range(10)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = tx.q_bigram_pmi(spark, str(tmp_path)).collect()
    assert out, "expected pairs above min support"
    best = out[0]
    assert (best["a"], best["b"]) == ("x", "y")
    # PMI of the exclusive pair must beat the independent filler pair
    filler = [r for r in out if (r["a"], r["b"]) == ("a", "b")]
    assert filler and best["pmi"] > filler[0]["pmi"]


def test_bigram_pmi_runs_on_testdata(spark):
    rows = tx.q_bigram_pmi(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= tx.PMI_TOP
    # deterministic ordering contract: (pmi desc, a, b)
    keys = [(-r["pmi"], r["a"], r["b"]) for r in rows]
    assert keys == sorted(keys)


def test_interp_linear_fills_interior_gap(spark, tmp_path):
    # one type, hourly obs at 00:00 (v=10) and 03:00 (v=40); 01/02 are gaps
    rows = [
        (1, "2024-01-01 00:30:00", 7, "m", 10.0, "{}"),
        (2, "2024-01-01 03:30:00", 7, "m", 40.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    ev.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {
        (r["hr"].hour, r["event_type"]): (r["v_interp"], r["was_gap"])
        for r in bt.q_interp_linear(spark, str(tmp_path)).collect()
    }
    assert out[(0, "m")] == (10.0, False)
    assert out[(1, "m")] == (20.0, True)
    assert out[(2, "m")] == (30.0, True)
    assert out[(3, "m")] == (40.0, False)


def test_interp_linear_edge_gaps_one_sided(spark, tmp_path):
    # obs only at 01:00 for type A while type B spans 00..02 → A's edge
    # hours take the nearest observed value, not NULL
    rows = [
        (1, "2024-01-01 01:10:00", 7, "A", 5.0, "{}"),
        (2, "2024-01-01 00:10:00", 8, "B", 1.0, "{}"),
        (3, "2024-01-01 02:10:00", 8, "B", 3.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    ev.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {
        (r["hr"].hour, r["event_type"]): r["v_interp"]
        for r in bt.q_interp_linear(spark, str(tmp_path)).collect()
    }
    assert out[(0, "A")] == 5.0  # bfill at left edge
    assert out[(2, "A")] == 5.0  # ffill at right edge
    assert out[(1, "B")] == 2.0  # interior linear blend for B


def test_substring_dup_winnowing_guarantee(spark, tmp_path):
    """Any verbatim run of >= K+W-1 chars MUST produce a pair (lossless
    blocking); unrelated docs must not."""
    from parquet_to_clickhouse_schema_spark.operators import llm_cluster

    shared = "x" .join(f"seg{i:04d}" for i in range(8))  # 63 chars, unique-ish
    assert len(shared) >= llm_cluster.SUBDUP_K + llm_cluster.SUBDUP_W - 1
    rows = [
        (1, "aaaa " + shared + " bbbb", "en", "s", 100),
        (2, "cccc " + shared + " dddd", "en", "s", 100),
        # doc 3 shares nothing 32 chars long with 1/2
        (3, "totally different content with no overlap at all " + "z" * 40,
         "en", "s", 100),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in llm_cluster.q_substring_dup(spark, str(tmp_path)).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_substring_dup_boilerplate_ceiling_bounds_hot_buckets(spark, tmp_path):
    """When > SUBDUP_BOILERPLATE docs share one verbatim run, the dominant
    anchor (selected in every doc) is dropped, so the pair count stays far
    below all-pairs: the quadratic hot-bucket explosion is bounded. The
    surviving pairs come from SECONDARY anchors elected by boundary
    windows in subsets of docs — true positives (those docs really do
    share a >= K+W-1 run), each bucket bounded by the ceiling."""
    import hashlib

    from parquet_to_clickhouse_schema_spark.operators import llm_cluster

    boiler = "this is the standard license header all files carry verbatim"
    n = llm_cluster.SUBDUP_BOILERPLATE + 15
    rows = [
        (i, hashlib.md5(str(i).encode()).hexdigest() * 2 + " " + boiler,
         "en", "s", 100)
        for i in range(n)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = llm_cluster.q_substring_dup(spark, str(tmp_path)).collect()
    all_pairs = n * (n - 1) // 2
    # the dominant anchor alone would have produced ALL pairs
    assert len(out) < all_pairs / 2
    # and no surviving anchor bucket exceeds the ceiling's quadratic bound
    cap = llm_cluster.SUBDUP_BOILERPLATE * (llm_cluster.SUBDUP_BOILERPLATE - 1) // 2
    assert len(out) <= cap


def _asof_brute(left, right, direction, tolerance):
    """Reference semantics: nearest right row per (by, on) by linear scan."""
    out = []
    for key, lo, lv in left:
        cands = [
            (ro, rv)
            for rk, ro, rv in right
            if rk == key
            and (ro <= lo if direction == "backward" else ro >= lo)
            and (tolerance is None or abs(lo - ro) <= tolerance)
        ]
        if cands:
            best = min(cands, key=lambda c: abs(lo - c[0]))
            out.append((key, lo, lv, best[0], best[1]))
        else:
            out.append((key, lo, lv, None, None))
    return sorted(out)


def test_asof_join_all_directions_and_tolerance(spark):
    from parquet_to_clickhouse_schema_spark.operators.relational import asof_join

    left_rows = [(1, 10.0, "a"), (1, 20.0, "b"), (2, 5.0, "c"), (3, 7.0, "d")]
    right_rows = [(1, 9.0, 100), (1, 19.0, 200), (1, 21.0, 300), (2, 50.0, 400)]
    left = spark.createDataFrame(left_rows, "k int, t double, lab string")
    right = spark.createDataFrame(right_rows, "k int, t double, val int")
    for direction in ("backward", "forward"):
        for tol in (None, 2.0):
            got = sorted(
                (r["k"], r["t"], r["lab"], r["t_right"], r["val"])
                for r in asof_join(
                    left, right, on="t", by="k",
                    direction=direction, tolerance=tol,
                ).collect()
            )
            want = _asof_brute(left_rows, right_rows, direction, tol)
            assert got == want, (direction, tol, got, want)


def test_asof_join_equal_timestamp_inclusive(spark):
    from parquet_to_clickhouse_schema_spark.operators.relational import asof_join

    left = spark.createDataFrame([(1, 10.0, "x")], "k int, t double, lab string")
    right = spark.createDataFrame([(1, 10.0, 7)], "k int, t double, val int")
    for direction in ("backward", "forward"):
        row = asof_join(left, right, "t", "k", direction=direction).collect()[0]
        assert row["val"] == 7, direction


def test_asof_join_single_shuffle_no_join(spark):
    """The plan claim: union + one window, never a join operator."""
    from parquet_to_clickhouse_schema_spark.operators.relational import asof_join
    from parquet_to_clickhouse_schema_spark.plans.inspect import (
        executed_plan,
        shuffle_count,
    )

    left = spark.createDataFrame([(1, 1.0, "x")], "k int, t double, lab string")
    right = spark.createDataFrame([(1, 1.0, 2)], "k int, t double, val int")
    df = asof_join(left, right, "t", "k")
    plan = executed_plan(df)
    assert "Join" not in plan  # no SortMergeJoin/BroadcastHashJoin/NestedLoop
    assert shuffle_count(df) <= 2


def test_embed_quantize_mse_bound_and_saturation(spark):
    """int8 absmax quantization invariants: max|code| = 127 for non-zero
    vectors, per-dim error <= scale/2 (so mse <= (scale/2)^2), and the
    codes reconstruct within that bound."""
    from parquet_to_clickhouse_schema_spark.operators.llm_cluster import (
        embed_quantize_mse,
        q_embed_quantize,
    )

    gated = q_embed_quantize(spark, SF_SMOKE).collect()
    assert gated
    for r in gated:
        assert r["max_code"] == 127 or r["scale"] == 0.0
        assert 0 < r["n_saturated"] <= 64
    for r in embed_quantize_mse(spark, SF_SMOKE).collect():
        # rounding error per dim is at most scale/2 (+ float slack)
        assert r["mse"] <= (r["scale"] / 2) ** 2 * 1.000001 + 1e-18


def test_dedup_containment_is_directional(spark, tmp_path):
    """A short doc quoted inside a long one: containment fires A-in-B but
    not B-in-A, and Jaccard-style symmetric overlap would be tiny."""
    from parquet_to_clickhouse_schema_spark.operators import llm_cluster

    quote = " ".join(f"q{i}" for i in range(10))  # 10 tokens -> 8 shingles
    long_doc = " ".join(f"w{i}" for i in range(200)) + " " + quote
    rows = [
        (1, quote, "en", "s", len(quote)),
        (2, long_doc, "en", "s", len(long_doc)),
        (3, " ".join(f"z{i}" for i in range(50)), "en", "s", 100),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in llm_cluster.q_dedup_containment(spark, str(tmp_path)).collect()
    }
    assert (1, 2) in out and out[(1, 2)] == 1.0  # quote fully contained
    assert (2, 1) not in out  # the long doc is NOT contained in the quote
    assert not any(3 in k for k in out)


def test_mix_balanced_equalizes_sources(spark, tmp_path):
    """Each source's kept count lands near the rarest source's size, and
    the sample is deterministic across runs (md5 coin, no RNG)."""
    from parquet_to_clickhouse_schema_spark.operators import training

    rows = []
    doc = 0
    for src, n in (("web", 400), ("code", 100), ("wiki", 50)):
        for _ in range(n):
            rows.append((doc, f"text {doc}", "en", src, 10))
            doc += 1
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out1 = training.q_mix_balanced(spark, str(tmp_path)).collect()
    out2 = training.q_mix_balanced(spark, str(tmp_path)).collect()
    assert sorted(r["doc_id"] for r in out1) == sorted(r["doc_id"] for r in out2)
    from collections import Counter

    kept = Counter(r["source"] for r in out1)
    # rarest source keeps everything (keep_p = 1), others ~50 in expectation;
    # 3-sigma bounds for binomial(400, .125) and binomial(100, .5)
    assert kept["wiki"] == 50
    assert 30 <= kept["web"] <= 70
    assert 35 <= kept["code"] <= 65


def test_boilerplate_vs_novelty_are_complementary_lenses(spark):
    """Shared shingle universe with q_ngram_novelty (same docs, same
    n_shingles), fractions in [0,1], and the corpus-wide identity: a
    shingle counted boilerplate must appear in >= BOILER_DF docs, so
    total boilerplate hits >= BOILER_DF * (number of boilerplate
    shingles observed anywhere)."""
    from parquet_to_clickhouse_schema_spark.functions.text_models import BOILER_DF

    b = {r.doc_id: r for r in Q["q_boilerplate_ngrams"](spark, SF_SMOKE).collect()}
    n = {r.doc_id: r for r in Q["q_ngram_novelty"](spark, SF_SMOKE).collect()}
    assert set(b) == set(n)
    for doc_id, rb in b.items():
        assert rb.n_shingles == n[doc_id].n_shingles
        assert 0 <= rb.n_boiler <= rb.n_shingles
        assert 0.0 <= rb.boiler_frac <= 1.0
    # each boilerplate shingle contributes >= BOILER_DF doc-hits
    total_boiler_hits = sum(r.n_boiler for r in b.values())
    assert total_boiler_hits == 0 or total_boiler_hits >= BOILER_DF


def test_negative_sampling_flattens_the_unigram(spark):
    """p_neg must be subproportional to count: between any two rows of one
    language, the probability ratio must be MILDER than the count ratio
    (the 3/4-power flattening), and per-language rows are the top-15 by
    count with probabilities summing to < 1 (head of the full vocab)."""
    from collections import defaultdict

    rows = Q["q_negative_sampling_freq"](spark, SF_SMOKE).collect()
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r.lang].append(r)
    for lang, rs in by_lang.items():
        assert len(rs) == 15
        assert sum(r.p_neg for r in rs) < 1.0
        rs.sort(key=lambda r: -r.cnt)
        hi, lo = rs[0], rs[-1]
        if hi.cnt > lo.cnt:
            assert hi.p_neg / lo.p_neg < hi.cnt / lo.cnt


def test_cross_source_dups_symmetric_ground_truth(spark):
    """Pair counts must match a driver-side set intersection of per-source
    distinct-text sets, each unordered pair exactly once — DENSE (r12):
    every source pair appears, zero-shared pairs explicitly at 0."""
    from collections import defaultdict

    rows = {(r.source_a, r.source_b): r.n_shared for r in Q["q_cross_source_dups"](spark, SF_SMOKE).collect()}
    docs = load_table(spark, SF_SMOKE, "documents").select("source", "text").collect()
    sets = defaultdict(set)
    for d in docs:
        sets[d.source].add(d.text)
    want = {}
    srcs = sorted(sets)
    for i, a in enumerate(srcs):
        for b in srcs[i + 1:]:
            want[(a, b)] = len(sets[a] & sets[b])
    assert rows == want
    assert len(rows) == len(srcs) * (len(srcs) - 1) // 2
    assert all(a < b for a, b in rows)


def test_vocab_coverage_matches_bruteforce_prefix(spark):
    """n_vocab_90 must equal the literal frequency-ranked prefix length
    computed driver-side, and the Zipf shape must hold (prefix share well
    under 1)."""
    from collections import Counter, defaultdict

    from parquet_to_clickhouse_schema_spark.functions.text_models import (
        VOCAB_COVER_TARGET,
    )

    rows = {r.lang: r for r in Q["q_vocab_coverage"](spark, SF_SMOKE).collect()}
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    cnt = defaultdict(Counter)
    for d in docs:
        cnt[d.lang].update(d.text.split(" "))
    for lang, c in cnt.items():
        r = rows[lang]
        assert r.n_vocab == len(c)
        tot = sum(c.values())
        assert r.n_tokens == tot
        ordered = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
        cum = 0
        n90 = 0
        for _, v in ordered:
            if cum < VOCAB_COVER_TARGET * tot:
                n90 += 1
            cum += v
        assert r.n_vocab_90 == n90
        assert 0 < r.vocab_share_90 < 1.0


def test_source_mix_kl_matches_bruteforce_and_is_nonnegative(spark):
    """KL per source must match the driver-side computation over exact
    counts and be nonnegative (Gibbs' inequality)."""
    import math
    from collections import Counter, defaultdict

    rows = {r.source: r for r in Q["q_source_mix_kl"](spark, SF_SMOKE).collect()}
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    per_src = defaultdict(Counter)
    marg = Counter()
    for d in docs:
        per_src[d.source][d.lang] += 1
        marg[d.lang] += 1
    n_all = sum(marg.values())
    for src, cnt in per_src.items():
        n = sum(cnt.values())
        kl = sum(
            (c / n) * math.log((c / n) / (marg[l] / n_all)) for l, c in cnt.items()
        )
        r = rows[src]
        assert r.n_langs == len(cnt)
        assert abs(r.kl_nats - kl) < 2e-6
        assert r.kl_nats >= -1e-9


def test_shingle_ops_survive_sub_n_token_documents(spark, tmp_path):
    """Regression (r11 review): Spark's sequence(1, 0) is DESCENDING, so an
    unguarded shingle transform hands slice() a zero start and crashes on
    any document shorter than NOVELTY_N tokens. Both shingle ops must skip
    such docs (the oracle's WHERE len(toks) >= N) instead of throwing."""
    df = spark.createDataFrame(
        [
            (1, "a b", "en", "s0", 3),
            (2, "one two three four five", "en", "s0", 23),
            (3, "one two three four five", "en", "s1", 23),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    b = Q["q_boilerplate_ngrams"](spark, str(tmp_path)).collect()
    n = Q["q_ngram_novelty"](spark, str(tmp_path)).collect()
    assert {r.doc_id for r in b} == {2, 3}  # the 2-token doc emits no row
    assert {r.doc_id for r in n} == {2, 3}


def test_source_jaccard_matrix_matches_pure_python(spark):
    """Dense pair matrix == Python set-Jaccard of the same 3-word shingle
    sets (clamped short-doc semantics included)."""
    from parquet_to_clickhouse_schema_spark.operators.llm_dedup import SHINGLE_K

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "source", "text"
    ).collect()
    sets: dict[str, set] = defaultdict(set)
    for r in docs:
        t = r.text.split(" ")
        n_sh = max(len(t) - (SHINGLE_K - 1), 1)
        for i in range(n_sh):
            sets[r.source].add(" ".join(t[i : i + SHINGLE_K]))
    srcs = sorted(sets)
    ref = {}
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            inter = len(sets[a] & sets[b])
            ref[(a, b)] = (
                inter,
                _q6(inter / (len(sets[a]) + len(sets[b]) - inter)),
            )
    got = {
        (r.source_a, r.source_b): (r.n_inter, r.jaccard)
        for r in Q["q_source_jaccard_matrix"](spark, SF_SMOKE).collect()
    }
    assert got == ref
    # the matrix is informative at smoke SF: some pair must overlap
    assert any(v[0] > 0 for v in ref.values())


def test_source_js_divergence_matches_pure_python(spark):
    """Per-source JSD == the textbook formula computed over Python
    Counters (dense over the union vocab — independently exercising the
    sparse-support + closed-form-absent-mass algebra both engines use)."""
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "source", "text"
    ).collect()
    per: dict[str, Counter] = defaultdict(Counter)
    marg: Counter = Counter()
    for r in docs:
        for tok in r.text.split(" "):
            per[r.source][tok] += 1
            marg[tok] += 1
    n_all = sum(marg.values())
    got = {
        r.source: (r.n_types, r.jsd_nats)
        for r in Q["q_source_js_divergence"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(per)
    for src, cnt in per.items():
        n = sum(cnt.values())
        jsd = 0.0
        for tok, mc in marg.items():  # DENSE union-vocab loop
            p = cnt.get(tok, 0) / n
            q = mc / n_all
            m = (p + q) / 2
            if p:
                jsd += 0.5 * p * math.log(p / m)
            if q:
                jsd += 0.5 * q * math.log(q / m)
        assert got[src][0] == len(cnt)
        # dense-loop float accumulation differs in order from both
        # engines' sparse sums; compare to the shared 1e-6 grid with a
        # one-ulp-of-grid tolerance instead of exact equality
        assert abs(got[src][1] - jsd) < 2e-6, (src, got[src][1], jsd)
        assert 0.0 <= got[src][1] <= math.log(2) + 1e-9


def test_source_divergence_degenerate_cases(spark, tmp_path):
    """Single-source corpus: the source IS the marginal, so JSD must be
    exactly 0 and the shingle self-matrix is empty (no pairs). Two
    identical sources: Jaccard must be exactly 1."""
    sf = str(tmp_path)
    rows = [(i, f"tok{i % 7} tok{(i + 1) % 7} tok{(i + 2) % 7}", "en", "only", 10) for i in range(20)]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(f"{sf}/documents.parquet")
    jsd = Q["q_source_js_divergence"](spark, sf).collect()
    assert len(jsd) == 1 and jsd[0].jsd_nats == 0.0
    assert Q["q_source_jaccard_matrix"](spark, sf).count() == 0

    # two sources carrying the identical text set -> Jaccard exactly 1
    twin = [(i, f"w{i % 5} w{(i + 2) % 5} w{(i + 4) % 5}", "en", s, 10)
            for s in ("a", "b") for i in range(10)]
    spark.createDataFrame(
        twin, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    m = Q["q_source_jaccard_matrix"](spark, sf).collect()
    assert len(m) == 1 and m[0].jaccard == 1.0


def test_tokenizer_fertility_matches_pure_python(spark):
    """Per-lang fertility == a pure-Python replay of the gated encoder:
    learn the top merges from the len>=2 word-pair counts, apply each as
    BPE_ENC_PASSES literal space-joined replaces (str.replace is the same
    single left-to-right non-overlapping pass as both engines' replace),
    then frequency-weight symbol counts per language."""
    from parquet_to_clickhouse_schema_spark.functions.text_models import (
        BPE_ENC_MERGES,
        BPE_ENC_PASSES,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "lang", "text"
    ).collect()
    wfreq: Counter = Counter()
    lw: Counter = Counter()
    for r in docs:
        for tok in r.text.split(" "):
            wfreq[tok] += 1
            lw[(r.lang, tok)] += 1
    pc: Counter = Counter()
    for tok, f in wfreq.items():
        if len(tok) < 2:
            continue
        for x, y in zip(tok, tok[1:]):
            pc[(x, y)] += f
    merges = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[
        :BPE_ENC_MERGES
    ]
    n_syms = {}
    for tok in wfreq:
        s = " " + " ".join(tok) + " "
        for (a, b), _ in merges:
            for _ in range(BPE_ENC_PASSES):
                s = s.replace(f" {a} {b} ", f" {a}{b} ")
        n_syms[tok] = len(s.strip().split(" "))
    agg: dict[str, list] = defaultdict(lambda: [0, 0, 0, 0])
    for (lang, tok), f in lw.items():
        a = agg[lang]
        a[0] += f
        a[1] += 1
        a[2] += f * n_syms[tok]
        a[3] += f * len(tok)
    got = {
        r.lang: (r.n_tokens, r.n_types, r.fertility, r.chars_per_symbol)
        for r in Q["q_tokenizer_fertility"](spark, SF_SMOKE).collect()
    }
    ref = {
        lang: (a[0], a[1], _q6(a[2] / a[0]), _q6(a[3] / a[2]))
        for lang, a in agg.items()
    }
    assert got == ref
    # fertility >= 1 by construction (a word is at least one symbol)
    assert all(v[2] >= 1.0 for v in got.values())


def test_space_count_guard_matches_size_split(spark):
    rows = [
        (1, ""),                      # empty string: split -> [''], size 1
        (2, "one"),
        (3, "one two"),
        (4, "one two three"),         # exactly NOVELTY_N tokens
        (5, "a  b"),                  # double space -> ['a','','b'], size 3
        (6, "   "),                   # 3 spaces -> 4 empty tokens
        (7, None),                    # null text: dropped by both forms
        (8, "w1 w2 w3 w4 w5"),
    ]
    d = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    old = (
        d.select("doc_id", F.split("text", " ").alias("_toks"))
        .filter(F.size("_toks") >= NOVELTY_N)
    )
    new = _docs_with_min_toks(d, NOVELTY_N)
    assert sorted(r.doc_id for r in old.collect()) == sorted(
        r.doc_id for r in new.collect()
    )
    # and the kept token arrays are identical, not just the row set
    assert {r.doc_id: r._toks for r in old.collect()} == {
        r.doc_id: r._toks for r in new.collect()
    }


def test_freq_topk_sketch_exact_at_test_sf(spark):
    """With maxItemsTracked >= |vocab|, approx_top_k is EXACT — verify the
    sketch ranks/counts against the brute-force (source, token) counts."""
    got = Q["q_freq_topk_sketch"](spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    exact = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    by_source: dict[str, dict[str, int]] = {}
    for r in exact:
        by_source.setdefault(r.source, {})[r.tok] = r.cnt
    assert len(got) > 0
    for row in got:
        counts = by_source[row.source]
        # the sketch count must equal the true count for its token
        assert counts[row.token] == row.est_count
        # and the reported top-k must dominate every unreported token
        kth = min(r.est_count for r in got if r.source == row.source)
        from parquet_to_clickhouse_schema_spark.functions.text_core import FREQ_SKETCH_K

        n_better = sum(1 for c in counts.values() if c > kth)
        assert n_better <= FREQ_SKETCH_K


def test_freq_topk_exact_agrees_with_sketch(spark):
    """q_freq_topk_exact (r10, oracle-gated) and the sketch variant answer
    the same question; at test SF the sketch is exact, so the two must
    report the same per-source count sequence (token identity may differ
    only where counts tie at the k-th boundary — the engines' tie-break
    orders are their own)."""
    from collections import defaultdict

    exact, sketch = defaultdict(list), defaultdict(list)
    for r in Q["q_freq_topk_exact"](spark, SF_SMOKE).collect():
        exact[r.source].append((r.rank, r.n_count, r.token))
    for r in Q["q_freq_topk_sketch"](spark, SF_SMOKE).collect():
        sketch[r.source].append((r.rank, r.est_count, r.token))
    assert set(exact) == set(sketch) and len(exact) > 0
    for src in exact:
        e, s = sorted(exact[src]), sorted(sketch[src])
        assert [x[:2] for x in e] == [x[:2] for x in s]
        # where the count is strictly above the k-th, tokens must agree too
        kth = e[-1][1]
        assert {x[2] for x in e if x[1] > kth} == {x[2] for x in s if x[1] > kth}


def test_bpe_train_matches_pure_python_reference(spark):
    """The distributed trainer's merges == a pure-Python BPE trainer run
    on the collected word-frequency table (count desc, (a,b) asc ties)."""
    from collections import Counter

    got = [
        (r.left, r.right, r.pair_count)
        for r in sorted(
            Q["q_bpe_train"](spark, SF_SMOKE).collect(), key=lambda r: r.merge_rank
        )
    ]
    d = load_table(spark, SF_SMOKE, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.length("tok") >= 2)
        .groupBy("tok")
        .agg(F.count("*").alias("wfreq"))
        .collect()
    )
    cur = {}
    for r in words:
        cur[tuple(r.tok)] = cur.get(tuple(r.tok), 0) + r.wfreq
    ref = []
    for _ in range(6):
        pc = Counter()
        for symtuple, f in cur.items():
            for x, y in zip(symtuple, symtuple[1:]):
                pc[(x, y)] += f
        if not pc:
            break
        mx = max(pc.values())
        a, b = min(p for p, c in pc.items() if c == mx)
        ref.append((a, b, mx))
        new = {}
        for symtuple, f in cur.items():
            out, i = [], 0
            while i < len(symtuple):
                if i + 1 < len(symtuple) and symtuple[i] == a and symtuple[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(symtuple[i])
                    i += 1
            new[tuple(out)] = new.get(tuple(out), 0) + f
        cur = new
    assert got == ref


def test_bpe_train_launches_no_job_per_merge(spark):
    """The merge loop runs inside one task: constructing the trainer
    launches as many jobs for 2 merges as for 6."""
    from parquet_to_clickhouse_schema_spark.registry import key_scope

    words = spark.createDataFrame(
        [("lower", 5), ("newest", 6), ("widest", 3)], "tok string, wfreq long"
    )
    jobs, rows = {}, {}
    for n in (2, 6):
        with key_scope(spark, "bpe_train") as construct_jobs:
            df = tx.bpe_train(words, n_merges=n)
        jobs[n] = construct_jobs()
        rows[n] = df.count()
    assert rows == {2: 2, 6: 6}
    assert jobs[2] == jobs[6]


def test_bpe_train_verified_equals_production_trainer(spark):
    """q_bpe_train_verified (r16, oracle-gated): the unrolled declarative
    twin's BPEV_ROUNDS merges must equal the production trainer's first
    BPEV_ROUNDS merges exactly — closing the loop driver gate -> verified
    twin == production path (same move as q_kmeans_verified)."""
    from parquet_to_clickhouse_schema_spark.functions.text_core import BPEV_ROUNDS

    twin = [
        (r.left, r.right, r.pair_count)
        for r in sorted(
            Q["q_bpe_train_verified"](spark, SF_SMOKE).collect(),
            key=lambda r: r.merge_rank,
        )
    ]
    prod = [
        (r.left, r.right, r.pair_count)
        for r in sorted(
            Q["q_bpe_train"](spark, SF_SMOKE).collect(), key=lambda r: r.merge_rank
        )
    ]
    assert len(twin) == BPEV_ROUNDS
    assert twin == prod[:BPEV_ROUNDS]


def test_bpe_train_verified_merge_encoding_edge_cases(spark):
    """The string-replace merge rule must implement left-to-right
    non-overlapping BPE semantics on the known traps: runs of the merged
    pair ('aaaa' + (a,a) -> [aa, aa], NOT [aa, a, a]) and symbol-prefix
    collisions ((a,b) must not fire inside a word whose symbol is 'bx')."""
    from pyspark.sql import functions as F  # noqa: F811

    enc = F.expr(
        "concat_ws('', transform(split(tok, ''), c -> concat(' ', c, ' ')))"
    )
    df = spark.createDataFrame([("aaaa",), ("aab",)], "tok string").select(
        "tok", enc.alias("w")
    )
    merged = df.select(
        "tok",
        F.split(
            F.trim(F.replace("w", F.lit(" a  a "), F.lit(" aa "))), "  "
        ).alias("s"),
    )
    got = {r.tok: r.s for r in merged.collect()}
    assert got["aaaa"] == ["aa", "aa"]
    assert got["aab"] == ["aa", "b"]
    # prefix collision: merge (a, b) applied to symbols [a, bx] must not fire
    df2 = spark.createDataFrame([([" a  bx "],)], "arr array<string>").select(
        F.replace(
            F.col("arr")[0], F.lit(" a  b "), F.lit(" ab ")
        ).alias("w")
    )
    assert df2.collect()[0].w == " a  bx "


def test_bpe_train_survives_word_collapse_under_ansi(spark):
    """Regression (ANSI mode): once a 2-char word fully merges into one
    symbol, later iterations must not index its 1-element array —
    sequence(1, 0) under spark.sql.ansi.enabled=true threw
    INVALID_ARRAY_INDEX before the size gate."""
    from parquet_to_clickhouse_schema_spark.functions.text_core import bpe_train

    words = spark.createDataFrame(
        [("ab", 100), ("abc", 10), ("cd", 5)], "tok string, wfreq long"
    )
    merges = [
        (r.left, r.right, r.pair_count)
        for r in sorted(
            bpe_train(words, n_merges=4).collect(), key=lambda r: r.merge_rank
        )
    ]
    # first merge collapses 'ab' (the dominant word) into one symbol
    assert merges[0] == ("a", "b", 110)
    assert len(merges) >= 2  # training continued past the collapse
