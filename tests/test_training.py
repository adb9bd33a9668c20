"""Training-data keys (operators/training.py): splits, curricula,
context-length economics and column sizes, checked against brute-force or
pure-Python definitions."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from parquet_to_clickhouse_schema_spark import registry
from parquet_to_clickhouse_schema_spark.sources.io import load_table
from tests.conftest import SF_SMOKE

Q = registry.all_queries()


_DOC_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def _q6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def test_group_split_is_atomic_and_total(spark):
    """Every source appears in exactly one split, splits cover the corpus
    (doc counts sum to the table count), and the assignment agrees with
    the md5-nibble rule."""
    import hashlib

    rows = Q["q_group_split"](spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    seen = {}
    for r in rows:
        assert r.source not in seen  # one row (== one split) per source
        seen[r.source] = r.split
        nib = hashlib.md5(r.source.encode()).hexdigest()[0]
        want = "train" if nib in "0123456789ab" else ("val" if nib in "cd" else "test")
        assert r.split == want
    assert set(seen) == {r.source for r in d.select("source").distinct().collect()}


def test_coverage_curve_is_monotone_and_total(spark):
    """Levels nest: n_docs and n_unique are nondecreasing in level, the
    100% level covers the whole corpus, and n_unique matches the exact
    distinct-text count."""
    rows = {r.level_pct: r for r in Q["q_coverage_curve"](spark, SF_SMOKE).collect()}
    d = load_table(spark, SF_SMOKE, "documents")
    assert rows[100].n_docs == d.count()
    assert rows[100].n_unique == d.select("text").distinct().count()
    levels = sorted(rows)
    for lo, hi in zip(levels, levels[1:]):
        assert rows[lo].n_docs <= rows[hi].n_docs
        assert rows[lo].n_unique <= rows[hi].n_unique
    assert all(0.0 <= r.dup_rate < 1.0 for r in rows.values())


def test_churn_features_respect_the_temporal_wall(spark):
    """No feature may reflect post-cutoff activity and the label must be
    exactly 'no post-cutoff event'; recency is nonnegative whole days."""
    from parquet_to_clickhouse_schema_spark.operators.training import (
        CHURN_CUTOFF,
    )

    rows = {r.user_id: r for r in Q["q_churn_features"](spark, SF_SMOKE).collect()}
    ev = load_table(spark, SF_SMOKE, "events").collect()
    import datetime

    cut = datetime.datetime.fromisoformat(CHURN_CUTOFF)
    pre = {}
    post_users = set()
    for e in ev:
        if e.ts <= cut:
            st = pre.setdefault(e.user_id, [0, 0])
            st[0] += 1
            st[1] += 1 if e.event_type == "purchase" else 0
        else:
            post_users.add(e.user_id)
    assert set(rows) == set(pre)
    for u, r in rows.items():
        assert (r.n_events, r.n_purchases) == tuple(pre[u])
        assert r.churned == (0 if u in post_users else 1)
        assert r.recency_days >= 0


def test_neyman_allocation_beats_proportional_on_variance_weighting(spark):
    """Allocations follow N_h*S_h shares (brute-force check), never exceed
    the stratum size, and a stratum with higher length variance gets MORE
    than its proportional share whenever sizes are comparable."""
    import statistics
    from collections import defaultdict

    from parquet_to_clickhouse_schema_spark.operators.training import (
        NEYMAN_BUDGET,
    )

    rows = {r.lang: r for r in Q["q_neyman_allocation"](spark, SF_SMOKE).collect()}
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    chars = defaultdict(list)
    for d in docs:
        chars[d.lang].append(d.n_chars)
    z = sum(len(v) * statistics.pstdev(v) for v in chars.values())
    for lang, v in chars.items():
        r = rows[lang]
        share = len(v) * statistics.pstdev(v) / z
        assert abs(r.alloc_share - share) < 2e-6
        want = min(int(NEYMAN_BUDGET * share + 0.5), len(v))
        assert r.n_alloc == want
        assert r.n_alloc <= r.n_docs
    assert sum(r.alloc_share for r in rows.values()) > 0.999


def test_context_length_sweep_matches_pure_python(spark):
    """Per-budget truncation/padding economics == the arithmetic applied
    to the collected token counts."""
    from parquet_to_clickhouse_schema_spark.operators.training import (
        CTX_SWEEP,
    )

    ns = [
        r.n
        for r in load_table(spark, SF_SMOKE, "documents")
        .select(F.size(F.split("text", " ")).alias("n"))
        .collect()
    ]
    tot = sum(ns)
    ref = {}
    for L in CTX_SWEEP:
        kept = sum(min(n, L) for n in ns)
        bins = math.ceil(kept / L)
        ref[L] = (
            len(ns),
            sum(1 for n in ns if n > L),
            _q6((tot - kept) / tot),
            bins,
            _q6((bins * L - kept) / (bins * L)),
        )
    rows = Q["q_context_length_sweep"](spark, SF_SMOKE).collect()
    assert len(rows) == len(CTX_SWEEP)
    for r in rows:
        assert (
            r.n_docs,
            r.n_trunc_docs,
            r.trunc_token_frac,
            r.n_bins,
            r.pad_frac,
        ) == ref[r.ctx_len], r.ctx_len
    # monotonicity sanity: larger budgets truncate less and pad more bins
    by_l = {r.ctx_len: r for r in rows}
    ls = sorted(by_l)
    assert all(
        by_l[a].trunc_token_frac >= by_l[b].trunc_token_frac
        for a, b in zip(ls, ls[1:])
    )


def test_context_length_sweep_empty_corpus(spark, tmp_path):
    sf = str(tmp_path)
    spark.createDataFrame([], _DOC_SCHEMA).write.parquet(
        f"{sf}/documents.parquet"
    )
    assert Q["q_context_length_sweep"](spark, sf).count() == 0


def test_column_sizes_matches_pure_python(spark):
    """Value-for-value against a plain-Python traversal of the same
    footers (dict aggregation + one divide each, no Spark, no DuckDB)."""
    import pyarrow.parquet as pq

    from parquet_to_clickhouse_schema_spark.operators.training import TABLES
    from tests.conftest import SF_SMOKE

    expect: dict[tuple, list] = {}
    for t in TABLES:
        md = pq.ParquetFile(f"{SF_SMOKE}/{t}.parquet").metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                c = rg.column(j)
                e = expect.setdefault((t, c.path_in_schema), [0, 0, 0])
                e[0] += 1
                e[1] += c.total_compressed_size
                e[2] += c.total_uncompressed_size
    totals: dict[str, int] = {}
    for (t, _), (_, comp, _) in expect.items():
        totals[t] = totals.get(t, 0) + comp

    got = {
        (r.table_name, r.column_path): r
        for r in Q["q_column_sizes"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(expect)
    for key, (n, comp, unc) in expect.items():
        r = got[key]
        assert (r.n_chunks, r.compressed_bytes, r.uncompressed_bytes) == (
            n,
            comp,
            unc,
        ), key
        assert r.compression_ratio == _q6(unc / comp), key
        assert r.table_share == _q6(comp / totals[key[0]]), key


def test_column_sizes_consistent_with_parquet_meta(spark):
    """Cross-key invariant: per table, chunk rows sum to
    num_row_groups x num_columns, and table shares sum to ~1."""
    from tests.conftest import SF_SMOKE

    meta = {
        r.table_name: r for r in Q["q_parquet_meta"](spark, SF_SMOKE).collect()
    }
    rows = Q["q_column_sizes"](spark, SF_SMOKE).collect()
    by_table: dict[str, list] = {}
    for r in rows:
        by_table.setdefault(r.table_name, []).append(r)
    assert set(by_table) == set(meta)
    for t, cols in by_table.items():
        assert sum(c.n_chunks for c in cols) == (
            meta[t].num_row_groups * meta[t].num_columns
        ), t
        share = sum(c.table_share for c in cols)
        assert abs(share - 1.0) <= 1e-6 * len(cols) + 1e-9, (t, share)


def test_column_sizes_handles_directory_datasets(spark, tmp_path, monkeypatch):
    """Multi-file tables (the probe corpus / any real lake layout): every
    fragment's footer contributes, and the aggregate equals the sum of
    per-file footers."""
    import pyarrow.parquet as pq

    from parquet_to_clickhouse_schema_spark.operators import training
    from parquet_to_clickhouse_schema_spark.sources.io import load_table
    from tests.conftest import SF_SMOKE

    sf = str(tmp_path)
    d = load_table(spark, SF_SMOKE, "documents")
    d.repartition(3).write.parquet(f"{sf}/documents.parquet")
    monkeypatch.setattr(training, "TABLES", ["documents"])

    got = {
        r.column_path: r for r in Q["q_column_sizes"](spark, sf).collect()
    }
    files = pq.ParquetDataset(f"{sf}/documents.parquet").files
    assert len(files) == 3
    comp: dict[str, int] = {}
    chunks: dict[str, int] = {}
    for fpath in files:
        md = pq.ParquetFile(fpath).metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                c = rg.column(j)
                comp[c.path_in_schema] = (
                    comp.get(c.path_in_schema, 0) + c.total_compressed_size
                )
                chunks[c.path_in_schema] = chunks.get(c.path_in_schema, 0) + 1
    assert {p: r.compressed_bytes for p, r in got.items()} == comp
    assert {p: r.n_chunks for p, r in got.items()} == chunks


def test_incremental_dedup_invariants(spark):
    """No history digest leaks through; output digests are unique; every
    output doc is the min doc_id of its digest within the batch."""
    out = Q["q_incremental_dedup"](spark, SF_SMOKE).collect()
    assert len(out) > 0
    digests = [r.digest for r in out]
    assert len(digests) == len(set(digests))
    d = load_table(spark, SF_SMOKE, "documents")
    hist = {
        r.digest
        for r in d.filter(
            F.col("source").isin([f"src{i}" for i in range(10)])
        )
        .select(F.md5(F.col("text").cast("binary")).alias("digest"))
        .distinct()
        .collect()
    }
    assert not (set(digests) & hist)


def test_curriculum_order_is_a_permutation_sorted_by_bucket(spark):
    out = Q["q_curriculum_order"](spark, SF_SMOKE).collect()
    n = load_table(spark, SF_SMOKE, "documents").count()
    assert sorted(r.pos for r in out) == list(range(1, n + 1))
    by_pos = sorted(out, key=lambda r: r.pos)
    buckets = [r.difficulty_bucket for r in by_pos]
    assert buckets == sorted(buckets)  # easy (short) tiers first


def test_curriculum_packed_key_orders_like_tuple():
    """Property: bucket * 2^52 + hash52 orders exactly like the
    (bucket, hash) tuple — the packing must never let a high hash in a low
    bucket overtake a higher bucket."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    pair = st.tuples(
        st.integers(min_value=0, max_value=40),  # log2 length buckets
        st.integers(min_value=0, max_value=2**52 - 1),
    )

    @settings(max_examples=300, deadline=None)
    @given(pair, pair)
    def check(a, b):
        pack = lambda t: t[0] * 2**52 + t[1]  # noqa: E731
        assert (pack(a) < pack(b)) == (a < b)
        assert pack(a) <= 2**63 - 1  # stays inside BIGINT

    check()
