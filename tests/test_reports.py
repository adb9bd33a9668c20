"""Report keys (operators/reports.py) against their literal SQL readings
and per-source ground truth."""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet_to_clickhouse_schema_spark import registry
from parquet_to_clickhouse_schema_spark.sources.io import load_table
from tests.conftest import SF_SMOKE

Q = registry.all_queries()


def test_window_funnel_dominated_by_unboxed_funnel(spark):
    """The time-boxed funnel can only LOSE conversions relative to
    q_funnel (same stages, no deadline): per user, funnel_level <=
    funnel_stage, both start at 1, and at least one user must differ at
    smoke SF (otherwise the window constraint is vacuous and the op
    degenerates into q_funnel)."""
    boxed = {r.user_id: r.funnel_level for r in Q["q_window_funnel"](spark, SF_SMOKE).collect()}
    free = {r.user_id: r.funnel_stage for r in Q["q_funnel"](spark, SF_SMOKE).collect()}
    assert set(boxed) == set(free)
    assert all(1 <= boxed[u] <= free[u] <= 3 for u in boxed)
    assert any(boxed[u] < free[u] for u in boxed)


def test_dataset_card_matches_per_source_ground_truth(spark):
    """Volume and language columns must match independent per-source
    aggregates, and top_lang must be the modal language with the
    (count desc, lang) tiebreak."""
    from collections import Counter, defaultdict

    rows = {r.source: r for r in Q["q_dataset_card"](spark, SF_SMOKE).collect()}
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    by_src = defaultdict(list)
    for d in docs:
        by_src[d.source].append(d)
    assert set(rows) == set(by_src)
    for src, ds in by_src.items():
        r = rows[src]
        assert r.n_docs == len(ds)
        assert r.total_chars == sum(d.n_chars for d in ds)
        assert r.n_langs == len({d.lang for d in ds})
        cnt = Counter(d.lang for d in ds)
        assert r.top_lang == sorted(cnt, key=lambda l: (-cnt[l], l))[0]
        uniq = len({d.text for d in ds})
        assert abs(r.dup_rate - (1 - uniq / len(ds))) < 2e-6


def test_waiting_suppliers_matches_literal_exists_form(spark):
    """The single-aggregate Q21 form must equal the literal
    EXISTS + NOT EXISTS double-self-join reading."""
    got = {
        (r.s_name, r.numwait)
        for r in Q["q_report_waiting_suppliers"](spark, SF_SMOKE).collect()
    }
    li = load_table(spark, SF_SMOKE, "lineitem")
    o = load_table(spark, SF_SMOKE, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, SF_SMOKE, "supplier")
    l1 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    other = li.select("l_orderkey", F.col("l_suppkey").alias("o_supp")).distinct()
    has_other = l1.join(
        other,
        (l1.l_orderkey == other.l_orderkey) & (l1.l_suppkey != other.o_supp),
        "left_semi",
    )
    other_late = l1.select("l_orderkey", F.col("l_suppkey").alias("o_supp"))
    sole_late = has_other.join(
        other_late,
        (has_other.l_orderkey == other_late.l_orderkey)
        & (has_other.l_suppkey != other_late.o_supp),
        "left_anti",
    )
    expected_df = (
        sole_late.join(s, sole_late.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )
    expected = {(r.s_name, r.numwait) for r in expected_df.collect()}
    assert got == expected
