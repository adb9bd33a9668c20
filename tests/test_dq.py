"""Data-quality audit: check primitives must detect planted violations and
stay silent (violations=0, but still one row) on clean data."""

import pytest
from pyspark.sql import functions as F

from parquet_to_clickhouse_schema_spark import registry
from parquet_to_clickhouse_schema_spark.operators import dq
from parquet_to_clickhouse_schema_spark.sources.io import load_table

from .conftest import SF_SMOKE

Q = registry.all_queries()


def _rows(df):
    return {(r["constraint"], r["table_name"]): r["violations"] for r in df.collect()}


def test_check_not_null_counts_nulls(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None)], "id int, name string"
    )
    out = _rows(dq.check_not_null(df, "t", "name"))
    assert out == {("not_null:name", "t"): 2}


def test_check_not_null_empty_table_is_zero_not_null(spark):
    df = spark.createDataFrame([], "id int, name string")
    out = _rows(dq.check_not_null(df, "t", "name"))
    assert out == {("not_null:name", "t"): 0}


def test_check_unique_counts_dupes_and_null_keys(spark):
    # two copies of id=1 (1 extra) + one NULL id (not counted by distinct)
    df = spark.createDataFrame([(1,), (1,), (2,), (None,)], "id int")
    out = _rows(dq.check_unique(df, "t", "id"))
    assert out == {("unique:id", "t"): 2}


def test_check_fk_counts_orphans(spark):
    child = spark.createDataFrame([(1, 10), (2, 10), (3, 99)], "id int, fk int")
    parent = spark.createDataFrame([(10,), (20,)], "pk int")
    out = _rows(dq.check_fk(child, "child", "fk", parent, "pk"))
    assert out == {("fk:fk->pk", "child"): 1}


def test_check_predicate_null_is_not_violation(spark):
    df = spark.createDataFrame([(5.0,), (-1.0,), (None,)], "v double")
    out = _rows(dq.check_predicate(df, "t", "range:v>0", ~(F.col("v") > 0)))
    assert out == {("range:v>0", "t"): 1}


def test_run_checks_empty_raises():
    with pytest.raises(ValueError):
        dq.run_checks([])


def test_q_dq_checks_clean_on_testdata(spark):
    out = _rows(dq.q_dq_checks(spark, SF_SMOKE))
    assert len(out) == 7
    # the synthetic warehouse is referentially clean
    assert all(v == 0 for v in out.values()), out


def test_check_reconcile_flags_drifted_totals(spark):
    detail = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 7.0), (3, 1.0)], "fk int, amt double"
    )
    summary = spark.createDataFrame(
        [(1, 15.0), (2, 99.0), (4, 3.0)], "pk int, total double"
    )
    out = dq.check_reconcile(
        detail, "fk", F.col("amt"), summary, "pk", "total", "orders_vs_lines"
    ).collect()[0]
    # pk=1 matches; pk=2 drifts; pk=4 has no detail rows (computed 0 != 3)
    assert out["violations"] == 2
    assert out["constraint"] == "orders_vs_lines"


def test_dp_histogram_noise_is_laplace_scaled(spark):
    """q_dp_histogram (r10, oracle-gated): every language reports; noise
    |dp - true| stays within ~12/eps (P(|Lap| > 12b) ~ 6e-6); and at least
    one group is actually perturbed."""
    from parquet_to_clickhouse_schema_spark.operators.dq import (
        DP_EPS,
        q_dp_histogram,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table
    from tests.conftest import SF_SMOKE

    truth = {
        r.lang: r.n
        for r in load_table(spark, SF_SMOKE, "documents")
        .groupBy("lang")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    rows = q_dp_histogram(spark, SF_SMOKE).collect()
    assert {r.lang for r in rows} == set(truth)
    for r in rows:
        assert r.true_count == truth[r.lang]
        assert abs(r.dp_count - r.true_count) <= 12.0 / DP_EPS
    assert any(abs(r.dp_count - r.true_count) > 1e-9 for r in rows)


def test_kanon_audit_flags_exactly_the_small_groups(spark):
    """q_kanon_audit (r10, oracle-gated): flagged groups are precisely the
    quasi-identifier combinations under K, re-derived independently."""
    from parquet_to_clickhouse_schema_spark.operators.dq import (
        KANON_K,
        q_kanon_audit,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table
    from tests.conftest import SF_SMOKE
    from pyspark.sql import functions as F
    from collections import Counter

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "lang", "source", F.floor(F.col("n_chars") / 100).alias("b")
    ).collect()
    want = {
        k for k, c in Counter((r.lang, r.source, r.b) for r in docs).items()
        if c < KANON_K
    }
    got = {
        (r.lang, r.source, r.len_bucket)
        for r in q_kanon_audit(spark, SF_SMOKE).collect()
    }
    assert got == want


def test_delete_propagation_cascade_is_closed(spark):
    """q_delete_propagation (r10, oracle-gated): exactly DEL_N customer
    subjects; orders/lineitem subject counts can never exceed DEL_N; and
    lineitem rows are at least the order rows' line counts re-derived."""
    from parquet_to_clickhouse_schema_spark.operators.dq import (
        DEL_N,
        q_delete_propagation,
    )

    rows = {r.table_name: r for r in q_delete_propagation(spark, SF_SMOKE).collect()}
    assert set(rows) == {"customer", "orders", "lineitem"}
    assert rows["customer"].n_rows == DEL_N
    assert rows["orders"].n_subjects <= DEL_N
    assert rows["lineitem"].n_subjects <= rows["orders"].n_subjects
    assert rows["lineitem"].n_rows >= rows["orders"].n_rows  # >=1 line/order


def test_srm_check_counts_users_once_and_flags_consistently(spark):
    """Group sizes partition the distinct-user universe, the chi-square is
    the literal 2(n_a-E)^2/E, and the flag agrees with the statistic."""
    from parquet_to_clickhouse_schema_spark.operators.dq import SRM_CRIT

    [r] = Q["q_ab_srm_check"](spark, SF_SMOKE).collect()
    n_users = (
        load_table(spark, SF_SMOKE, "events").select("user_id").distinct().count()
    )
    assert r.n_a + r.n_b == n_users
    e = (r.n_a + r.n_b) / 2.0
    assert abs(r.srm_chi2 - 2 * (r.n_a - e) ** 2 / e) < 2e-6
    assert r.srm_flag == int(2 * (r.n_a - e) ** 2 / e > SRM_CRIT)


def test_bloom_plan_matches_textbook_formulas(spark):
    """k and FPR must equal the textbook bloom formulas for the exact
    distinct counts, and FPR must decrease as n decreases at fixed m."""
    import math

    from parquet_to_clickhouse_schema_spark.operators.dq import BLOOM_BITS

    rows = {(r.tbl, r.key_col): r for r in Q["q_bloom_fpr_plan"](spark, SF_SMOKE).collect()}
    li = load_table(spark, SF_SMOKE, "lineitem")
    n_ok = li.select("l_orderkey").distinct().count()
    r = rows[("lineitem", "l_orderkey")]
    assert r.n_distinct == n_ok
    k = max(int(BLOOM_BITS / n_ok * math.log(2) + 0.5), 1)
    assert r.k_opt == k
    fpr = (1 - math.exp(-k * n_ok / BLOOM_BITS)) ** k
    assert abs(r.fpr - fpr) < 2e-8
    assert len(rows) == 4 and all(x.fpr >= 0 for x in rows.values())


def test_power_analysis_is_monotone_in_mde(spark):
    """Smaller detectable effects need more samples (n ∝ 1/δ²), the
    baseline matches the corpus conversion rate, and feasibility is
    consistent with the user count."""
    rows = sorted(Q["q_power_analysis"](spark, SF_SMOKE).collect(), key=lambda r: r.mde)
    ns = [r.n_per_arm for r in rows]
    assert ns == sorted(ns, reverse=True)
    ev = load_table(spark, SF_SMOKE, "events")
    n_users = ev.select("user_id").distinct().count()
    for r in rows:
        assert 0.0 <= r.baseline_rate <= 1.0
        assert r.feasible_now == int(2 * r.n_per_arm <= n_users)


def test_table_checksum_invariant_under_row_order(spark):
    """The checksum must be a pure content function: reshuffling rows and
    repartitioning cannot change it; flipping one cent in one row must."""
    import tempfile

    base = load_table(spark, SF_SMOKE, "orders")
    with tempfile.TemporaryDirectory() as tmp:
        # same content, different physical order + partitioning
        base.orderBy(F.rand(7)).repartition(13).write.parquet(
            f"{tmp}/orders.parquet"
        )
        shuffled = Q["q_table_checksum"](spark, tmp).first()
    orig = Q["q_table_checksum"](spark, SF_SMOKE).first()
    assert (orig.n_rows, orig.checksum) == (shuffled.n_rows, shuffled.checksum)

    with tempfile.TemporaryDirectory() as tmp:
        tampered = base.withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") == 1, F.col("o_totalprice") + 0.01).otherwise(
                F.col("o_totalprice")
            ),
        )
        tampered.write.parquet(f"{tmp}/orders.parquet")
        bad = Q["q_table_checksum"](spark, tmp).first()
    assert bad.checksum != orig.checksum
    assert bad.n_rows == orig.n_rows
