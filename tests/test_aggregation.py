"""Aggregation keys (operators/aggregation.py): the weighted quantile
against its brute-force definition, the shrinkage direction of the EB
posterior."""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet_to_clickhouse_schema_spark import registry
from parquet_to_clickhouse_schema_spark.sources.io import load_table
from tests.conftest import SF_SMOKE

Q = registry.all_queries()


def test_weighted_quantile_matches_bruteforce_definition(spark):
    """Each (flag, q) row must equal the textbook definition computed
    driver-side: the smallest price whose cumulative quantity reaches
    q x total quantity; quantiles must be monotone within a flag."""
    from collections import defaultdict

    from parquet_to_clickhouse_schema_spark.operators.aggregation import (
        WQ_QUANTILES,
    )

    rows = Q["q_weighted_quantile"](spark, SF_SMOKE).collect()
    li = (
        load_table(spark, SF_SMOKE, "lineitem")
        .groupBy("l_returnflag", "l_extendedprice")
        .agg(F.sum("l_quantity").alias("w"))
        .collect()
    )
    by_flag = defaultdict(list)
    for r in li:
        by_flag[r.l_returnflag].append((r.l_extendedprice, r.w))
    want = {}
    for flag, pts in by_flag.items():
        pts.sort()
        tot = sum(w for _, w in pts)
        for q in WQ_QUANTILES:
            cum = 0.0
            for price, w in pts:
                cum += w
                if cum >= q * tot:
                    want[(flag, q)] = price
                    break
    got = {(r.l_returnflag, r.quantile): r.wq_price for r in rows}
    assert got == want
    for flag in by_flag:
        seq = [got[(flag, q)] for q in sorted(WQ_QUANTILES)]
        assert seq == sorted(seq)


def test_weighted_quantile_degenerate_single_price_group(spark, tmp_path):
    """A group with ONE distinct price has zero bucket width: the guard
    must map it to bucket 0 (a NaN division would null the key and drop
    the group at the offset join), and every quantile returns that price."""
    df = spark.createDataFrame(
        [("X", 5.0, 2.0)] * 3 + [("Y", 1.0, 1.0), ("Y", 2.0, 1.0)],
        "l_returnflag string, l_extendedprice double, l_quantity double",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    rows = Q["q_weighted_quantile"](spark, str(tmp_path)).collect()
    x = [r for r in rows if r.l_returnflag == "X"]
    assert len(x) == 5 and all(r.wq_price == 5.0 for r in x)
    y = {r.quantile: r.wq_price for r in rows if r.l_returnflag == "Y"}
    assert y[0.25] == 1.0 and y[0.99] == 2.0


def test_ctr_smoothing_shrinks_toward_prior_mean(spark):
    """The posterior mean (k + mc)/(n + c) is a convex combination of the
    raw rate and the prior mean m, so every smoothed rate must lie between
    its raw rate and m (inclusive up to the 1e-6 quantization), and users
    with more views must move less."""
    rows = Q["q_ctr_smoothing"](spark, SF_SMOKE).collect()
    assert len(rows) > 0
    assert all(0 <= r.n_clicks <= r.n_trials for r in rows)
    m = sum(r.raw_ctr for r in rows) / len(rows)  # ~prior mean (quantized)
    eps = 2e-6
    for r in rows:
        lo, hi = sorted((r.raw_ctr, m))
        assert lo - eps <= r.smoothed_ctr <= hi + eps
        assert 0.0 <= r.smoothed_ctr <= 1.0
    # shrinkage magnitude decreases with evidence: compare the mean
    # absolute move of low-traffic vs high-traffic halves
    moves = sorted((r.n_trials, abs(r.smoothed_ctr - r.raw_ctr)) for r in rows)
    half = len(moves) // 2
    low = sum(mv for _, mv in moves[:half]) / half
    high = sum(mv for _, mv in moves[half:]) / (len(moves) - half)
    assert high <= low + eps
