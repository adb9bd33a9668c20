"""Time-series keys (operators/timeseries.py) against brute-force sweeps."""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet_to_clickhouse_schema_spark import registry
from parquet_to_clickhouse_schema_spark.sources.io import load_table
from tests.conftest import SF_SMOKE

Q = registry.all_queries()


def test_max_concurrency_matches_bruteforce_sweep(spark):
    """Per priority: peak must equal the brute-force maximum computed
    driver-side by counting intervals covering each boundary instant
    (half-open [open, close)), and peak_ts must be the earliest instant
    attaining it."""
    from collections import defaultdict

    rows = Q["q_max_concurrency"](spark, SF_SMOKE).collect()
    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, SF_SMOKE, "lineitem").groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("t_close")
    )
    iv = defaultdict(list)
    for r in o.join(li, o.o_orderkey == li.l_orderkey).collect():
        if r.t_close > r.o_orderdate:  # sweep line requires open < close
            iv[r.o_orderpriority].append((r.o_orderdate, r.t_close))
    want = {}
    for prio, spans in iv.items():
        instants = sorted({t for s in spans for t in s})
        best, best_ts = -1, None
        for t in instants:
            n = sum(1 for a, b in spans if a <= t < b)
            if n > best:
                best, best_ts = n, t
        want[prio] = (best, best_ts)
    got = {r.o_orderpriority: (r.peak_open_orders, r.peak_ts) for r in rows}
    assert got == want


def test_acf_and_cusum_sanity(spark):
    acf = Q["q_acf"](spark, SF_SMOKE).collect()
    assert {r.lag_hours for r in acf} == {1, 2, 3, 6, 12, 24}
    for r in acf:
        assert -1.0 <= r.acf <= 1.0
        assert r.n_pairs > 0
    cs = Q["q_cusum"](spark, SF_SMOKE).collect()
    assert len(cs) == 5  # one row per event type
    for r in cs:
        assert r.peak_cusum >= 0.0
        assert r.n_days > 0
