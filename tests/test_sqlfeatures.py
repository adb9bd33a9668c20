"""SQL-feature keys (operators/sqlfeatures.py): DISTINCT ON, the
recursive CTE and the skyline against their literal or brute-force forms."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from parquet_to_clickhouse_schema_spark import registry
from parquet_to_clickhouse_schema_spark.sources.io import load_table
from tests.conftest import SF_SMOKE

Q = registry.all_queries()


def test_distinct_on_matches_window_form(spark):
    """The argmax-struct DISTINCT ON must equal row_number()=1."""
    from pyspark.sql import Window

    got = {
        (r.o_custkey, r.last_orderkey)
        for r in Q["q_distinct_on"](spark, SF_SMOKE).collect()
    }
    o = load_table(spark, SF_SMOKE, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    expected = {
        (r.o_custkey, r.o_orderkey)
        for r in o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert got == expected


def test_recursive_cte_spine_and_totals(spark):
    """80 monthly spine rows; order counts reconcile with the table."""
    rows = Q["q_recursive_cte"](spark, SF_SMOKE).collect()
    assert len(rows) == 80
    months = [r.month_start for r in rows]
    assert min(months) == datetime.date(1995, 1, 1)
    assert max(months) == datetime.date(2001, 8, 1)
    total = sum(r.n_orders for r in rows)
    assert total == load_table(spark, SF_SMOKE, "orders").count()


def test_skyline_matches_brute_force_on_random_points(spark):
    """Property: the two-phase distributed skyline equals the O(n²)
    dominance definition on adversarial inputs — anti-correlated points
    (big frontier), duplicated coordinates, and a dominated cluster."""
    import itertools
    import random
    import tempfile

    rng = random.Random(7)
    pts = [(round(rng.uniform(0, 100), 2), rng.randint(1, 50)) for _ in range(300)]
    pts += [(round(100 - s * 1.9, 2), s) for s in range(1, 50)]  # anti-correlated
    pts += pts[:25]  # exact duplicates
    rows = [(i, f"part{i}", "B", "T", size, price) for i, (price, size) in enumerate(pts)]
    df = spark.createDataFrame(
        rows,
        "p_partkey long, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
    )
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(f"{tmp}/part.parquet")
        got = {(r.price, r.size) for r in Q["q_skyline"](spark, tmp).collect()}
    distinct = set(pts)
    expected = {
        (p, s)
        for (p, s) in distinct
        if not any(
            (q <= p and t <= s and (q < p or t < s)) for (q, t) in distinct
        )
    }
    assert got == expected
