"""registry.key_scope / registry.time_key: the one runner every harness
(bench.py, scripts/) times, counts and tags its keys through."""

import pytest

from parquet_to_clickhouse_schema_spark.registry import (
    all_queries,
    key_scope,
    time_key,
)
from parquet_to_clickhouse_schema_spark.sources.io import load_table

from .conftest import SF_SMOKE


def _one_collect(spark):
    spark.range(3).collect()


def _jobs_of(spark, body) -> int:
    with key_scope(spark, "reference") as jobs:
        body(spark)
    return jobs()


def test_time_key_rows_equal_count(spark):
    q = all_queries()["q_agg_hash"]
    r = time_key(spark, "q_agg_hash", lambda: q(spark, SF_SMOKE))
    assert r["rows"] == q(spark, SF_SMOKE).count() > 0
    assert r["construct_s"] >= 0 and r["execute_s"] > 0


def test_jobs_started_while_building_count_as_construct_jobs(spark):
    per_collect = _jobs_of(spark, _one_collect)
    assert per_collect >= 1

    def build():
        _one_collect(spark)
        _one_collect(spark)
        return spark.range(7)

    eager = time_key(spark, "eager", build)
    lazy = time_key(spark, "lazy", lambda: spark.range(7))
    assert eager["construct_jobs"] == 2 * per_collect
    assert lazy["construct_jobs"] == 0
    # the execute jobs are the same write in both runs
    assert eager["jobs"] - eager["construct_jobs"] == lazy["jobs"] >= 1
    assert eager["rows"] == lazy["rows"] == 7


def _group(sc):
    return (
        sc.getLocalProperty("spark.jobGroup.id"),
        sc.getLocalProperty("spark.job.description"),
    )


def test_caller_job_group_restored_after_exit_and_raise(spark):
    sc = spark.sparkContext

    def boom():
        _one_collect(spark)
        raise ValueError("build failed")

    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)
    time_key(spark, "no caller group", lambda: spark.range(3))
    assert _group(sc) == (None, None)

    with key_scope(spark, "caller's key"):
        caller = _group(sc)
        assert caller[1] == "caller's key"
        time_key(spark, "ok", lambda: spark.range(3))
        assert _group(sc) == caller
        with pytest.raises(ValueError, match="build failed"):
            time_key(spark, "raises", boom)
        assert _group(sc) == caller
    assert _group(sc) == (None, None)


def test_nested_key_scope_counts_only_its_own_jobs(spark):
    per_collect = _jobs_of(spark, _one_collect)
    with key_scope(spark, "outer") as outer:
        _one_collect(spark)
        with key_scope(spark, "inner") as inner:
            _one_collect(spark)
            _one_collect(spark)
            _one_collect(spark)
        _one_collect(spark)
    assert inner() == 3 * per_collect
    assert outer() == 2 * per_collect


@pytest.mark.parametrize(
    "key, table",
    [
        ("q_pca_power", "embeddings"),
        ("q_linear_probe", "embeddings"),
        ("q_markov_stationary", "events"),
    ],
)
def test_fixed_step_loops_build_lazily_and_persist_nothing(spark, key, table):
    """The PCA, linear-probe and Markov loops run inside one task: building
    the key launches no job beyond its table scan's own (Spark's Parquet
    schema inference), and running it persists no RDD."""
    scan_jobs = _jobs_of(spark, lambda s: load_table(s, SF_SMOKE, table))
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keys())
    q = all_queries()[key]
    r = time_key(spark, key, lambda: q(spark, SF_SMOKE))
    assert r["construct_jobs"] == scan_jobs
    assert r["rows"] > 0
    assert set(persisted().keys()) - before == set()
