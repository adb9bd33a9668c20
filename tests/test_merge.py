"""MERGE/upsert/SCD2 emulation semantics."""

from datetime import datetime

from pyspark.sql import functions as F

from parquet_to_clickhouse_schema_spark import registry
from parquet_to_clickhouse_schema_spark.operators.merge import (
    scd2_apply,
    scd2_merge,
    upsert,
)
from parquet_to_clickhouse_schema_spark.sources.io import load_table
from tests.conftest import SF_SMOKE

Q = registry.all_queries()


def _t(s):
    return datetime.fromisoformat(s)


def test_upsert_replaces_and_inserts(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, name string, v double"
    )
    updates = spark.createDataFrame(
        [(2, "b2", 25.0), (4, "d", 40.0)], "id long, name string, v double"
    )
    out = {r.id: (r.name, r.v) for r in upsert(target, updates, "id").collect()}
    assert out == {1: ("a", 10.0), 2: ("b2", 25.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_upsert_idempotent(spark):
    target = spark.createDataFrame([(1, "a")], "id long, name string")
    updates = spark.createDataFrame([(1, "a2")], "id long, name string")
    once = upsert(target, updates, "id")
    twice = upsert(once, updates, "id")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_scd2_intervals(spark):
    hist = spark.createDataFrame(
        [
            (1, "v1", _t("2024-01-01")),
            (1, "v2", _t("2024-02-01")),
            (1, "v3", _t("2024-03-01")),
            (2, "x1", _t("2024-01-15")),
        ],
        "id long, val string, changed timestamp",
    )
    out = scd2_apply(hist, "id", "changed")
    rows = {(r.id, r.val): (r.valid_from, r.valid_to, r.is_current) for r in out.collect()}
    assert rows[(1, "v1")] == (_t("2024-01-01"), _t("2024-02-01"), False)
    assert rows[(1, "v2")] == (_t("2024-02-01"), _t("2024-03-01"), False)
    assert rows[(1, "v3")] == (_t("2024-03-01"), None, True)
    assert rows[(2, "x1")] == (_t("2024-01-15"), None, True)


def test_scd2_merge_appends_new_version(spark):
    hist = spark.createDataFrame(
        [(1, "v1", _t("2024-01-01"))], "id long, val string, changed timestamp"
    )
    upd = spark.createDataFrame(
        [(1, "v2", _t("2024-06-01")), (2, "w1", _t("2024-06-02"))],
        "id long, val string, changed timestamp",
    )
    out = scd2_merge(hist, upd, "id", "changed")
    current = {r.id: r.val for r in out.filter(F.col("is_current")).collect()}
    assert current == {1: "v2", 2: "w1"}
    old = out.filter(~F.col("is_current")).collect()
    assert len(old) == 1 and old[0].val == "v1" and old[0].valid_to == _t("2024-06-01")


def test_snapshot_diff_is_total_and_consistent(spark):
    """Every current user is classified exactly once; 'added' users have no
    pre-cut event; 'unchanged' users' latest event is at or before the cut
    OR their state coincides."""
    from parquet_to_clickhouse_schema_spark.operators.merge import SNAP_T1

    rows = {r.user_id: r for r in Q["q_snapshot_diff"](spark, SF_SMOKE).collect()}
    ev = load_table(spark, SF_SMOKE, "events")
    assert len(rows) == ev.select("user_id").distinct().count()
    cut = SNAP_T1
    pre_users = {
        r.user_id
        for r in ev.filter(F.col("ts") <= F.lit(cut).cast("timestamp"))
        .select("user_id")
        .distinct()
        .collect()
    }
    for u, r in rows.items():
        if r.change == "added":
            assert u not in pre_users and r.old_type is None
        else:
            assert u in pre_users and r.old_type is not None
        if r.change == "unchanged":
            assert r.old_type == r.new_type
    # at smoke SF every user stays active past the cut, so 'changed'
    # dominates; 'unchanged'/'added' appear at larger SFs
    assert "changed" in {r.change for r in rows.values()}
