"""session.tune against a fake ``spark.conf`` (no JVM): semantic confs must
take or raise, later calls keep user overrides, and an embedding
application's optimizer exclusions are kept."""

import pytest

from parquet_to_clickhouse_schema_spark.session import _TUNED_CONFS, tune

_EXCLUDED = "spark.sql.optimizer.excludedRules"


class _FakeConf:
    def __init__(self, values=None, refuse=()):
        self.values = dict(values or {})
        self.refuse = set(refuse)

    def get(self, key, default=None):
        return self.values.get(key, default)

    def set(self, key, value):
        if key in self.refuse:
            raise PermissionError(f"{key} is read-only")
        self.values[key] = value


class _FakeSpark:
    def __init__(self, conf):
        self.conf = conf


def _session(**kw):
    return _FakeSpark(_FakeConf({"spark.sql.shuffle.partitions": "4"}, **kw))


def test_tune_raises_when_timezone_is_refused():
    spark = _session(refuse={"spark.sql.session.timeZone"})
    with pytest.raises(RuntimeError, match="spark.sql.session.timeZone") as err:
        tune(spark)
    assert isinstance(err.value.__cause__, PermissionError)


def test_tune_tolerates_a_refused_performance_conf():
    spark = _session(refuse={"spark.sql.adaptive.skewJoin.enabled"})
    tune(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"


def test_second_tune_is_a_noop_and_keeps_user_override():
    spark = _session()
    tune(spark)
    for k, v in _TUNED_CONFS.items():
        assert spark.conf.get(k) == v
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    tune(spark)
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1"


def test_tune_appends_to_existing_excluded_rules():
    own = "org.example.SomeRule"
    spark = _FakeSpark(_FakeConf({_EXCLUDED: own}))
    tune(spark)
    assert spark.conf.get(_EXCLUDED) == f"{own},{_TUNED_CONFS[_EXCLUDED]}"
