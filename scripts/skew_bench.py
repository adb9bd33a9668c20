#!/usr/bin/env python
"""Measured skew-join A/B/C/D (the SCALE.md claim, now with numbers).

operators/skew.py ships the remedies (salting, AQE notes, pre-join
diagnostics); this script measures them against each other on a corpus
with a GENUINE hot key: lineitem sf0.1 replicated 10x (6M rows) with
HOT_SHARE of all rows rewritten to one supplier key. Under naive hash
partitioning that key's join task holds HOT_SHARE of the fact — the
1000-executor straggler, reproduced on local[32] as one task sorting
~1.8M rows while 31 idle.

Variants (same join + aggregate, byte-identical result row set):
  plain_shuffle  — AQE off, broadcast off: the naive sort-merge join a
                   100 TB pipeline hits when the dim outgrows broadcast.
  aqe_skew       — AQE on with the skew-split thresholds scaled to this
                   data size (defaults target 256 MB partitions; the hot
                   partition here is ~70 MB, so thresholds shrink
                   proportionally — at cluster scale the DEFAULTS fire).
  salted         — skew.salted_equi_join (dim replicated 8x, fact salted
                   by row identity), AQE and broadcast still off.
  broadcast      — the default plan Spark picks when the dim fits (1k
                   suppliers): skew-immune, the reference point and the
                   reason broadcast is always remedy #1.

Method: variants interleaved round-robin across REPS rounds (decorrelates
host drift), construction+execution timed, noop sink, medians reported,
q_topk sentinel before/after. Row-count equality across variants is
asserted every round. One JSON line on stdout.

Usage: python scripts/skew_bench.py [reps]
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from parquet_to_clickhouse_schema_spark import registry  # noqa: E402
from parquet_to_clickhouse_schema_spark.functions.compat import qround  # noqa: E402
from parquet_to_clickhouse_schema_spark.operators.skew import (  # noqa: E402
    salted_equi_join,
)
from parquet_to_clickhouse_schema_spark.session import get_spark  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"
FACT_DIR = (
    "/tmp/spark_graft_skew/lineitem_hot_k"
    + os.environ.get("SKEW_K", "10")
    + "_h"
    + os.environ.get("SKEW_HOT_SHARE", "0.30")
    + ".parquet"
)
K = int(os.environ.get("SKEW_K", "10"))  # fact replication
# share of fact rows rewritten to the hot supplier key
HOT_SHARE = float(os.environ.get("SKEW_HOT_SHARE", "0.30"))
HOT_KEY = 1
N_SALTS = 8

AQE_KEYS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # defaults (256 MB / factor 5) are sized for cluster-scale partitions;
    # the hot partition here is ~70 MB, so scale thresholds down with the
    # data. advisory size controls the split granularity.
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16m",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
}


def build_fact(spark) -> None:
    if os.path.isdir(FACT_DIR):
        return
    li = spark.read.parquet(os.path.join(BASE_SF, "lineitem.parquet")).select(
        "l_suppkey", "l_orderkey", "l_linenumber", "l_quantity"
    )
    reps = spark.range(K).select(F.col("id").cast("int").alias("rep"))
    # deterministic hot rewrite: a row-identity hash picks HOT_SHARE of
    # rows; the rest keep their key (shifted per replica so key counts
    # scale honestly, matching scale_probe's convention)
    hot = F.pmod(
        F.xxhash64("l_orderkey", "l_linenumber", F.col("rep")), F.lit(1000)
    ) < int(HOT_SHARE * 1000)
    fact = (
        li.crossJoin(reps)
        .withColumn(
            "l_suppkey",
            F.when(hot, F.lit(HOT_KEY)).otherwise(F.col("l_suppkey")),
        )
        .withColumn(
            "l_orderkey",
            F.col("l_orderkey") + F.col("rep") * F.lit(10_000_000),
        )
        .drop("rep")
    )
    fact.repartition(32).write.mode("overwrite").parquet(FACT_DIR)


def _confs(spark, kv: dict) -> dict:
    old = {k: spark.conf.get(k, None) for k in kv}
    for k, v in kv.items():
        spark.conf.set(k, v)
    return old


def _restore(spark, old: dict) -> None:
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def agg_join(fact, su, salted: bool):
    if salted:
        joined = salted_equi_join(
            fact,
            su,
            "l_suppkey",
            "s_suppkey",
            salt_cols=["l_orderkey", "l_linenumber"],
            n_salts=N_SALTS,
        )
    else:
        joined = fact.join(su, fact.l_suppkey == su.s_suppkey)
    return joined.groupBy("s_nationkey").agg(
        F.count("*").cast("bigint").alias("n_items"),
        qround(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    spark = get_spark("skew_bench")
    sf = BASE_SF
    build_fact(spark)

    topk = functools.partial(registry.all_queries()["q_topk"], spark, sf)

    def timed(key: str, build) -> float:
        r = registry.time_key(spark, key, build)
        return round(r["construct_s"] + r["execute_s"], 3)

    def variant(salted: bool):
        fact = spark.read.parquet(FACT_DIR)
        su = spark.read.parquet(os.path.join(sf, "supplier.parquet")).select(
            "s_suppkey", "s_nationkey"
        )
        return agg_join(fact, su, salted)

    no_bcast = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    no_aqe = {"spark.sql.adaptive.enabled": "false"}
    variants = {
        "plain_shuffle": (dict(**no_bcast, **no_aqe), False),
        "aqe_skew": (dict(**no_bcast, **AQE_KEYS), False),
        "salted": (dict(**no_bcast, **no_aqe), True),
        "broadcast": (dict(no_aqe), False),
    }

    for _ in range(4):
        timed("q_topk", topk)
    s_before = round(statistics.median([timed("q_topk", topk) for _ in range(3)]), 3)

    times: dict[str, list] = {k: [] for k in variants}
    counts: dict[str, int] = {}
    for _ in range(reps):
        for name, (confs, salted) in variants.items():
            old = _confs(spark, confs)
            try:
                times[name].append(timed(name, functools.partial(variant, salted)))
                if name not in counts:  # full value parity, once per variant
                    counts[name] = sorted(map(tuple, variant(salted).collect()))
            finally:
                _restore(spark, old)
    base = counts["plain_shuffle"]
    for name, rows in counts.items():
        if rows != base:
            raise AssertionError(f"{name} result differs from plain_shuffle")

    s_after = round(statistics.median([timed("q_topk", topk) for _ in range(3)]), 3)
    out = {
        "metric": "skew_join_ab",
        "fact_rows": K * 600_000,
        "hot_share": HOT_SHARE,
        "result_rows": len(base),
        "medians_s": {
            k: round(statistics.median(v), 3) for k, v in times.items()
        },
        "reps": times,
        "sentinel_before_s": s_before,
        "sentinel_after_s": s_after,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
