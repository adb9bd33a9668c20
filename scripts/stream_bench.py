#!/usr/bin/env python
"""Measured micro-batch execution for the streaming path (VERDICT r15 #6).

The streaming SEMANTICS are driver-gated through batch twins and parity
tests; this script adds the missing wall-clock evidence: a real
readStream -> session_window -> writeStream(noop) run over sf0.1-volume
events, split into N_FILES micro-batches (maxFilesPerTrigger=1 +
Trigger.AvailableNow), reporting rows/sec and per-batch trigger latency
from the engine's own StreamingQueryProgress.

Method follows the r15 noise protocol: a batch sentinel (q_topk) runs
before and after to witness contention; REPS full streaming runs; medians
reported. One JSON line on stdout:

  {"metric": "stream_session_window", "rows_per_sec": N,
   "batch_latency_ms_median": N, "batches": N, "rows": N,
   "reps": [...], "sentinel_before_s": N, "sentinel_after_s": N}

Usage: python scripts/stream_bench.py [sf_dir] [reps]
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import statistics
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from parquet_to_clickhouse_schema_spark import registry  # noqa: E402
from parquet_to_clickhouse_schema_spark.session import get_spark  # noqa: E402
from parquet_to_clickhouse_schema_spark.sources.io import (  # noqa: E402
    _normalize_nanos,
)

# micro-batches per run (maxFilesPerTrigger=1); env-tunable so the
# batch-size sensitivity of the fixed per-trigger floor is measurable
# (rows/batch = 100k / N_FILES at sf0.1)
N_FILES = int(os.environ.get("STREAM_BENCH_FILES", "10"))

# r19: state-partition sizing (stream_demo.state_partitions_for — one
# state-store instance per shuffle partition is frozen at a query's first
# run, and every trigger pays one commit per instance; size to live keys,
# not cores). Default "auto" derives the count from the split's distinct
# user_id count; STREAM_BENCH_SHUFFLE=N pins it, =session leaves the
# session value (the pre-r19 behaviour, kept for comparison legs — the
# 32-vs-8 A/B is committed in docs/STREAMING.md). Applied around the
# streaming runs only (the batch sentinel sees the session default).
STREAM_SHUFFLE = os.environ.get("STREAM_BENCH_SHUFFLE", "auto")


def _op_session_window(ev):
    """readStream -> watermark -> session_window agg (the r16 headline op)."""
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("sw.start").alias("session_start"), "n_events")
    )


def _op_dedup(ev):
    """Watermarked streaming dedup — the state-store op behind
    q_stream_dedup's batch twin (dropDuplicatesWithinWatermark keeps
    per-key state only inside the watermark horizon)."""
    return ev.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def _op_tumbling_count(ev):
    """Watermarked 1-hour tumbling count — q_tumbling_window's streaming
    form."""
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select("event_type", F.col("w.start").alias("hour_start"), "n")
    )


def _op_stream_stream_join(mk):
    """Stream-stream interval join (stream_demo.stream_stream_join's shape):
    purchases joined to the same user's clicks from the preceding hour,
    watermarks on BOTH sides so join state is bounded. Two independent
    file-source streams over the same split — each trigger ingests one file
    per side, so numInputRows counts both sides."""
    ev_p, ev_c = mk(), mk()
    purchases = (
        ev_p.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    clicks = (
        ev_c.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).select("purchase_id", "click_id", "p_user", "p_ts", "c_ts")


# r17 (second measured streaming row, extending the r16 single-op bench);
# r18 adds the stream-stream interval join and the foreachBatch keep-latest
# upsert (VERDICT r17 task #7) — 5 measured operators. Each op runs REPS
# full micro-batch executions through the same file-source split. Values
# are (build, sink): build takes a fresh-stream factory (the join needs two
# independent source nodes), sink is "noop" or "upsert" (foreachBatch into
# a parquet target via stream_demo.keep_latest_merge_batch — the exact
# merge the parity test gates).
OPS = {
    "session_window": (lambda mk: _op_session_window(mk()), "noop"),
    "dedup": (lambda mk: _op_dedup(mk()), "noop"),
    "tumbling_count": (lambda mk: _op_tumbling_count(mk()), "noop"),
    "stream_stream_join": (_op_stream_stream_join, "noop"),
    "upsert_foreachbatch": (lambda mk: mk(), "upsert"),
}


def _mk_stream(spark, src_dir: str, schema):
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src_dir)
    )
    ev = _normalize_nanos(raw)
    if isinstance(ev.schema["ts"].dataType, T.TimestampNTZType):
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev


def _one_rep(
    spark, src_dir: str, schema, work_dir: str, tag: str, build, sink: str
) -> dict:
    from parquet_to_clickhouse_schema_spark.streaming.stream_demo import (
        keep_latest_merge_batch,
    )

    ckpt = os.path.join(work_dir, f"ckpt_{tag}")
    df = build(lambda: _mk_stream(spark, src_dir, schema))
    if sink == "upsert":
        target = os.path.join(work_dir, f"target_{tag}")
        writer = df.writeStream.foreachBatch(keep_latest_merge_batch(target))
    else:
        writer = df.writeStream.format("noop").outputMode("append")
    q = (
        writer.option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    prog = [json.loads(p.json) for p in q.recentProgress]
    q.stop()
    data_batches = [p for p in prog if p.get("numInputRows", 0) > 0]
    rows = sum(p["numInputRows"] for p in data_batches)
    trig_ms = [p["durationMs"]["triggerExecution"] for p in data_batches]
    total_s = sum(trig_ms) / 1000.0
    return {
        "rows": rows,
        "batches": len(data_batches),
        "rows_per_sec": round(rows / total_s, 1) if total_s else None,
        "batch_latency_ms_median": statistics.median(trig_ms) if trig_ms else None,
        "batch_latency_ms_max": max(trig_ms) if trig_ms else None,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark()
    work_dir = tempfile.mkdtemp(prefix="stream_bench_")
    try:
        # split the events table into N_FILES parts so the file source has
        # real multi-micro-batch structure at exactly sf volume
        src_dir = os.path.join(work_dir, "events_split")
        base = spark.read.parquet(f"{sf_dir}/events.parquet")
        base.repartition(N_FILES).write.parquet(src_dir)
        schema = spark.read.parquet(src_dir).schema

        topk = functools.partial(registry.all_queries()["q_topk"], spark, sf_dir)
        r = registry.time_key(spark, "q_topk", topk)
        s_before = round(r["construct_s"] + r["execute_s"], 3)
        default_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
        if STREAM_SHUFFLE == "auto":
            from parquet_to_clickhouse_schema_spark.streaming.stream_demo import (
                state_partitions_for,
            )

            live_keys = base.select("user_id").distinct().count()
            stream_shuffle = str(state_partitions_for(spark, live_keys))
        elif STREAM_SHUFFLE == "session":
            stream_shuffle = None
        else:
            stream_shuffle = STREAM_SHUFFLE
        if stream_shuffle:
            spark.conf.set("spark.sql.shuffle.partitions", stream_shuffle)
        # STREAM_BENCH_OPS=a,b restricts the run (batch-size sweeps re-run
        # one op at several N_FILES; driving all five each time would
        # quintuple an already-long measurement)
        only = os.environ.get("STREAM_BENCH_OPS")
        selected = (
            {k: v for k, v in OPS.items() if k in set(only.split(","))}
            if only
            else OPS
        )
        ops: dict[str, dict] = {}
        for name, (build, sink) in selected.items():
            rep_stats = [
                _one_rep(
                    spark, src_dir, schema, work_dir, f"{name}_{i}", build, sink
                )
                for i in range(reps)
            ]
            # reps with no data batches report None metrics (deliberate in
            # _one_rep); exclude them from the medians instead of crashing,
            # and surface how many were degraded
            good = [r for r in rep_stats if r["rows_per_sec"] is not None]
            # headline rows/batches come from the first GOOD rep (ADVICE
            # r16: if rep 0 is degraded it reports rows=0/batches=0 even
            # when the medians come from later good reps); all-degraded
            # falls back to rep 0 so the degradation stays visible
            head = good[0] if good else rep_stats[0]
            ops[name] = {
                "rows": head["rows"],
                "batches": head["batches"],
                "rows_per_sec": statistics.median(
                    r["rows_per_sec"] for r in good
                )
                if good
                else None,
                "batch_latency_ms_median": statistics.median(
                    r["batch_latency_ms_median"] for r in good
                )
                if good
                else None,
                "degraded_reps": len(rep_stats) - len(good),
                "reps": rep_stats,
            }
        if stream_shuffle:
            spark.conf.set("spark.sql.shuffle.partitions", default_shuffle)
        r = registry.time_key(spark, "q_topk", topk)
        s_after = round(r["construct_s"] + r["execute_s"], 3)

        out = {
            "metric": "stream_micro_batch",
            "sf_dir": sf_dir,
            "stream_shuffle_partitions": stream_shuffle or default_shuffle,
            "ops": ops,
            "sentinel_before_s": s_before,
            "sentinel_after_s": s_after,
        }
        print(json.dumps(out))
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
