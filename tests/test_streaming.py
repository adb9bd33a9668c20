"""Structured Streaming: the readStream variants must agree with their
batch twins on the bounded events source (same event-time semantics)."""

import datetime

import pytest
from pyspark.sql import functions as F

from parquet_to_clickhouse_schema_spark import registry
from parquet_to_clickhouse_schema_spark.sources.io import load_table
from parquet_to_clickhouse_schema_spark.streaming.batch_twins import (
    q_session_window,
    q_tumbling_window,
)
from parquet_to_clickhouse_schema_spark.streaming.stream_demo import (
    run_to_memory,
    stream_dedup,
    stream_session_counts,
    stream_tumbling_counts,
)
from tests.conftest import SF_SMOKE

Q = registry.all_queries()


def test_stream_tumbling_matches_batch(spark):
    stream = run_to_memory(
        stream_tumbling_counts(spark, SF_SMOKE), "t_tumbling", "complete"
    )
    got = {(r.ws, r.event_type): r.n for r in stream.collect()}
    batch = {
        (r.ws, r.event_type): r.n for r in q_tumbling_window(spark, SF_SMOKE).collect()
    }
    assert got == batch


def test_stream_sessions_match_batch(spark):
    stream = run_to_memory(
        stream_session_counts(spark, SF_SMOKE), "t_sessions", "complete"
    )
    got = {(r.user_id, r.session_start): r.n_events for r in stream.collect()}
    batch = {
        (r.user_id, r.session_start): r.n_events
        for r in q_session_window(spark, SF_SMOKE).collect()
    }
    assert got == batch


def test_stream_dedup_one_row_per_key(spark):
    out = run_to_memory(stream_dedup(spark, SF_SMOKE), "t_dedup", "append")
    dup = out.groupBy("user_id", "event_type").count().filter(F.col("count") > 1)
    assert dup.count() == 0
    # every (user, type) pair present in the source survives exactly once
    assert out.select("user_id", "event_type").distinct().count() == out.count()


def test_stream_to_parquet_sink(spark, tmp_path):
    from parquet_to_clickhouse_schema_spark.streaming.stream_demo import (
        read_events_stream,
        stream_to_parquet,
    )

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream_to_parquet(
        read_events_stream(spark, SF_SMOKE).filter(F.col("event_type") == "purchase"),
        out,
        ckpt,
    )
    written = spark.read.parquet(out)
    assert written.count() > 0
    assert written.filter(F.col("event_type") != "purchase").count() == 0


def test_stream_stream_interval_join_matches_batch(spark):
    from parquet_to_clickhouse_schema_spark.sources.io import load_table
    from parquet_to_clickhouse_schema_spark.streaming.stream_demo import (
        stream_stream_join,
    )

    got = run_to_memory(stream_stream_join(spark, SF_SMOKE), "t_ssj", "append")
    stream_pairs = {(r.purchase_id, r.click_id) for r in got.collect()}

    ev = load_table(spark, SF_SMOKE, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    batch = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
    )
    batch_pairs = {(r.purchase_id, r.click_id) for r in batch.collect()}
    assert stream_pairs == batch_pairs
    assert len(stream_pairs) > 0


def test_foreachbatch_upsert_matches_batch_twin(spark, tmp_path):
    from parquet_to_clickhouse_schema_spark.streaming.stream_demo import (
        latest_events_batch,
        stream_upsert_foreachbatch,
    )

    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    # pre-seed the target: one stale row for a user the stream will update,
    # one for a user the stream never touches (must survive the merge)
    spark.createDataFrame(
        [(1, 0, "seed", 0.0), (999_999_999, 0, "seed", 0.0)],
        "user_id long, ts long, event_type string, value double",
    ).withColumn("ts", F.timestamp_micros(F.col("ts"))).write.parquet(target)

    stream_upsert_foreachbatch(spark, SF_SMOKE, target, ckpt)

    got = {
        r.user_id: (r.ts, r.event_type, r.value)
        for r in spark.read.parquet(target).collect()
    }
    want = {
        r.user_id: (r.ts, r.event_type, r.value)
        for r in latest_events_batch(spark, SF_SMOKE).collect()
    }
    # untouched seeded key survives; all streamed keys equal the batch twin
    assert got.pop(999_999_999)[1] == "seed"
    assert got == want


def test_stream_source_schema_follows_footer(spark, tmp_path):
    """The readStream schema must be derived from the table's real footer:
    TIMESTAMP(NANOS) data (nanosAsLong → LongType) gets the ns→us
    conversion; plain timestamp[us] data must pass through untouched.
    Regression for the hardcoded-LongType schema that shrank every
    microsecond timestamp 1000× when the testdata moved to timestamp[us]."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_to_clickhouse_schema_spark.streaming.stream_demo import (
        read_events_stream,
    )

    base = datetime.datetime(2024, 6, 1, 12, 0, 0)
    stamps = [base + datetime.timedelta(minutes=i) for i in range(4)]
    for unit in ("ns", "us"):
        d = tmp_path / unit
        d.mkdir()
        tbl = pa.table(
            {
                "event_id": pa.array([1, 2, 3, 4], pa.int64()),
                "ts": pa.array(stamps, pa.timestamp(unit)),
                "user_id": pa.array([1, 1, 2, 2], pa.int64()),
                "event_type": pa.array(["click"] * 4),
                "value": pa.array([1.0, 2.0, 3.0, 4.0]),
                "props": pa.array(["{}"] * 4),
            }
        )
        pq.write_table(tbl, str(d / "events.parquet"))
        got = run_to_memory(
            read_events_stream(spark, str(d)), f"t_footer_{unit}", "append"
        )
        rows = sorted(got.collect(), key=lambda r: r.event_id)
        assert [r.ts for r in rows] == stamps, unit


def test_stream_static_enrichment_matches_batch(spark):
    """Stream-static broadcast join agrees row-for-row with the same join on
    the static table, including events with no matching dimension row."""
    from parquet_to_clickhouse_schema_spark.sources.io import load_table
    from parquet_to_clickhouse_schema_spark.streaming.stream_demo import (
        stream_enrich_static,
    )

    got = {
        (r.event_id, r.user_id, r.event_type, r.segment, r.acctbal)
        for r in run_to_memory(
            stream_enrich_static(spark, SF_SMOKE), "t_enrich", "append"
        ).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    cust = load_table(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("acctbal"),
    )
    want = {
        (r.event_id, r.user_id, r.event_type, r.segment, r.acctbal)
        for r in ev.join(cust, "user_id", "left")
        .select("event_id", "user_id", "event_type", "segment", "acctbal")
        .collect()
    }
    assert got == want
    # the left join must have kept at least one unmatched event if any exist
    assert len(got) == ev.count()


def test_watermark_finalizes_windows_and_drops_late_rows(spark, tmp_path):
    """True watermark semantics, which the single-batch bounded source never
    exercises: with maxFilesPerTrigger=1 each file is its own micro-batch,
    so (1) a window is emitted in append mode exactly once, when the
    watermark passes it, and (2) rows arriving behind the watermark are
    DROPPED — the documented late-data policy."""
    import datetime
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "events.parquet"
    d.mkdir()
    h0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def write(name, rows, mtime):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([1.0] * len(rows)),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        path = str(d / name)
        pq.write_table(tbl, path)
        os.utime(path, (mtime, mtime))

    now = _time.time()
    # batch 1: three on-time rows in hour 0
    write("part-0.parquet", [(1, h0, 1), (2, h0 + datetime.timedelta(minutes=5), 1), (3, h0 + datetime.timedelta(minutes=50), 2)], now - 300)
    # batch 2: hour 2 rows — advances the watermark far past hour 0's end
    write("part-1.parquet", [(4, h0 + datetime.timedelta(hours=2), 1)], now - 250)
    # batch 3: spacer — the watermark update from batch 2 lands one batch
    # later (Spark computes batch N's watermark from data through N-1)
    write("part-2.parquet", [(6, h0 + datetime.timedelta(hours=2, minutes=5), 1)], now - 200)
    # batch 4: LATE hour-0 rows, now far behind the watermark — dropped
    write("part-3.parquet", [(5, h0 + datetime.timedelta(minutes=10), 3)], now - 100)

    schema = spark.read.parquet(str(d)).schema
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .withColumn("ts", F.col("ts").cast("timestamp"))  # NTZ → watermarkable
    )
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    got = {(r.ws, r.n) for r in run_to_memory(agg, "t_late", "append").collect()}
    # hour-0 window: emitted once, counting ONLY the 3 on-time rows (the
    # late event_id=5 was behind the watermark); hour-2 window: never
    # finalized (nothing advanced the watermark past it) so absent
    assert got == {(h0, 3)}, got


def test_late_data_report_matches_sequential_replay(spark):
    """q_late_data_report (r10, oracle-gated): the blocked two-pass
    watermark must equal a sequential Python replay of the arrival stream
    (prefix max over event_id order), window by window."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from parquet_to_clickhouse_schema_spark.streaming.batch_twins import (
        q_late_data_report,
    )
    from parquet_to_clickhouse_schema_spark.sources.io import load_table
    from tests.conftest import SF_SMOKE

    ev = sorted(
        load_table(spark, SF_SMOKE, "events")
        .select(
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            F.date_trunc("hour", F.col("ts")).alias("win"),
        )
        .collect(),
        key=lambda r: r.event_id,
    )
    wm = -1
    want = defaultdict(lambda: [0, 0, 0, 0])
    for r in ev:
        w = want[r.win]
        w[0] += 1
        if wm > r.us:
            w[1] += 1
        if wm - r.us > 60_000_000:
            w[2] += 1
        if wm - r.us > 300_000_000:
            w[3] += 1
        wm = max(wm, r.us)
    got = {
        r.win: [r.n_events, r.n_out_of_order, r.n_late_1m, r.n_late_5m]
        for r in q_late_data_report(spark, SF_SMOKE).collect()
    }
    assert got == dict(want)


def test_time_range_frame_boundary_inclusive(spark):
    """An event exactly 3600 s earlier IS in the trailing-1h frame; one
    microsecond beyond is not — pin the bound the oracle agrees on."""
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, 7, t0 - datetime.timedelta(seconds=3600, microseconds=1), "view", 1.0, "{}"),
        (2, 7, t0 - datetime.timedelta(seconds=3600), "view", 2.0, "{}"),
        (3, 7, t0, "view", 4.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double, props string"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        for name in ("events",):
            df.write.mode("overwrite").parquet(f"{tmp}/{name}.parquet")
        out = {r.event_id: r for r in Q["q_window_time_range"](spark, tmp).collect()}
    assert out[3].n_trailing_1h == 2  # events 2 (exactly -3600 s) and 3
    assert out[3].value_trailing_1h == pytest.approx(6.0)
    assert out[2].n_trailing_1h == 2  # events 1 and 2 are within an hour


def test_sequence_count_matches_greedy_simulation(spark):
    """Per user, n_chains must equal the literal greedy matcher run
    driver-side over the (ts, event_id)-ordered stream: a purchase closes
    a chain iff an unmatched earlier view exists."""
    from collections import defaultdict

    rows = {r.user_id: r.n_chains for r in Q["q_sequence_count"](spark, SF_SMOKE).collect()}
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    streams = defaultdict(list)
    for r in ev:
        streams[r.user_id].append((r.ts, r.event_id, r.event_type))
    want = {}
    for u, es in streams.items():
        es.sort()
        avail = chains = 0
        for _, _, t in es:
            if t == "view":
                avail += 1
            elif avail > 0:
                avail -= 1
                chains += 1
        want[u] = chains
    assert rows == want
    assert any(c > 1 for c in rows.values())  # multi-episode users exist


def test_session_metrics_cover_all_events_and_respect_the_gap(spark):
    """Session event counts sum to the event total, durations are
    nonnegative, and no session's span can be built from gaps that each
    exceed the cut (spot-consistency with q_sessionize's session count
    per user)."""
    rows = Q["q_session_metrics"](spark, SF_SMOKE).collect()
    ev = load_table(spark, SF_SMOKE, "events")
    assert sum(r.n_events for r in rows) == ev.count()
    assert all(r.duration_sec >= 0 and r.n_events >= 1 for r in rows)
    sess = Q["q_sessionize"](spark, SF_SMOKE).collect()
    per_user_sessions = {}
    for r in sess:
        per_user_sessions.setdefault(r.user_id, set()).add(r.session_idx)
    from collections import Counter

    got = Counter(r.user_id for r in rows)
    assert all(got[u] == len(s) for u, s in per_user_sessions.items())
