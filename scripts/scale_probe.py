#!/usr/bin/env python
"""Scale probe: do the headline plans scale linearly?

Synthesizes a k-times larger copy of the fact tables (lineitem/orders keys
shifted per replica so join cardinalities scale honestly), then times the
headline queries at sf0.1 and at the scaled size. A plan that survives 100 TB
should show time ratios ~= k (linear in input) — superlinear growth exposes a
shuffle/skew problem before a cluster ever does.

Usage: python scripts/scale_probe.py [k]      (default k=10, ~6M lineitem rows)
Writes scaled parquet under /tmp/spark_graft_scale_v2/x<k>/ (reused across runs).
"""

from __future__ import annotations

import functools
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parquet_to_clickhouse_schema_spark import registry
from parquet_to_clickhouse_schema_spark.session import get_spark
from parquet_to_clickhouse_schema_spark.sources.io import TABLES, load_table

BASE_SF = "/root/testdata/sf0.1"
SCALED_ROOT = "/tmp/spark_graft_scale_v2"  # v2: events now scale too

# Key families probed, resolved through registry.all_queries().
QUERIES = (
    "q_agg_hash",
    "q_join_sortmerge",
    "q_join_multiway",
    "q_window_rank",
    "q_window_rank_scalable",
    "q_topk",
)

LLM_QUERIES = (
    # round-5 additions. q_fuzzy_pairs is deliberately NOT probed: the
    # k-replica corpus gives every doc k exact copies, so its OUTPUT
    # (all pairs within edit distance 3) grows ~k² by construction
    # (~22M qualifying pairs at k=10) — the probe would measure the
    # dataset's quadratic pair count, not the plan. Its scale evidence
    # is the lossless-blocking equality test plus the measured 82s→22s
    # prefix-filter win at sf0.1.
    "q_bm25_score",
    "q_epoch_shuffle",
    "q_pack_sequences",
    "q_dedup_exact",
    "q_near_dedup_minhash",
    "q_dedup_ngram",
    "q_dedup_simhash",
    "q_cosine_topk",
    "q_dedup_embedding",
    "q_text_stats",
    "q_doc_fingerprint",
    # the sub-quadratic ANN escape hatches for the two O(n²) exact ops
    "q_ann_lsh_topk",
    "q_ivf_topk",
    "q_pq_topk",
)

R6_QUERIES = (
    # round-6 additions. q_interp_linear is grid-bounded (O(hours x
    # types) regardless of fact size) so a fact-scale probe is
    # uninformative; q_bigram_pmi/q_bpe_pairs outputs are fixed top-k.
    "q_dq_checks",
    "q_unigram_nll",
    "q_bigram_pmi",
    "q_bpe_pairs",
    "q_source_entropy",
    "q_cdc_apply",
    "q_event_transitions",
    "q_embed_outliers",
    "q_mode_agg",
    "q_mad_robust",
)

R7_QUERIES = (
    # round-7 additions. q_recursive_cte is spine-bounded (80 rows at
    # any fact scale) and q_order_nulls is a TakeOrdered scan — probing
    # them measures the scan, not a plan risk. The report shapes ride
    # lineitem/orders; the stream ops ride the scaled-users events
    # axis; the corpus ops ride documents.
    "q_report_volume_shipping",
    "q_report_market_share",
    "q_report_ship_priority",
    "q_report_top_supplier",
    "q_report_part_supp_count",
    "q_report_min_cost_supplier",
    "q_report_waiting_suppliers",
    "q_report_idle_customers",
    "q_distinct_on",
    "q_acf",
    "q_cusum",
    "q_oov_rate",
    "q_freq_topk_sketch",
    "q_contamination_score",
    "q_curriculum_order",
    "q_incremental_dedup",
    "q_stream_enrich",
    "q_window_time_range",
    "q_time_rollup",
)

R7B_QUERIES = (
    # round-7 second batch. q_benford/q_moving_median/q_chi_square are
    # aggregate-first like q_cusum (fact collapses to a calendar/digit
    # bounded table); included to confirm, not because risk is likely.
    "q_moving_median",
    "q_benford",
    "q_skyline",
    "q_limit_offset",
    "q_chi_square",
    "q_table_checksum",
    "q_image_decode",
    "q_audio_decode",
    "q_video_frames",
    "q_copurchase_pairs",
    "q_audience_overlap",
    "q_incremental_agg",
    "q_udf_arrow",
    "q_oov_rate",  # re-probe: vocab K changed to 20
    "q_report_important_stock",
    "q_report_excess_supply",
    "q_mix_temperature",
    "q_funnel_time",
    "q_ship_latency",
    "q_cohort_ltv",
    "q_spend_alerts",
    "q_seasonal_decompose",
    "q_rolling_corr",
    "q_lang_confusion",
    "q_filter_sweep",
    "q_bootstrap_ci",
)


KEY_SHIFT = 10_000_000_000

# Key columns each replica shifts by i * KEY_SHIFT; other tables are copied.
# lineitem/orders keep join cardinalities honest; documents/embeddings repeat
# their text and vectors (fine for timing; dedup finds the planted copies,
# which is realistic); events shift (event_id, user_id): k-times more USERS
# with the same per-user sequence depth — the realistic growth axis for
# event streams (windows/sessionization per user stay constant-size).
SHIFTED = {
    "lineitem": ("l_orderkey",),
    "orders": ("o_orderkey",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
    "events": ("event_id", "user_id"),
}


def build_scaled(spark, k: int) -> str:
    out = f"{SCALED_ROOT}/x{k}"
    if os.path.isdir(f"{out}/lineitem.parquet"):
        return out
    for t in TABLES:
        df = load_table(spark, BASE_SF, t)
        cols = SHIFTED.get(t, ())
        if cols:
            df = functools.reduce(
                DataFrame.unionAll,
                (
                    df.withColumns({c: F.col(c) + F.lit(i * KEY_SHIFT) for c in cols})
                    for i in range(k)
                ),
            )
        df.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
    return out


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    k = int(args[0]) if args else 10
    spark = get_spark("scale_probe")
    scaled = build_scaled(spark, k)

    keys = QUERIES
    if "--llm" in sys.argv:
        keys = LLM_QUERIES
    if "--r6" in sys.argv:
        keys = R6_QUERIES
    if "--r7" in sys.argv:
        keys = R7_QUERIES
    if "--r7b" in sys.argv:
        keys = R7B_QUERIES
    for a in sys.argv[1:]:
        # --keys=q_a,q_b: probe a named subset of the registry — for
        # re-probing changed operators
        if a.startswith("--keys="):
            keys = a[len("--keys="):].split(",")
    queries = registry.all_queries()

    def timed(name: str, sf_dir: str) -> tuple[float, int]:
        r = registry.time_key(spark, name, lambda: queries[name](spark, sf_dir))
        return round(r["construct_s"] + r["execute_s"], 3), r["rows"]

    results = {}
    for name in keys:
        timed(name, BASE_SF)  # warm (codegen, file listing)
        base, base_rows = timed(name, BASE_SF)
        big, big_rows = timed(name, scaled)
        entry = {
            "sf0.1_s": base,
            f"x{k}_s": big,
            "ratio": round(big / base, 1) if base > 0 else None,
            "rows": base_rows,
            f"x{k}_rows": big_rows,
        }
        # pair-emitting queries (dedup): in the replicated probe corpus the
        # TRUE pair count grows ~k^2 by construction (every planted copy
        # matches every other), so wall-ratio alone misreads as superlinear;
        # the per-output-row cost is the number that must stay flat.
        if big_rows > 0 and base_rows > 0 and big_rows > k * base_rows:
            entry["us_per_row"] = round(base * 1e6 / base_rows, 2)
            entry[f"x{k}_us_per_row"] = round(big * 1e6 / big_rows, 2)
        results[name] = entry
    print(json.dumps({"k": k, "results": results}))


if __name__ == "__main__":
    main()
