"""Central query registry: merges every operator module's QUERIES/ORACLES.

`queries()` / `oracle_sql()` in __spark_entry__.py are thin wrappers over
this module. Every key here is a row of SURVEY.md §2.2; a key appears in
ORACLES only when its DuckDB twin hash-matches (rows-only otherwise).
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from parquet_to_clickhouse_schema_spark.functions import (
    scalar,
    text_core,
    text_models,
)
from parquet_to_clickhouse_schema_spark.operators import (
    aggregation,
    core,
    dq,
    graph,
    llm_ann,
    llm_cluster,
    llm_dedup,
    llm_eval,
    llm_media,
    merge,
    relational,
    reports,
    retrieval,
    skew,
    sortset,
    sqlfeatures,
    timeseries,
    training,
    udfs,
    windows,
)
from parquet_to_clickhouse_schema_spark.streaming import batch_twins

_MODULES = [
    core,
    relational,
    reports,
    retrieval,
    aggregation,
    windows,
    sortset,
    sqlfeatures,
    scalar,
    text_core,
    text_models,
    batch_twins,
    llm_dedup,
    llm_ann,
    llm_cluster,
    llm_media,
    llm_eval,
    timeseries,
    training,
    udfs,
    skew,
    merge,
    graph,
    dq,
]

# SURVEY.md §2.2's declared engine contract, in SURVEY order. These keys are
# emitted FIRST from all_queries(): the round driver sweeps queries() in dict
# order under a budget (the r1 sweep stopped after 50 entries, leaving the
# LLM/streaming/UDF contract families unchecked), so contract keys must
# register ahead of the beyond-contract extras.
CONTRACT_KEYS = (
    "q_schema_infer",
    "q_ddl_clickhouse",
    "q_ddl_sparksql",
    "q_scan_project",
    "q_filter_pred",
    "q_join_broadcast",
    "q_join_sortmerge",
    "q_join_multiway",
    "q_join_left",
    "q_join_semi",
    "q_join_anti",
    "q_join_range",
    "q_join_asof",
    "q_agg_hash",
    "q_agg_distinct",
    "q_agg_approx_distinct",
    "q_rollup",
    "q_cube",
    "q_grouping_sets",
    "q_agg_filtered",
    "q_window_rank",
    "q_window_lag",
    "q_window_frame",
    "q_window_range_frame",
    "q_topk",
    "q_topk_per_group",
    "q_union",
    "q_intersect",
    "q_except",
    "q_string_funcs",
    "q_date_funcs",
    "q_math_funcs",
    "q_cond_funcs",
    "q_array_funcs",
    "q_explode",
    "q_map_funcs",
    "q_json_funcs",
    "q_tumbling_window",
    "q_sliding_window",
    "q_session_window",
    "q_stream_dedup",
    "q_dedup_exact",
    "q_near_dedup_minhash",
    "q_cosine_topk",
    "q_text_stats",
    "q_multimodal_cols",
    "q_udf_python",
    "q_udf_pandas",
    "q_udaf_grouped",
)
# Round-18 sweep priority: the driver checks the FIRST ~50 queries() keys.
# After r17 the freshness backlog is exactly the 22 keys whose latest row
# is r11 (the r17 rotation's documented overflow tail — VERDICT r17 task
# #1 names all 22); every other key is r12+. r18 leads with those 22, then
# any new r18 keys (first driver row), then the first 28 r12-era keys in
# ledger (alphabetical) order — the 50-key budget. The remaining 22 r12
# keys overflow to r19. Zero overlap with the r17 sweep set.
SWEEP_PRIORITY = (
    # (a) r11-era tail, VERDICT r17 "What's missing" #2 (22 keys)
    "q_linear_probe",
    "q_lsh_param_sweep",
    "q_mann_whitney",
    "q_map_eval",
    "q_markov_stationary",
    "q_matryoshka_eval",
    "q_max_concurrency",
    "q_mh_odds",
    "q_minhash_union",
    "q_mrr",
    "q_ndcg",
    "q_pareto_8020",
    "q_pca_power",
    "q_price_index",
    "q_quantile_normalize",
    "q_sequence_count",
    "q_snapshot_diff",
    "q_twap",
    "q_weighted_quantile",
    "q_window_funnel",
    "q_wsample_es",
    "q_zorder_preview",
    # (b) new r18 keys — never swept — first driver row
    "q_column_sizes",
    # (c) r12-era refresh, ledger (alphabetical) order (28 keys)
    "q_ab_srm_check",
    "q_agg_collect",
    "q_agg_distinct_twophase",
    "q_bloom_fpr_plan",
    "q_chunk_docs",
    "q_churn_features",
    "q_class_weights",
    "q_cosine_topk",
    "q_cross_source_dups",
    "q_data_split",
    "q_decontaminate",
    "q_dedup_clusters",
    "q_dedup_embedding",
    "q_dedup_ngram",
    "q_doc_fingerprint",
    "q_dup_cluster_sizes",
    "q_embed_centroid",
    "q_explode_pos",
    "q_freq_topk_sketch",
    "q_funnel",
    "q_gapfill_ffill",
    "q_islands",
    "q_join_full",
    "q_lang_id",
    "q_lateral_join",
    "q_map_funcs",
    "q_negative_sampling_freq",
    # ---- ~50-budget line ----
)

QueryFn = Callable[[SparkSession, str], DataFrame]


def _merged_queries() -> dict[str, QueryFn]:
    out: dict[str, QueryFn] = {}
    for m in _MODULES:
        overlap = set(out) & set(m.QUERIES)
        if overlap:
            raise ValueError(f"duplicate query keys: {overlap}")
        out.update(m.QUERIES)
    return out


def _emission_order(merged_keys) -> list[str]:
    """Sweep-priority keys first, then remaining contract keys, then extras."""
    out = [k for k in SWEEP_PRIORITY if k in merged_keys]
    out.extend(k for k in CONTRACT_KEYS if k in merged_keys and k not in out)
    out.extend(k for k in merged_keys if k not in set(out))
    return out


def all_queries() -> dict[str, QueryFn]:
    merged = _merged_queries()
    missing = [k for k in CONTRACT_KEYS if k not in merged]
    if missing:
        raise ValueError(f"contract keys not registered: {missing}")
    missing_prio = [k for k in SWEEP_PRIORITY if k not in merged]
    if missing_prio:
        raise ValueError(f"sweep-priority keys not registered: {missing_prio}")
    return {k: merged[k] for k in _emission_order(merged)}


def all_oracles() -> dict[str, str]:
    merged: dict[str, str] = {}
    for m in _MODULES:
        overlap = set(merged) & set(m.ORACLES)
        if overlap:
            raise ValueError(f"duplicate oracle keys: {overlap}")
        merged.update(m.ORACLES)
    # Same priority-first ordering as all_queries(), in case the driver
    # iterates oracle keys rather than query keys.
    return {k: merged[k] for k in _emission_order(merged)}


# The local properties SparkContext.setJobGroup sets; key_scope restores them.
_JOB_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


@contextmanager
def key_scope(spark: SparkSession, key: str) -> Iterator[Callable[[], int]]:
    """Tag every Spark job started inside the block with a fresh job group
    described as ``key``. Yields a callable returning how many jobs the
    group has started; jobs of a nested scope count only there. The
    caller's job group is restored on exit, also when the block raises."""
    sc = spark.sparkContext
    saved = [(p, sc.getLocalProperty(p)) for p in _JOB_GROUP_PROPS]
    group = f"key-{uuid.uuid4().hex}"
    sc.setJobGroup(group, key)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for prop, value in saved:
            sc.setLocalProperty(prop, value)


def time_key(spark: SparkSession, key: str, build: Callable[[], DataFrame]) -> dict:
    """One run of a key: ``build()`` inside the timer under one key scope,
    then a noop-sink write that counts rows through an Observation under a
    second. Returns construct_s, execute_s, rows, construct_jobs and jobs
    (construct plus execute)."""
    obs = Observation()
    with key_scope(spark, key) as construct_jobs:
        t0 = time.perf_counter()
        df = build()
        construct_s = time.perf_counter() - t0
    with key_scope(spark, key) as execute_jobs:
        t0 = time.perf_counter()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
            "overwrite"
        ).save()
        execute_s = time.perf_counter() - t0
    n_construct = construct_jobs()
    return {
        "construct_s": construct_s,
        "execute_s": execute_s,
        "rows": obs.get["rows"],
        "construct_jobs": n_construct,
        "jobs": n_construct + execute_jobs(),
    }
