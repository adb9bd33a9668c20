"""Text dedup keys (operators/llm_dedup.py): the dedup pipeline's
totality and the shingle helpers behind the shingle-based keys."""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet_to_clickhouse_schema_spark import registry
from parquet_to_clickhouse_schema_spark.operators.llm_dedup import (
    shingle_array,
    shingle_array_of_toks,
)
from parquet_to_clickhouse_schema_spark.sources.io import load_table
from tests.conftest import SF_SMOKE

Q = registry.all_queries()


def test_dedup_pipeline_total_and_consistent(spark):
    """q_dedup_pipeline must be a TOTAL map (one row per document), every
    keeper must keep itself ('self'), and exact-reason docs must share the
    keeper's normalized text."""
    rows = Q["q_dedup_pipeline"](spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    assert len(rows) == d.count()
    by_id = {r.doc_id: r for r in rows}
    norm = {r.doc_id: r.text.strip().lower() for r in d.select("doc_id", "text").collect()}
    for r in rows:
        k = by_id[r.keeper_id]
        assert k.reason == "self" and k.keeper_id == k.doc_id
        if r.reason == "exact":
            assert norm[r.doc_id] == norm[r.keeper_id]
        elif r.reason == "self":
            assert r.doc_id == r.keeper_id
        else:
            assert norm[r.doc_id] != norm[r.keeper_id]


def test_shingle_of_toks_matches_shingle_of_text(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g"),
            (2, "x y"),  # shorter than SHINGLE_K: single short shingle
            (3, "one"),
            (4, "p q r s t u v w x y z aa bb cc"),
        ],
        "doc_id bigint, text string",
    )
    old = docs.select("doc_id", shingle_array("text").alias("sh"))
    new = docs.select(
        "doc_id", F.split("text", " ").alias("_toks")
    ).select("doc_id", shingle_array_of_toks(F.col("_toks")).alias("sh"))
    assert sorted(map(tuple, old.collect())) == sorted(map(tuple, new.collect()))
