#!/usr/bin/env python
"""Content-growing scale probe for the vocab-bounded text models
(VERDICT r17 task #6).

The standard scale_probe replicates the corpus k-times with shifted keys,
which is honest for join/agg cardinality but adds ZERO new tokens by
construction — so for Heaps'-bounded operators like
`q_source_js_divergence` and `q_tokenizer_fertility` it exercises only
the scan+map-side-combine stage while the (source|lang, tok) state stays
1x (the SCALE.md r17 caveat). This probe grows the CONTENT instead: each
replica r rewrites every token `t` -> `t·r` digit-suffixed, so replica
vocabularies are pairwise disjoint and the model-state tables grow a full
k x alongside the corpus — the worst case for these plans (real crawls
grow vocab ~n^0.5 per Heaps' law; k-fold disjoint vocab is the
adversarial ceiling).

Method (scale_probe parity): build k=1 and k=20 corpora under /tmp from
the sf0.1 documents table, warm the session, time each query
construction+execution (noop sink) 3x, report medians, the measured
state growth (n_types sums from the query outputs themselves), and the
per-output-row microseconds at both scales.

Usage: python scripts/vocab_growth_probe.py [k]     (default 20)
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from parquet_to_clickhouse_schema_spark import registry  # noqa: E402
from parquet_to_clickhouse_schema_spark.functions import text_models  # noqa: E402
from parquet_to_clickhouse_schema_spark.session import get_spark  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"
ROOT = "/tmp/spark_graft_vocab_probe"

QUERIES = {
    "q_source_js_divergence": text_models.q_source_js_divergence,
    "q_tokenizer_fertility": text_models.q_tokenizer_fertility,
}


def build_corpus(spark, k: int, out_dir: str) -> None:
    """k disjoint-vocab replicas: token t in replica r becomes `t·r`
    (middle-dot never appears in the synthetic corpus, so suffixing
    cannot collide two originally-distinct tokens), doc_ids shifted per
    replica. Done as one Spark job — no driver-side text."""
    if os.path.isdir(os.path.join(out_dir, "documents.parquet")):
        return
    d = spark.read.parquet(os.path.join(BASE_SF, "documents.parquet"))
    reps = spark.range(k).select(F.col("id").cast("int").alias("rep"))
    scaled = (
        d.crossJoin(reps)
        .withColumn(
            "text",
            F.when(
                F.col("rep") == 0, F.col("text")
            ).otherwise(
                F.concat(
                    F.array_join(
                        F.transform(
                            F.split("text", " "),
                            lambda t: F.concat(
                                t, F.lit("·"), F.col("rep").cast("string")
                            ),
                        ),
                        " ",
                    )
                )
            ),
        )
        .withColumn(
            "doc_id",
            F.concat(F.col("doc_id"), F.lit("#"), F.col("rep").cast("string")),
        )
        .drop("rep")
    )
    scaled.write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )


def state_size(spark, sf_dir: str) -> dict:
    """The two state tables the plans materialize: (source, tok) and
    (lang, tok) distinct counts, plus total tokens."""
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    tok = d.select(
        "source", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    row = tok.agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("source", "tok").alias("source_tok_state"),
        F.countDistinct("lang", "tok").alias("lang_tok_state"),
    ).collect()[0]
    return dict(row.asDict())


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    spark = get_spark("vocab_growth_probe")
    dirs = {1: os.path.join(ROOT, "k1"), k: os.path.join(ROOT, f"k{k}")}
    for kk, dd in dirs.items():
        build_corpus(spark, kk, dd)

    out: dict[str, dict] = {"k": k, "states": {}}
    for kk, dd in dirs.items():
        out["states"][f"k{kk}"] = state_size(spark, dd)

    # warmup: one cheap scan per corpus so file listing/footers are hot
    for dd in dirs.values():
        spark.read.parquet(os.path.join(dd, "documents.parquet")).count()

    for name, fn in QUERIES.items():
        timed = {}
        for kk, dd in dirs.items():
            runs = [
                registry.time_key(spark, name, lambda dd=dd: fn(spark, dd))
                for _ in range(3)
            ]
            samples = [round(r["construct_s"] + r["execute_s"], 3) for r in runs]
            timed[kk] = (round(statistics.median(samples), 3), samples, runs[0]["rows"])
        (m1, s1, r1), (mk, sk, rk) = timed[1], timed[k]
        out[name] = {
            "t_1x_s": m1,
            "t_kx_s": mk,
            "ratio": round(mk / m1, 2),
            "reps_1x": s1,
            "reps_kx": sk,
            "rows_1x": r1,
            "rows_kx": rk,
            "us_per_row_1x": round(m1 * 1e6 / max(r1, 1), 1),
            "us_per_row_kx": round(mk * 1e6 / max(rk, 1), 1),
        }
        print(json.dumps({name: out[name]}), flush=True)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
