"""Executor-side code must not need the package on the executors' path.

Spark's Python workers import what a task pickled by reference. When the
package is reachable only through the driver's ``sys.path`` (no
``PYTHONPATH``, a working directory outside the repo), a by-reference
function fails every task with ``ModuleNotFoundError``. This runs the
two in-task greedy loops (MMR, BPE) and the three in-task fixed-step
loops (PCA, linear probe, Markov chain) in exactly that setting.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import SF_SMOKE

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import json, sys
sys.path.insert(0, {repo!r})
import pyarrow.parquet as pq
from parquet_to_clickhouse_schema_spark.functions.text_core import q_bpe_train
from parquet_to_clickhouse_schema_spark.operators.llm_eval import (
    q_linear_probe, q_pca_power)
from parquet_to_clickhouse_schema_spark.operators.retrieval import q_mmr_diversify
from parquet_to_clickhouse_schema_spark.session import get_spark
from parquet_to_clickhouse_schema_spark.streaming.batch_twins import (
    q_markov_stationary)

spark = get_spark("portability")
print(json.dumps({{
    "mmr_rows": q_mmr_diversify(spark, {sf!r}).count(),
    "bpe_rows": q_bpe_train(spark, {sf!r}).count(),
    "pca_rows": q_pca_power(spark, {sf!r}).count(),
    "probe_rows": q_linear_probe(spark, {sf!r}).count(),
    "markov_rows": q_markov_stationary(spark, {sf!r}).count(),
    "event_types": len(set(pq.read_table({sf!r} + "/events.parquet",
                                         columns=["event_type"])
                           .column(0).to_pylist())),
}}))
"""


def test_executor_code_runs_without_package_on_worker_path(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE.format(repo=_REPO, sf=SF_SMOKE)],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=tmp_path,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out.pop("markov_rows") == out.pop("event_types")
    assert out == {
        "mmr_rows": 4,
        "bpe_rows": 6,
        "pca_rows": 64,
        "probe_rows": 4,
    }
