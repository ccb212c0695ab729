"""Task-retry (replay) invariance — round 9 (VERDICT r8 #2).

The full-registry gate is ``tools/certify.py retry`` (an injected
sweep against the quiet baseline sweep, artifact RETRY_r9.json). This
pytest keeps the always-on core: a fresh subprocess session built with ``SPARK_GRAFT_FAULT_
INJECT=1`` (every driver-table scan fails its first attempt on every
third task — io._maybe_fault_inject) and ``SPARK_GRAFT_TASK_
RETRIES=4`` (local[N,4], since plain local[N] kills the job on any
task failure) must produce value-hash-identical results to the quiet
shared session for queries spanning every scanned table.

Speculation itself is cluster-only (TaskSchedulerImpl starts the
speculation thread only on non-local backends — probed empirically in
tools/certify.py); failed-then-retried attempts exercise the same
correctness surface: the same input partition computed more than
once, one attempt's output winning.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One per scanned table family: lineitem agg, orders⋈customer join,
# events window, documents dedup, embeddings knn.
QUERIES = [
    "pricing_summary",
    "sales_by_region_year",
    "ltv_running",
    "dedup_exact",
    "knn_bruteforce",
]

_CHILD = """
import json, sys
sys.path.insert(0, {repo!r})
from ecommerce_analytics_spark.session import get_spark
from ecommerce_analytics_spark.plans.registry import all_queries
from ecommerce_analytics_spark.testing import value_hash
spark = get_spark("retry-invariance")
reg = all_queries()
out = {{}}
for name in {queries!r}:
    q = reg[name]
    out[name] = value_hash(q.spark_fn(spark, {sf!r}).toPandas(),
                           float_sig=q.float_sig)
print("VH-JSON:" + json.dumps(out))
"""


@pytest.fixture(scope="module")
def injected_vhs(sf_dir):
    env = dict(os.environ,
               SPARK_GRAFT_FAULT_INJECT="1",
               SPARK_GRAFT_TASK_RETRIES="4",
               SPARK_GRAFT_CPUS="8",
               SPARK_GRAFT_DRIVER_MEM="4g")
    proc = subprocess.run(
        [sys.executable, "-c",
         _CHILD.format(repo=REPO, queries=QUERIES, sf=sf_dir)],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=900)
    marker = [ln for ln in proc.stdout.splitlines()
              if ln.startswith("VH-JSON:")]
    assert marker, (
        f"injected child produced no result:\n{proc.stderr[-2000:]}")
    return json.loads(marker[0][len("VH-JSON:"):])


@pytest.mark.parametrize("name", QUERIES)
def test_result_invariant_to_task_retry(spark, sf_dir, name,
                                        injected_vhs):
    from ecommerce_analytics_spark.plans.registry import all_queries
    from ecommerce_analytics_spark.testing import value_hash

    q = all_queries()[name]
    quiet_vh = value_hash(q.spark_fn(spark, sf_dir).toPandas(),
                          float_sig=q.float_sig)
    assert injected_vhs[name] == quiet_vh, (
        f"{name}: result depends on task attempt identity")


# Driver-budget tiering (see pytest.ini): this file is in the heavy
# tier — excluded from the default `pytest tests/` run, executed by
# the full gate (tools/run_tests_parallel.py / `-o addopts=`).
import pytest as _pytest_mod

pytestmark = _pytest_mod.mark.heavy
