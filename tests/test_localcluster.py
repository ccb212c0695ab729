"""Always-on pytest gate for the multi-JVM local-cluster wave
(``tools/certify.py localcluster``, LOCALCLUSTER_r11.json): a fresh
subprocess runs a 2-executor ``local-cluster`` session — separate
executor JVMs, real task/closure serialization, RPC broadcast,
network shuffle fetch — proves the process boundary exists (>= 2
distinct pyspark-daemon parent PIDs), and runs 4 representative
queries (flagship window classification, the co-occurrence
recommendation join, keyed LTV, MinHash-LSH dedup) whose value hashes
must equal this suite's single-JVM session results at sf0.001."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_localcluster_gate_matches_single_jvm(spark, sf_dir):
    from tools.certify import GATE_QUERIES
    from ecommerce_analytics_spark.plans.registry import query_map
    from ecommerce_analytics_spark.testing import value_hash

    env = dict(os.environ)
    env["SPARK_GRAFT_MASTER"] = "local-cluster[2,4,4096]"
    env["SPARK_GRAFT_EXTRA_CONF"] = (
        f"spark.executor.memory=3g;"
        f"spark.executorEnv.PYTHONPATH={REPO}")
    proc = subprocess.run(
        [sys.executable, f"{REPO}/tools/certify.py", "--worker", "probe",
         sf_dir],
        env=env, cwd=REPO, capture_output=True, text=True, timeout=900)
    rec = {}
    for line in (proc.stdout or "").splitlines():
        if line.startswith("{"):
            try:
                rec = json.loads(line)
            except ValueError:
                pass
    assert rec, f"gate worker failed rc={proc.returncode}: " \
                f"{(proc.stderr or '')[-800:]}"
    assert str(rec["master"]).startswith("local-cluster")
    assert len(rec["distinct_daemon_ppids"]) >= 2, \
        "python workers not split across executor JVMs"

    qmap = query_map()
    for name in GATE_QUERIES:
        want = value_hash(qmap[name](spark, sf_dir).toPandas())
        assert rec["hashes"][name] == want, \
            f"{name}: multi-JVM hash drifted from single-JVM"


# Driver-budget tiering (see pytest.ini): this file is in the heavy
# tier — excluded from the default `pytest tests/` run, executed by
# the full gate (tools/run_tests_parallel.py / `-o addopts=`).
import pytest as _pytest_mod

pytestmark = _pytest_mod.mark.heavy
