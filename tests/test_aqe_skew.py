"""AQE skew-join-FIRED invariance (round 9 — VERDICT r8 #1).

The full-registry version of this gate is ``tools/certify.py aqeskew``
(two sweeps on the skewed fixture, artifact AQESKEW_r9.json). This
pytest keeps the always-on core:

* a canary proving ``OptimizeSkewedJoin`` REALLY fires under the
  wave's lowered thresholds — the r7 tie-pairing defect class was
  diagnosed as "skew-activated AQE paths", yet no gate had ever made
  the optimizer take that path until this round;
* the most join-dense registry queries on the skewed fixture
  (tools/skew_fixture.py: mega-customer / mega-order / mega-user,
  value-clean), each oracle-compared AND hash-compared between the
  skew-fired session and the default session.

All the perturbation confs are runtime-settable, so the shared test
session serves both sides; conf is restored even on failure.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

SKEW_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "4k",
}

# Join-dense queries whose plans touch the skewed keys (o_custkey /
# l_orderkey / user_id); sales_by_region_year is the proven
# skew-firing canary from the wave.
QUERIES = [
    "sales_by_region_year",
    "shipping_priority",
    "popular_products",
    "product_recommendations",
    "asof_prior_purchase",
    "top_product_per_nation",
    "customer_order_distribution",
    "post_purchase_attribution",
    "ltv_running",
]


@pytest.fixture(scope="module")
def skewed_sf(sf_dir, tmp_path_factory):
    from skew_fixture import build_skewed
    out = tmp_path_factory.mktemp("aqeskew")
    return build_skewed(sf_dir, str(out))


def _final_plan(spark, df) -> str:
    return spark._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


class _flipped:
    def __init__(self, spark, confs):
        self.spark, self.confs = spark, confs

    def __enter__(self):
        self.saved = {k: self.spark.conf.get(k, None) for k in self.confs}
        for k, v in self.confs.items():
            self.spark.conf.set(k, v)

    def __exit__(self, *exc):
        for k, v in self.saved.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)


def test_skew_split_actually_fires(spark):
    """One hot key + lowered thresholds ⇒ SortMergeJoin(skew=true) in
    the POST-EXECUTION plan. If Spark's conf names or AQE behavior
    drift, this canary fails before the wave certifies vacuously."""
    from pyspark.sql import functions as F

    with _flipped(spark, SKEW_CONFS):
        left = spark.range(300_000).select(
            F.lit(42).alias("k"), F.col("id").alias("v")).union(
            spark.range(100_000).select(
                (F.col("id") % 2000).alias("k"), F.col("id").alias("v")))
        right = spark.range(2000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        j = left.join(right, "k").groupBy().agg(
            F.sum("v").alias("sv"), F.sum("w").alias("sw"))
        rows = j.collect()
        plan = _final_plan(spark, j)
    assert "skew=true" in plan, "OptimizeSkewedJoin never fired"
    assert rows[0].sv is not None


@pytest.mark.parametrize("name", QUERIES)
def test_result_invariant_to_skew_split(spark, skewed_sf, name):
    from ecommerce_analytics_spark.plans.registry import all_queries
    from ecommerce_analytics_spark.testing import (
        compare_frames, duckdb_oracle, value_hash)

    q = all_queries()[name]
    default_pdf = q.spark_fn(spark, skewed_sf).toPandas()
    with _flipped(spark, SKEW_CONFS):
        skew_pdf = q.spark_fn(spark, skewed_sf).toPandas()
    if q.oracle:
        problems = compare_frames(
            skew_pdf, duckdb_oracle(q.oracle, skewed_sf), name,
            float_sig=q.float_sig)
        assert not problems, "\n".join(problems)
    assert (value_hash(skew_pdf, float_sig=q.float_sig)
            == value_hash(default_pdf, float_sig=q.float_sig)), (
        f"{name}: result depends on AQE skew splitting")


# Driver-budget tiering (see pytest.ini): this file is in the heavy
# tier — excluded from the default `pytest tests/` run, executed by
# the full gate (tools/run_tests_parallel.py / `-o addopts=`).
import pytest as _pytest_mod

pytestmark = _pytest_mod.mark.heavy
