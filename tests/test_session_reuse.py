"""A warm session reuses its per-session work: generated classes stay in
Spark's codegen cache across repeated queries, and io.load_table infers
a parquet schema once per file set instead of on every read."""

from __future__ import annotations

import importlib.util
import pathlib
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from ecommerce_analytics_spark.io import load_table

REPO = pathlib.Path(__file__).resolve().parents[1]


def _headline() -> list[str]:
    spec = importlib.util.spec_from_file_location("bench", REPO / "bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench.HEADLINE


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _jobs_launched(spark, group: str, fn):
    """Run ``fn()`` under job group ``group``; return (result, job ids)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_second_headline_cycle_reuses_generated_classes(spark, sf_dir):
    from ecommerce_analytics_spark.plans.registry import query_map

    queries = query_map()
    names = _headline()

    def cycle():
        for name in names:
            spark.catalog.clearCache()
            queries[name](spark, sf_dir).write.mode("overwrite") \
                .format("noop").save()
        spark.catalog.clearCache()

    cycle()
    before = _compilations(spark)
    cycle()
    # the stock 100-entry cache recompiles ~210 classes here; with the
    # stage id in class names, a new AQE stage order added up to 6
    assert _compilations(spark) - before <= 2


def test_second_load_table_launches_no_job(spark, sf_dir, tmp_path):
    shutil.copy(f"{sf_dir}/orders.parquet", tmp_path / "orders.parquet")
    first, jobs1 = _jobs_launched(
        spark, "reuse-first-load",
        lambda: load_table(spark, str(tmp_path), "orders"))
    second, jobs2 = _jobs_launched(
        spark, "reuse-second-load",
        lambda: load_table(spark, str(tmp_path), "orders"))
    assert jobs1, "schema inference launched no job: the probe is blind"
    assert jobs2 == []
    assert second.schema == first.schema


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a", "b"]
    pq.write_table(pa.table({"a": [3], "b": ["z"], "c": [1.5]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b", "c"]
    assert [tuple(r) for r in df.collect()] == [(3, "z", 1.5)]


def test_session_shows_no_console_progress(spark):
    # progress bars on stderr interleave with sweep/certify records
    assert spark.sparkContext.getConf().get(
        "spark.ui.showConsoleProgress") == "false"
