"""End-to-end streaming topology (streaming/e2e_pipeline.py):
source → wire → parse/dead-letter → enrich → watermarked window agg →
docstore, as one checkpointed pipeline (VERDICT r4 #5).

The registered query `stream_pipeline_e2e` carries the oracle
certification; these tests cover what the oracle can't: restart
mid-stream (checkpoint recovery + idempotent sink epochs) and the
dead-letter fan-out under injected corruption.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ecommerce_analytics_spark.streaming.e2e_pipeline import (
    read_dead_letters, read_rollup, run_pipeline,
)

EVENTS = "events.parquet"


def _events_path(sf_dir: str) -> str:
    return os.path.join(sf_dir, EVENTS)


def _batch_truth(spark, sf_dir, where=None):
    """The batch twin: hourly window × event_type rollup computed
    straight from the parquet scan."""
    from ecommerce_analytics_spark.io import load_table
    from ecommerce_analytics_spark.numerics import money_sum
    events = load_table(spark, sf_dir, "events")
    if where is not None:
        events = events.filter(where)
    return (events.groupBy(F.window("ts", "1 hour").alias("w"),
                           "event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 money_sum("value").alias("total_value"),
                 F.sum("event_id").cast("long").alias("id_checksum"))
            .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"),
                    "event_type", "n_events", "total_value",
                    "id_checksum"))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_pipeline_restart_mid_stream_matches_uninterrupted(
        spark, sf_dir, tmp_path):
    """Stop both queries after their first committed micro-batch (only
    the first replay file is landed), then restart from the same
    checkpoints with the rest landed and drain: the final store must
    equal the batch truth exactly — offsets resume, no window is lost
    or duplicated, and any replayed epoch is absorbed by the docstore's
    idempotent per-batch manifests."""
    run_dir = str(tmp_path / "restart_run")
    run_pipeline(spark, _events_path(sf_dir), run_dir, batch_rows=200,
                 stop_after_first_batch=True)
    # mid-stream: strictly fewer result rows than the full answer
    partial = read_rollup(spark, run_dir).count()
    run_pipeline(spark, _events_path(sf_dir), run_dir, batch_rows=200)
    final = read_rollup(spark, run_dir)
    truth = _batch_truth(spark, sf_dir)
    assert partial < truth.count()
    assert _rows(final) == _rows(truth)


def test_pipeline_dead_letter_routing(spark, sf_dir, tmp_path):
    """Every 10th event's wire payload is corrupted: corrupt lines land
    in the dead-letter store verbatim-prefixed, the rollup covers
    exactly the surviving events, and nothing is silently dropped —
    valid + dead == total (the observability the reference's
    drop-on-parse-failure never had, RealTimeAnalytics.java:79)."""
    from ecommerce_analytics_spark.io import load_table
    run_dir = str(tmp_path / "dead_run")
    run_pipeline(spark, _events_path(sf_dir), run_dir, batch_rows=300,
                 corrupt_every=10)
    events = load_table(spark, sf_dir, "events")
    n_total = events.count()
    n_corrupt = events.filter((F.col("event_id") % 10) == 0).count()
    dead = read_dead_letters(spark, run_dir)
    assert dead.count() == n_corrupt
    assert dead.filter(F.col("raw").startswith("{corrupt!")).count() \
        == n_corrupt
    rollup = read_rollup(spark, run_dir)
    assert rollup.agg(F.sum("n_events")).first()[0] \
        == n_total - n_corrupt
    truth = _batch_truth(spark, sf_dir,
                         where=(F.col("event_id") % 10) != 0)
    assert _rows(rollup) == _rows(truth)


def test_streaming_session_window_append_gap_close_parity(
        spark, sf_dir, tmp_path):
    """Session windows in APPEND mode: a session only emits when the
    watermark passes its close (last event + gap) — the gap-close
    semantics the complete-mode twin in test_streaming.py sidesteps.
    The sentinel-punctuated replay pushes the watermark past every real
    session, so the appended output must equal the oracle-certified
    batch sessionize_native rollup exactly; the sentinel's own session
    never closes and must not appear."""
    from ecommerce_analytics_spark.plans.registry import query_map
    from ecommerce_analytics_spark.numerics import money_sum
    from ecommerce_analytics_spark.sources.simulator import write_replay
    from ecommerce_analytics_spark.streaming.e2e_pipeline import run_to_end
    from ecommerce_analytics_spark.streaming.windows import streaming_events

    replay_dir = str(tmp_path / "replay")
    write_replay(_events_path(sf_dir), replay_dir, 250)
    stream = streaming_events(spark, replay_dir, max_files_per_trigger=1)
    agg = (
        stream
        .withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"),
             F.count(F.lit(1)).cast("long").alias("n_events"),
             money_sum("value").alias("total_value"))
        .select("user_id", "session_start", "session_end",
                "n_events", "total_value")
    )
    q = (agg.writeStream.format("memory").queryName("sess_append")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "sess_ck"))
         .trigger(availableNow=True).start())
    run_to_end([q])
    got = _rows(spark.sql("SELECT * FROM sess_append"))
    truth = _rows(query_map()["sessionize_native"](spark, sf_dir))
    assert got == truth
    assert all(r[0] != -1 for r in got)  # sentinel session never closed


def test_sentinel_invisible_in_output(spark, sf_dir, tmp_path):
    """The end-of-replay sentinel advances the watermark (all real
    windows flush) but never appears in the rollup."""
    from ecommerce_analytics_spark.sources.simulator import (
        SENTINEL_EVENT_TYPE,
    )
    run_dir = str(tmp_path / "sentinel_run")
    run_pipeline(spark, _events_path(sf_dir), run_dir, batch_rows=500)
    rollup = read_rollup(spark, run_dir)
    assert rollup.filter(
        F.col("event_type") == SENTINEL_EVENT_TYPE).count() == 0
    # all real windows flushed: row count equals the batch truth
    assert rollup.count() == _batch_truth(spark, sf_dir).count()


def test_pipeline_source_error_raises_not_hangs(spark, tmp_path):
    """A broken source must surface as an exception (from the replay
    writer, or from awaitTermination when a query dies), never as a
    silent wait-until-timeout."""
    import pytest

    from ecommerce_analytics_spark.streaming.e2e_pipeline import (
        run_pipeline,
    )
    with pytest.raises(Exception) as exc:
        run_pipeline(spark, str(tmp_path / "nope.parquet"),
                     str(tmp_path / "err_run"), timeout_s=60)
    assert "TimeoutError" not in type(exc.value).__name__


# Driver-budget tiering (see pytest.ini): this file is in the heavy
# tier — excluded from the default `pytest tests/` run, executed by
# the full gate (tools/run_tests_parallel.py / `-o addopts=`).
import pytest as _pytest_mod

pytestmark = _pytest_mod.mark.heavy
