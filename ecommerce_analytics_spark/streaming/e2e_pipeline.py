"""The full streaming topology as ONE checkpointed pipeline (§3.2).

The reference's runtime is a single dataflow: Kafka source → JSON parse
(drop on failure) → keyBy → enrichment → fan-out to two sinks
(RealTimeAnalytics.java:48-104). Rounds 1-4 certified every stage of
that topology piecewise (parse/dead-letter, enrichment, watermark
windows, sinks each have their own tests); this module composes them
into one checkpointed Structured Streaming pipeline and certifies the
WHOLE path against the DuckDB oracle:

    replay files (sources/simulator.write_replay: time-ordered parquet,
      one micro-batch per file, sentinel-punctuated) → file-stream source
      → to_json wire serialization (the S4 producer shape)
      → from_json parse + corrupt routing (P12/T7,
        RealTimeAnalytics.java:65-82 — reference drops; we dead-letter)
      → segment/risk enrichment (P13/P14, EnrichmentFunction.java:38-52)
      → watermarked hourly window × event_type aggregate (A6/T4/T5)
      → docstore sink (S7: foreachBatch + Spark's JSON writer,
        manifest-commit protocol, idempotent epochs)

plus the dead-letter fan-out as a second sink query — Spark's unit of
execution is one sink per streaming query, so the reference's dual
Kafka+Mongo fan-out (RealTimeAnalytics.java:90-104) maps to two
queries over the same replay, each with its own checkpoint. Every
stage runs in the JVM; no Python worker process is on the stream path.

End-of-replay flush: a finite replay feeding a watermarked aggregation
never closes its last windows (the watermark trails max observed event
time). The replay's last file ends with one synthetic sentinel row far
past the last real event; it advances the watermark past every real
window while its OWN window never closes, so it is invisible in append
output — no filter needed (and none wanted: a pre-aggregation filter
gets pushed below the EventTimeWatermark node by Catalyst, which would
hide the sentinel from the watermark tracker).

Drain rule: both queries run under ``Trigger.AvailableNow``, which
fixes the input (the files present at start) and, after the last file,
runs the no-data batch in which the sentinel-advanced watermark
flushes state. A query has drained exactly when it terminates, so the
runner only waits for termination (``run_to_end``); nothing polls
progress.

Scale notes (100 TB): the only stateful exchange is the window×type
aggregation — partial aggregation map-side, state hash-partitioned on
the group key, watermark bounds state to ~watermark-horizon windows.
Parse/enrich/serialize are stateless map stages fused by codegen. The
wire roundtrip serializes timestamps with explicit microseconds
(``yyyy-MM-dd'T'HH:mm:ss.SSSSSS``) — the bare ISO-second shape the
reference uses (§1.3) would silently truncate sub-second event times
and flip window assignment for boundary rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_analytics_spark.streaming.pipeline import (
    parse_event_lines, split_dead_letter,
)

WIRE_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
RESULT_SCHEMA = ("window_start string, event_type string, "
                 "n_events bigint, total_value double, "
                 "id_checksum bigint")


def to_wire(events: DataFrame, corrupt_every: int | None = None) -> DataFrame:
    """S4 producer serialization: one JSON line per event.

    ``corrupt_every`` deterministically mangles every k-th event_id's
    payload (test harness for the dead-letter path — the reference has
    no way to even observe its parse failures)."""
    payload = F.to_json(F.struct(
        "event_id",
        F.date_format("ts", WIRE_TS_FMT).alias("ts"),
        "user_id", "event_type", "value",
    ))
    if corrupt_every:
        payload = F.when(
            (F.col("event_id") >= 0)
            & (F.col("event_id") % corrupt_every == 0),
            F.concat(F.lit("{corrupt!"), payload),
        ).otherwise(payload)
    return events.select(payload.alias("value"))


def enrich(valid: DataFrame) -> DataFrame:
    """P13/P14 enrichment on the parsed stream (shared column exprs
    with the batch query — the parity contract)."""
    from ecommerce_analytics_spark.operators.events_enrichment import (
        risk_expr, segment_expr,
    )
    return valid.withColumn("user_segment", segment_expr()) \
                .withColumn("risk_score", risk_expr())


def windowed_rollup(enriched: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """A6/T4/T5: watermarked hourly tumbling window × event_type.

    Exact-cents revenue accumulator (numerics.money_sum — a long sum in
    state, one decimal multiply per emitted group), so the streaming
    result is bit-identical to the batch/DuckDB computation."""
    from ecommerce_analytics_spark.numerics import money_sum
    return (
        enriched
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
             money_sum("value").alias("total_value"),
             F.sum("event_id").cast("long").alias("id_checksum"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                .alias("window_start"),
                "event_type", "n_events", "total_value", "id_checksum")
    )


def build_pipeline(spark: SparkSession, replay_dir: str,
                   corrupt_every: int | None = None,
                   ) -> tuple[DataFrame, DataFrame]:
    """(windowed rollup, dead-letter lines) streaming DataFrames over
    the replay files in ``replay_dir`` (sources/simulator.write_replay).
    Callers attach sinks + checkpoints.

    The two sink queries read the replay INDEPENDENTLY (each streaming
    query owns its source log), so each gets the reader shape its
    semantics need: the stateful rollup takes one file per micro-batch
    (cross-batch state + watermark flush); the stateless dead-letter
    route needs neither and reads every file in one batch."""
    from ecommerce_analytics_spark.streaming.windows import streaming_events
    valid, _ = split_dead_letter(parse_event_lines(to_wire(
        streaming_events(spark, replay_dir, max_files_per_trigger=1),
        corrupt_every)))
    _, dead = split_dead_letter(parse_event_lines(to_wire(
        streaming_events(spark, replay_dir), corrupt_every)))
    return windowed_rollup(enrich(valid)), dead


def start_docstore_query(df: DataFrame, store: str, checkpoint: str):
    """Start ``df`` in append mode under ``Trigger.AvailableNow``,
    committing each epoch to the docstore at ``store`` (foreachBatch +
    sources/docstore.write_docstore: Spark's JSON writer, manifest
    keyed by batch id). The query ends on its own once the replay is
    consumed; see ``run_to_end``."""
    from ecommerce_analytics_spark.sources.docstore import write_docstore
    return (df.writeStream.outputMode("append")
            .foreachBatch(lambda batch, epoch:
                          write_docstore(batch, store, epoch))
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def run_to_end(queries, timeout_s: float = 300.0) -> None:
    """Wait for AvailableNow queries to finish. Raises a query's own
    exception, or TimeoutError past ``timeout_s``; every query is
    stopped on the way out.

    AvailableNow fixes the end of the input when the query starts and
    runs the no-data batch that follows the last file, which is the
    batch where the sentinel-advanced watermark flushes every real
    window — so termination means drained, with no progress polling."""
    import time
    deadline = time.monotonic() + timeout_s
    try:
        for q in queries:
            if not q.awaitTermination(
                    max(deadline - time.monotonic(), 0.001)):
                raise TimeoutError(
                    f"stream did not finish in {timeout_s}s")
    finally:
        for q in queries:
            q.stop()


def replay_batch_rows(events_path: str) -> int:
    """Rows per replay file for the registered e2e queries: ~8
    micro-batches at every SF, so cross-batch state is exercised while
    per-batch overhead (state-store commit, epoch manifest) stays
    constant instead of growing linearly with SF. The pytest surfaces
    use small fixed batch_rows to stress many-batch behavior."""
    from ecommerce_analytics_spark.sources.simulator import _num_rows
    return max(4000, _num_rows(events_path) // 8)


def stream_width(spark: SparkSession, batch_rows: int):
    """Scale-adaptive shuffle/state width for a replay topology, set
    for the duration of query START (the incremental planner reads
    ``spark.sql.shuffle.partitions`` once, at the first batch, and
    pins it in the checkpoint).

    Rationale (round 11, guide §2.2/§5): every micro-batch pays a
    fixed per-state-partition cost — an HDFS-backed store open +
    delta-file commit + one sink writer task — regardless of
    rows held. At the session default (cluster width: 32 here) a
    12.5k-row batch holding ~455 window-state rows committed 32
    stores and launched 32 near-empty sink writers per batch;
    progress metrics showed state commitTimeMs ~12-16s (summed)
    per batch against ~0.5s of actual update work. Width is therefore
    derived from per-batch VOLUME — one partition per ~5k batch rows,
    min 2 (cross-partition state stays exercised), capped at the
    session width — so it grows with the data (sf1.0 → ~25, 100 TB →
    the cap) instead of with the local core count. Invariance waves
    that perturb the width explicitly (SPARK_GRAFT_EXTRA_CONF) are
    honored untouched; restore() puts the session value back so batch
    queries in the same session are unaffected.
    """
    key = "spark.sql.shuffle.partitions"
    if key in os.environ.get("SPARK_GRAFT_EXTRA_CONF", ""):
        class _Noop:
            def restore(self):
                pass
        return _Noop()
    prev = spark.conf.get(key)
    width = max(2, min(int(prev), batch_rows // 5000))
    spark.conf.set(key, str(width))

    class _Restore:
        def restore(self):
            spark.conf.set(key, prev)
    return _Restore()


def _land(files: list[str], landed_dir: str) -> None:
    """Hard-link replay files into the directory the queries read.
    A link keeps the file's inode, so its mtime — the file source's
    replay order — is the replay's own."""
    os.makedirs(landed_dir, exist_ok=True)
    for f in files:
        dst = os.path.join(landed_dir, os.path.basename(f))
        if not os.path.exists(dst):
            os.link(f, dst)


def run_pipeline(spark: SparkSession, events_path: str, run_dir: str,
                 batch_rows: int = 4000,
                 corrupt_every: int | None = None,
                 stop_after_first_batch: bool = False,
                 timeout_s: float = 300.0) -> None:
    """Execute the topology to completion with checkpoints under
    ``run_dir``; restartable — rerunning with the same run_dir resumes
    from the checkpointed source logs over the same replay files, and
    the docstore's idempotent per-epoch manifests absorb any replayed
    micro-batch.

    ``stop_after_first_batch`` lands only the first replay file before
    the queries start, so each one commits the first file's epoch and
    stops — the restart-parity test's deterministic mid-stream kill
    switch. The next run lands the rest."""
    from ecommerce_analytics_spark.sources.simulator import write_replay
    replay = write_replay(events_path, os.path.join(run_dir, "replay"),
                          batch_rows)
    landed = os.path.join(run_dir, "landed")
    _land(replay[:1] if stop_after_first_batch else replay, landed)
    rollup, dead = build_pipeline(spark, landed, corrupt_every)
    width = stream_width(spark, batch_rows)
    try:
        queries = [start_docstore_query(
            df, os.path.join(run_dir, f"store_{name}"),
            os.path.join(run_dir, f"ck_{name}"))
            for name, df in (("agg", rollup), ("dead", dead))]
    finally:
        width.restore()
    run_to_end(queries, timeout_s)


def read_rollup(spark: SparkSession, run_dir: str) -> DataFrame:
    from ecommerce_analytics_spark.sources.docstore import read_docstore
    return read_docstore(spark, os.path.join(run_dir, "store_agg"),
                         RESULT_SCHEMA)


def read_dead_letters(spark: SparkSession, run_dir: str) -> DataFrame:
    from ecommerce_analytics_spark.sources.docstore import read_docstore
    return read_docstore(spark, os.path.join(run_dir, "store_dead"),
                         "raw string")


def _register_query() -> None:
    from ecommerce_analytics_spark.numerics import money_sum_sql
    from ecommerce_analytics_spark.plans.registry import query

    @query(
        "stream_pipeline_e2e",
        f"""
        SELECT strftime(date_trunc('hour', ts),
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               {money_sum_sql('value')} AS total_value,
               CAST(sum(event_id) AS BIGINT) AS id_checksum
        FROM events GROUP BY 1, 2
        """,
        doc="The FULL streaming topology executed end-to-end as one "
            "checkpointed pipeline (VERDICT r4 #5): deterministic "
            "replay source → wire JSON → parse/dead-letter split → "
            "enrichment → watermarked hourly window aggregate → "
            "docstore sink, then the committed store read back. The "
            "hash must equal the oracle computed directly from the "
            "parquet — any row lost at a stage boundary, any window "
            "left unflushed at end-of-replay, any duplicate from an "
            "epoch replay, or any precision loss in the wire/document "
            "serialization flips it.",
        tags=("streaming", "e2e", "sink", "source", "window"),
    )
    def q_stream_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ecommerce_analytics_spark.io import run_tmpdir
        run_dir = run_tmpdir("stream_e2e_")
        path = os.path.join(sf_dir, "events.parquet")
        run_pipeline(spark, path, run_dir,
                     batch_rows=replay_batch_rows(path))
        return read_rollup(spark, run_dir)


_register_query()


def _register_session_query() -> None:
    from ecommerce_analytics_spark.numerics import money_sum, money_sum_sql
    from ecommerce_analytics_spark.plans.registry import query

    gap_ms = 30 * 60 * 1000

    @query(
        "stream_sessionize_e2e",
        f"""
        WITH flagged AS (
          SELECT user_id, event_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > {gap_ms}
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
          SELECT *, sum(new_sess) OVER (
              PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS session_no
          FROM flagged
        )
        SELECT user_id,
               min(ts) AS session_start, max(ts) AS session_end,
               CAST(count(*) AS BIGINT) AS n_events,
               {money_sum_sql('value')} AS total_value
        FROM sess GROUP BY user_id, session_no
        """,
        doc="Session windows certified THROUGH the streaming engine: "
            "sentinel-punctuated replay → watermarked session_window "
            "aggregation in APPEND mode (sessions emit only when the "
            "watermark passes last-event+gap) → docstore sink → read "
            "back; must hash-match the first-principles lag+cumsum "
            "session oracle. The driver-visible twin of the append-"
            "mode gap-close parity test.",
        tags=("streaming", "sessions", "window", "e2e"),
    )
    def q_stream_sessionize_e2e(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
        from ecommerce_analytics_spark.io import run_tmpdir
        from ecommerce_analytics_spark.sources.docstore import read_docstore
        from ecommerce_analytics_spark.sources.simulator import write_replay
        from ecommerce_analytics_spark.streaming.windows import (
            streaming_events,
        )
        run_dir = run_tmpdir("stream_sess_")
        path = os.path.join(sf_dir, "events.parquet")
        batch_rows = replay_batch_rows(path)
        replay_dir = os.path.join(run_dir, "replay")
        write_replay(path, replay_dir, batch_rows)
        stream = streaming_events(spark, replay_dir,
                                  max_files_per_trigger=1)
        agg = (
            stream
            .withWatermark("ts", "1 hour")
            .groupBy("user_id",
                     F.session_window("ts", "30 minutes").alias("w"))
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count(F.lit(1)).cast("long").alias("n_events"),
                 money_sum("value").alias("total_value"))
            .select("user_id", "session_start", "session_end",
                    "n_events", "total_value")
        )
        width = stream_width(spark, batch_rows)
        try:
            q = start_docstore_query(agg, os.path.join(run_dir, "store"),
                                     os.path.join(run_dir, "ck"))
        finally:
            width.restore()
        run_to_end([q])
        return read_docstore(
            spark, os.path.join(run_dir, "store"),
            "user_id bigint, session_start timestamp, "
            "session_end timestamp, n_events bigint, total_value double")


_register_session_query()
