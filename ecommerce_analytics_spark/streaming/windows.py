"""Watermarked streaming aggregation (T4/T5, A6 streaming twin).

The reference's hourly_revenue view (init-db.js:40-65) fed by a
processing-time Flink job; here it's an event-time tumbling window
with a watermark — late data handled, state evicted, the semantics the
reference never had (SURVEY §2.6 T5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# events.parquet physical schema — ts read as long nanos (see io.py)
EVENTS_STREAM_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.LongType()),  # ns since epoch
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def streaming_events(spark: SparkSession, path: str,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of the events table (micro-batch harness).
    It reads events parquet whose ``ts`` is epoch-ns longs, such as
    the replay files of sources/simulator.write_replay, which the e2e
    stream queries consume one file per micro-batch.

    In production the same plan binds to a Kafka source
    (sources/kafka.py); everything downstream is identical.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.load(path)
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))


def streaming_hourly_revenue(events: DataFrame,
                             watermark: str = "2 hours") -> DataFrame:
    """A6 as a watermarked tumbling window.

    unique_customers is the SAME Datasketches HLL estimate as the
    batch builder's hll mode (sketches.hll_uniques — exact distinct
    over unbounded keys per window is not streamable, SURVEY §7
    hard-parts #4). HLL registers are order-insensitive, so the
    streaming estimate equals the batch hll-mode estimate EXACTLY
    over the same rows (parity-asserted in test_streaming.py); the
    batch exact mode remains the divergence-free ground truth.
    """
    from ecommerce_analytics_spark.operators.sketches import hll_uniques

    return (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.round(F.sum("value"), 2).alias("total_revenue"),
            F.count(F.lit(1)).alias("order_count"),
            hll_uniques("user_id").alias("unique_customers"),
        )
        .select(F.col("w.start").alias("hour_timestamp"),
                "total_revenue", "order_count", "unique_customers")
    )


def streaming_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """A8/T6: event_id idempotence — state-backed dropDuplicates with
    watermark-bounded state (the Mongo unique-index replacement)."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def streaming_sliding_revenue(events: DataFrame,
                              watermark: str = "2 hours") -> DataFrame:
    """T4 sliding twin of operators/aggregates.q_sliding_window_revenue:
    1-hour windows sliding every 15 minutes. Identical expression to
    the batch op except the watermark (and approx distinct — same
    streamability divergence as hourly_revenue, documented there)."""
    return (
        events
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.round(F.sum("value"), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n_events"),
             F.approx_count_distinct("user_id").alias("unique_users"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                .alias("window_start"),
                "revenue", "n_events", "unique_users")
    )


def streaming_purchase_attribution_join(purchases: DataFrame,
                                        events: DataFrame,
                                        watermark: str = "2 hours",
                                        how: str = "inner") -> DataFrame:
    """T-coverage beyond the reference: stream-stream interval join.
    Purchases joined to the same user's events in the following hour —
    the streaming twin of operators/aggregates.q_post_purchase_
    attribution (whose DuckDB oracle certifies the batch semantics;
    the parity test certifies this join against that query).

    Both sides carry watermarks and the join condition bounds event
    time on both ends, so Spark can size and evict the join state —
    the stream-stream join contract. State per side ≈ watermark-window
    of rows hash-partitioned on user_id.
    """
    p = (purchases.filter(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("p_event_id"),
                 F.col("user_id").alias("p_user_id"),
                 F.col("ts").alias("p_ts"))
         .withWatermark("p_ts", watermark))
    e = (events.select("event_id", "user_id", "event_type", "ts", "value")
         .withWatermark("ts", watermark))
    # how="left_outer": purchases with NO follow-up event in the hour
    # still emit (null-matched) once the watermark passes the end of
    # their join window — the state-eviction-driven null-completion
    # contract unique to watermarked stream-stream outer joins.
    return p.join(
        e,
        F.expr("user_id = p_user_id AND ts > p_ts "
               "AND ts <= p_ts + INTERVAL 1 HOUR"),
        how)


def streaming_enrich_with_dims(events: DataFrame, customer: DataFrame,
                               nation: DataFrame) -> DataFrame:
    """J3's streaming form: stream-STATIC broadcast joins. The dims
    are plain batch DataFrames joined into every micro-batch (Spark
    re-broadcasts per batch, so a dim refresh between batches is
    picked up — the 'slowly refreshed dimension snapshot' pattern).
    Identical expression to the certified batch
    q_enrich_events_with_customer; parity-tested row-for-row in
    test_streaming.py."""
    return (
        events
        .join(F.broadcast(customer),
              events.user_id == customer.c_custkey, "left")
        .join(F.broadcast(nation),
              customer.c_nationkey == nation.n_nationkey, "left")
        .select(
            "event_id", "user_id", "event_type", "value",
            F.col("c_name").alias("customer_name"),
            F.col("c_mktsegment").alias("market_segment"),
            F.col("n_name").alias("nation_name"),
        )
    )
