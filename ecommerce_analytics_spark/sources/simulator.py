"""Event-replay Python DataSource (reference parity: event_simulator).

The reference's ingest front door is a Python script that loads an
events file, sorts it by timestamp, and replays it into Kafka with a
time-compression factor (event_simulator.py:100-160: load_events /
simulate). The Spark-4-native analog is a first-class *Python
DataSource*: ``spark.read.format("sim_events")`` for the batch
surface and ``spark.readStream.format("sim_events")`` for the
deterministic time-ordered replay — no broker required, offsets
checkpointable, exactly the micro-batch semantics the streaming
pipeline consumes in production behind Kafka.

Scale + speed notes:
- the BATCH reader yields pyarrow RecordBatches (the vectorized
  Python-source path — rows never materialize as Python objects) and
  splits the file into row-group-aligned partitions so a cluster
  reads fragments in parallel;
- the STREAM reader is a SimpleDataSourceStreamReader whose offset is
  the row index into the (ts, event_id)-sorted order: replay is
  deterministic, restarts resume from the checkpointed offset, and
  "time compression" maps to rows-per-microbatch (the reference's
  compression factor chooses wall-clock pacing; a Spark source
  chooses batch size — same knob, pull-based).
- the driver events parquet stores ``ts`` as TIMESTAMP(MICROS); for
  an events file written as TIMESTAMP(NANOS) both readers truncate to
  microseconds exactly like the nanosAsLong + µs-division branch of
  io.load_table, so frames from this source are drop-in equal to the
  parquet scan either way.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource, DataSourceReader, InputPartition,
    SimpleDataSourceStreamReader,
)

SIM_SCHEMA = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def _as_utc(dt):
    """Naive driver-table timestamps are UTC wall clocks (session pin);
    make that explicit so PySpark's datetime→Catalyst conversion never
    consults the OS timezone (naive goes through time.mktime)."""
    import datetime
    if dt is not None and dt.tzinfo is None:
        return dt.replace(tzinfo=datetime.timezone.utc)
    return dt


def _num_rows(path: str) -> int:
    """Row count from parquet footers only (no data read). The table
    may be a single file OR a directory of parts (compacted lake,
    mixed writers) — the same by-name/any-layout reader contract every
    other scan in the package honors; found by the round-8
    mixed-writer wave when ``pq.ParquetFile(dir)`` crashed here."""
    import os

    import pyarrow.parquet as pq
    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in os.listdir(path) if f.endswith(".parquet"))
    return pq.ParquetFile(path).metadata.num_rows


def _load_arrow(path: str):
    """events parquet → pyarrow table with ts truncated ns→µs."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    ts = t.column("ts")
    if str(ts.type) == "timestamp[ns]":
        t = t.set_column(t.schema.get_field_index("ts"), "ts",
                         pc.cast(ts, "timestamp[us]"))
    return t.select(_COLS)


@dataclass
class _RowRange(InputPartition):
    start: int
    end: int


class _SimBatchReader(DataSourceReader):
    def __init__(self, options):
        self.path = options["path"]
        self.rows_per_part = int(options.get("rows_per_partition",
                                             "100000"))

    def partitions(self):
        n = _num_rows(self.path)
        step = self.rows_per_part
        return [_RowRange(s, min(s + step, n))
                for s in range(0, max(n, 1), step)]

    def read(self, part: _RowRange):
        # yields pyarrow RecordBatches — the vectorized path; slicing
        # is zero-copy on the mmapped table
        table = _load_arrow(self.path)
        yield from table.slice(part.start,
                               part.end - part.start).to_batches()


SENTINEL_EVENT_TYPE = "__end_of_replay__"


class _SimStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        self.path = options["path"]
        self.batch_rows = int(options.get("batch_rows", "10000"))
        # end-of-replay punctuation: a single synthetic row N days past
        # the last real event, emitted as the final offset. A finite
        # replay feeding a watermarked aggregation needs it — the
        # watermark only advances on observed event time, so without a
        # closing row the last real windows sit in state forever. The
        # sentinel pushes the watermark past every real window; its OWN
        # window never closes, so it never appears in append output.
        self.sentinel_days = int(options.get("sentinel_days", "0"))
        self._table = None  # lazy; sorted once per reader instance

    def _sorted_table(self):
        if self._table is None:
            t = _load_arrow(self.path)
            self._table = t.sort_by([("ts", "ascending"),
                                     ("event_id", "ascending")])
        return self._table

    def _sentinel_row(self, t):
        import datetime
        max_ts = t.column("ts")[t.num_rows - 1].as_py()
        ts = _as_utc(max_ts + datetime.timedelta(days=self.sentinel_days))
        return (-1, ts, -1, SENTINEL_EVENT_TYPE, 0.0, None)

    def _slice(self, lo, hi):
        """Rows for logical offsets [lo, hi); index num_rows is the
        sentinel when enabled.

        ts is returned as an AWARE-UTC datetime: the simple stream
        reader hands Python rows to Spark, whose TimestampType
        conversion interprets a NAIVE datetime in the OS-local zone
        (time.mktime) but an aware one in its own zone (timegm) —
        under a non-UTC OS timezone the naive form silently shifted
        every replayed event by the UTC offset (caught by
        tools/tz_wave.py: stream_pipeline_e2e window starts moved
        4-5h under TZ=America/New_York while the arrow-batch reader
        and every JVM path stayed put)."""
        t = self._sorted_table()
        real_hi = min(hi, t.num_rows)
        ts_i = _COLS.index("ts")
        rows = []
        for r in t.slice(lo, max(real_hi - lo, 0)).to_pylist():
            row = tuple(r[c] for c in _COLS)
            rows.append(row[:ts_i] + (_as_utc(row[ts_i]),)
                        + row[ts_i + 1:])
        if self.sentinel_days and hi > t.num_rows and lo <= t.num_rows:
            rows.append(self._sentinel_row(t))
        return rows

    def initialOffset(self):
        return {"idx": 0}

    def read(self, start):
        # NB: the rows must be an ITERATOR — when the replay is drained
        # (end == start) Spark's prefetch wrapper validates emptiness
        # with next(it), which a plain list breaks.
        t = self._sorted_table()
        n = t.num_rows + (1 if self.sentinel_days else 0)
        lo = start["idx"]
        hi = min(lo + self.batch_rows, n)
        if hi <= lo:
            return (iter(()), start)
        return (iter(self._slice(lo, hi)), {"idx": hi})

    def readBetweenOffsets(self, start, end):
        # deterministic replay: a retried batch re-reads the same slice
        # (iterator for the same reason as read())
        return iter(self._slice(start["idx"], end["idx"]))

    def commit(self, end):
        pass  # offsets live in the checkpoint; nothing to clean up


class EventSimulatorDataSource(DataSource):
    """format("sim_events"): batch scan + deterministic replay stream
    over a driver events parquet. Options: path (required),
    rows_per_partition (batch), batch_rows (stream)."""

    @classmethod
    def name(cls):
        return "sim_events"

    def schema(self):
        return SIM_SCHEMA

    def reader(self, schema):
        return _SimBatchReader(self.options)

    def simpleStreamReader(self, schema):
        return _SimStreamReader(self.options)


def register_sim_source(spark) -> None:
    # Python-source readers run in WORKER python processes, which see
    # the repo package only if it happens to be on their sys.path.
    # Registering this module for pickle-by-value makes the source
    # fully self-contained in the serialized plan — a driver running
    # from any cwd (the round driver imports __spark_entry__ by file
    # path) can execute it without shipping the package to executors.
    try:
        import sys

        from pyspark import cloudpickle
        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:
        pass  # older cloudpickle: fall back to import-by-path workers
    spark.dataSource.register(EventSimulatorDataSource)


def _register_query() -> None:
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql import functions as F

    from ecommerce_analytics_spark.numerics import money_sum, money_sum_sql
    from ecommerce_analytics_spark.plans.registry import query

    @query(
        "sim_source_event_rollup",
        f"""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               {money_sum_sql('value')} AS total_value
        FROM events GROUP BY event_type
        """,
        doc="End-to-end certification of the Python DataSource: the "
            "rollup reads events through format('sim_events') — Arrow-"
            "batched Python source partitions, not the parquet scan — "
            "and must hash-match the oracle computed from the file "
            "directly. Proves the source's schema mapping, ns→µs "
            "timestamp handling and row-range partitioning lose "
            "nothing.",
        tags=("source", "agg"),
    )
    def q_sim_source_event_rollup(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
        import os
        register_sim_source(spark)
        df = (spark.read.format("sim_events")
              .option("path", os.path.join(sf_dir, "events.parquet"))
              .load())
        return (df.groupBy("event_type")
                .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                     F.countDistinct("user_id").cast("long")
                     .alias("n_users"),
                     money_sum("value").alias("total_value")))


_register_query()
