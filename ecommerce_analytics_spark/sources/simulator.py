"""Event replay (reference parity: event_simulator).

The reference's ingest front door is a Python script that loads an
events file, sorts it by timestamp, and replays it into Kafka with a
time-compression factor (event_simulator.py:100-160: load_events /
simulate). Here the replay has two surfaces:

- ``spark.read.format("sim_events")``: a Python DataSource batch scan.
  It yields pyarrow RecordBatches (the vectorized Python-source path —
  rows never materialize as Python objects) and splits the file into
  row-range partitions so a cluster reads fragments in parallel;
- ``write_replay``: the deterministic time-ordered replay as parquet
  files, one micro-batch each, for Spark's own file-stream source
  (streaming/windows.streaming_events with ``maxFilesPerTrigger=1``
  under ``Trigger.AvailableNow``). Replay order is file order, a
  restart resumes from the source's checkpointed file log, and "time
  compression" maps to rows per file (the reference's compression
  factor chooses wall-clock pacing; a replay chooses batch size — same
  knob, pull-based). No Python process runs on the stream path.

The driver events parquet stores ``ts`` as TIMESTAMP(MICROS); for an
events file written as TIMESTAMP(NANOS) both surfaces truncate to
microseconds exactly like the nanosAsLong + µs-division branch of
io.load_table, so their frames are drop-in equal to the parquet scan
either way.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource, DataSourceReader, InputPartition,
)

SIM_SCHEMA = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def _num_rows(path: str) -> int:
    """Row count from parquet footers only (no data read). The table
    may be a single file OR a directory of parts (compacted lake,
    mixed writers) — the same by-name/any-layout reader contract every
    other scan in the package honors; found by the round-8
    mixed-writer wave when ``pq.ParquetFile(dir)`` crashed here."""
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
SENTINEL_DAYS = 30


def _with_sentinel(t):
    """``t`` plus the end-of-replay punctuation: one synthetic row
    SENTINEL_DAYS past the last real event. A finite replay feeding a
    watermarked aggregation needs it — the watermark only advances on
    observed event time, so without a closing row the last real
    windows sit in state forever. The sentinel pushes the watermark
    past every real window; its OWN window never closes, so it never
    appears in append output. It is valid on the wire, so it is never
    dead-lettered either."""
    import datetime

    import pyarrow as pa
    ts = t.column("ts")[t.num_rows - 1].as_py() \
        + datetime.timedelta(days=SENTINEL_DAYS)
    row = pa.table({"event_id": [-1], "ts": [ts], "user_id": [-1],
                    "event_type": [SENTINEL_EVENT_TYPE], "value": [0.0],
                    "props": [None]}, schema=t.schema)
    return pa.concat_tables([t, row])


def write_replay(events_path: str, replay_dir: str,
                 batch_rows: int) -> list[str]:
    """Write the (ts, event_id)-sorted events plus the sentinel (at
    row index n) as parquet files of ``batch_rows`` rows: file k holds
    replay rows [k·batch_rows, (k+1)·batch_rows). Returns the files in
    replay order.

    ``ts`` is stored as epoch-nanosecond longs, the layout
    streaming/windows.EVENTS_STREAM_SCHEMA reads. Spark's file-stream
    source orders new files by modification time, not by name, so the
    files get strictly increasing mtimes (one second apart). The
    directory appears atomically (written under ``<replay_dir>.tmp``,
    then renamed) and an existing one is reused as is, so a restarted
    query resumes over the very files its checkpoint recorded."""
    import glob
    import shutil
    import time

    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    if not os.path.isdir(replay_dir):
        t = _load_arrow(events_path).sort_by(
            [("ts", "ascending"), ("event_id", "ascending")])
        t = _with_sentinel(t)
        t = t.set_column(
            t.schema.get_field_index("ts"), "ts",
            pc.multiply(pc.cast(t.column("ts"), "int64"), 1000))
        tmp = replay_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        starts = range(0, t.num_rows, batch_rows)
        first_mtime = int(time.time()) - len(starts)
        for k, lo in enumerate(starts):
            f = os.path.join(tmp, f"part-{k:05d}.parquet")
            pq.write_table(t.slice(lo, batch_rows), f)
            os.utime(f, (first_mtime + k, first_mtime + k))
        os.rename(tmp, replay_dir)
    return sorted(glob.glob(os.path.join(replay_dir, "part-*.parquet")))


class EventSimulatorDataSource(DataSource):
    """format("sim_events"): batch scan over a driver events parquet.
    Options: path (required), rows_per_partition."""

    @classmethod
    def name(cls):
        return "sim_events"

    def schema(self):
        return SIM_SCHEMA

    def reader(self, schema):
        return _SimBatchReader(self.options)



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
