"""The stream replay path: the replay files written by
sources/simulator.write_replay, and the two registered end-to-end
stream queries (file-source replay under AvailableNow → docstore via
foreachBatch) against their DuckDB oracles."""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq

from ecommerce_analytics_spark.sources.simulator import (
    SENTINEL_DAYS, SENTINEL_EVENT_TYPE, write_replay,
)


def _events(n: int) -> pa.Table:
    """n events with tied and unsorted timestamps (ties broken by
    event_id in the replay order)."""
    base = datetime.datetime(2024, 3, 1)
    return pa.table({
        "event_id": pa.array([(i * 7) % n for i in range(n)], pa.int64()),
        "ts": pa.array([base + datetime.timedelta(minutes=(i * 13) % 40)
                        for i in range(n)], pa.timestamp("us")),
        "user_id": pa.array([i % 5 for i in range(n)], pa.int64()),
        "event_type": [("view", "cart", "purchase")[i % 3]
                       for i in range(n)],
        "value": [float(i) for i in range(n)],
        "props": [None if i % 2 else "{}" for i in range(n)],
    })


def test_replay_files_are_the_offset_slices(tmp_path):
    n, b = 103, 20
    events = _events(n)
    src = str(tmp_path / "events.parquet")
    pq.write_table(events, src)
    replay_dir = str(tmp_path / "replay")

    files = write_replay(src, replay_dir, b)

    assert len(files) == -(-(n + 1) // b)  # ceil((n+1)/b)
    # the replay order: (ts, event_id)-sorted events, then the sentinel
    order = events.sort_by([("ts", "ascending"),
                            ("event_id", "ascending")]).to_pylist()
    max_ts = max(r["ts"] for r in order)
    order.append({"event_id": -1,
                  "ts": max_ts + datetime.timedelta(days=SENTINEL_DAYS),
                  "user_id": -1, "event_type": SENTINEL_EVENT_TYPE,
                  "value": 0.0, "props": None})
    epoch = datetime.datetime(1970, 1, 1)
    for r in order:  # stored as epoch-nanosecond longs
        r["ts"] = (r["ts"] - epoch) // datetime.timedelta(microseconds=1) \
            * 1000
    for k, f in enumerate(files):
        assert pq.read_table(f).to_pylist() == order[k * b:(k + 1) * b], k
    assert pq.read_table(files[-1]).to_pylist()[-1]["event_type"] \
        == SENTINEL_EVENT_TYPE
    mtimes = [os.stat(f).st_mtime_ns for f in files]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:]))
    assert not os.path.exists(replay_dir + ".tmp")

    # an existing replay dir is reused as is (a restart reads the
    # files its checkpoint recorded), whatever the batch size asked
    before = [(os.stat(f).st_ino, os.stat(f).st_mtime_ns) for f in files]
    assert write_replay(src, replay_dir, 7) == files
    assert [(os.stat(f).st_ino, os.stat(f).st_mtime_ns)
            for f in files] == before


def test_stream_queries_match_their_oracles(spark, sf_dir):
    """Both registered stream replays, run on the shared session, hash
    equal to their DuckDB oracles."""
    from ecommerce_analytics_spark.plans.registry import all_queries
    from ecommerce_analytics_spark.testing import (
        compare_frames, duckdb_oracle, value_hash,
    )

    queries = all_queries()
    for name in ("stream_pipeline_e2e", "stream_sessionize_e2e"):
        q = queries[name]
        got = q.spark_fn(spark, sf_dir).toPandas()
        want = duckdb_oracle(q.oracle, sf_dir)
        assert compare_frames(got, want, name) == []
        assert value_hash(got, q.float_sig) == value_hash(want, q.float_sig)
