"""Mid-batch SIGKILL crash-recovery wave — round 10 (VERDICT r9 #2).

test_replay_sinks certifies a CLEAN stop/restart (q.stop() between
batches); nothing has ever killed a stateful query INSIDE the window
where exactly-once is earned — after the checkpoint's offsets log
advances for epoch N but before the commit log records N. A crash
there forces the restart to (a) restore per-key state from the last
COMMITTED epoch, not the in-flight one, and (b) replay epoch N into
the sink, which must deduplicate it. Any duplicate or lost window is
a real bug on every production cluster.

Protocol, per (topology × state-store provider):

1. **Baseline** — a fresh subprocess runs the topology to completion;
   the parent hashes the sink (order-insensitive exact value_hash).
2. **Crash run** — a fresh subprocess starts the same topology on a
   new run dir; the parent polls the checkpoint dir at ~5 ms and
   SIGKILLs the subprocess the moment ``offsets/N`` exists without
   ``commits/N`` for some N ≥ 2 (N ≥ 2 so carried keyed state is
   genuinely at stake, not just an empty store). The kill is SIGKILL
   — no JVM shutdown hooks, no sink cleanup, the real failure mode.
   The parent records the exact (offsets, commits) frontier it
   observed at kill time; if the subprocess drained before a window
   was caught, the attempt retries with smaller batches.
3. **Recovery** — a fresh subprocess resumes from the same run dir to
   completion. Gate: final sink value-hash == baseline hash, and the
   sink row count matches (no duplicate epoch, no lost window).

Topologies: the full e2e pipeline (file-source replay of the
time-ordered replay files under AvailableNow → parse/DLQ →
watermarked hourly window agg → idempotent docstore sink, whose
foreachBatch epochs are keyed by batch id — the
reference's mounted-but-never-configured Flink checkpoint volume,
docker-compose.yaml:205), and the ltv ValueState twin
(EnrichmentFunction.java ↔ streaming/ltv_state.py:88) through the
exactly-once parquet file sink. Providers: HDFS-heap and RocksDB
(tools/rocksdb_wave.py's conf hook) — the RocksDB leg additionally
proves snapshot/changelog RESTORE after a hard kill, not just a
clean stop.

Usage::

    python tools/crashkill_wave.py [sf_dir]

Writes ``CRASHKILL_r10.json`` (override with ``CRASHKILL_OUT``).
Exit 1 on any hash drift, uncaught kill window, or recovery failure.
"""

from __future__ import annotations

import json
import os
import pathlib
import signal
import subprocess
import sys
import time

REPO = str(pathlib.Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

ROCKSDB_CONF = ("spark.sql.streaming.stateStore.providerClass="
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider")

# e2e uses run_dir/ck_agg (stateful query); ltv worker uses run_dir/ck
CKPT_SUBDIR = {"e2e": "ck_agg", "ltv": "ck"}


# ---------------------------------------------------------------- worker

def _worker_e2e(sf_dir: str, run_dir: str, batch_rows: int) -> None:
    from ecommerce_analytics_spark.session import get_spark
    from ecommerce_analytics_spark.streaming.e2e_pipeline import run_pipeline
    spark = get_spark("crashkill_e2e")
    spark.sparkContext.setLogLevel("ERROR")
    run_pipeline(spark, os.path.join(sf_dir, "events.parquet"), run_dir,
                 batch_rows=batch_rows)
    spark.stop()


def _worker_ltv(sf_dir: str, run_dir: str, n_files: int) -> None:
    """ltv twin over an n_files-trigger stream into the exactly-once
    parquet file sink. The input split is deterministic (event_id
    ranges), so baseline/crash/recovery runs see identical batches."""
    from pyspark.sql import functions as F

    from ecommerce_analytics_spark.io import load_table
    from ecommerce_analytics_spark.session import get_spark
    from ecommerce_analytics_spark.streaming.ltv_state import streaming_ltv
    from ecommerce_analytics_spark.streaming.windows import streaming_events

    spark = get_spark("crashkill_ltv")
    spark.sparkContext.setLogLevel("ERROR")
    indir = os.path.join(run_dir, "in")
    if not os.path.isdir(indir):  # first run builds the fixture
        import shutil
        events = load_table(spark, sf_dir, "events")
        qs = events.approxQuantile(
            "event_id", [i / n_files for i in range(1, n_files)], 0.0)
        bounds = [float("-inf")] + qs + [float("inf")]
        os.makedirs(indir)
        for i in range(n_files):
            part = events.filter(
                (F.col("event_id") > bounds[i])
                & (F.col("event_id") <= bounds[i + 1]))
            tmp = os.path.join(run_dir, f"stage_{i}")
            part.withColumn("ts", F.unix_micros("ts") * 1000) \
                .coalesce(1).write.mode("overwrite").parquet(tmp)
            for f in os.listdir(tmp):
                if f.endswith(".parquet"):
                    shutil.move(os.path.join(tmp, f),
                                os.path.join(indir, f"part-{i:02d}.parquet"))
            shutil.rmtree(tmp)
    stream = streaming_events(spark, indir, max_files_per_trigger=1)
    q = (streaming_ltv(stream)
         .writeStream.format("parquet")
         .option("path", os.path.join(run_dir, "sink"))
         .option("checkpointLocation", os.path.join(run_dir, "ck"))
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    spark.stop()


# ---------------------------------------------------------------- parent

def _spawn(topology: str, sf_dir: str, run_dir: str, granularity: int,
           rocksdb: bool) -> subprocess.Popen:
    env = dict(os.environ)
    if rocksdb:
        env["SPARK_GRAFT_EXTRA_CONF"] = ROCKSDB_CONF
    else:
        env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    return subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--worker", topology,
         sf_dir, run_dir, str(granularity)],
        env=env, cwd=REPO,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)


def _frontier(ckpt: str) -> tuple[int, int]:
    """(max offsets epoch, max commits epoch); -1 when absent."""
    def mx(sub: str) -> int:
        d = os.path.join(ckpt, sub)
        try:
            return max((int(f) for f in os.listdir(d) if f.isdigit()),
                       default=-1)
        except OSError:
            return -1
    return mx("offsets"), mx("commits")


def _kill_in_window(proc: subprocess.Popen, ckpt: str,
                    min_epoch: int, timeout_s: float) -> dict | None:
    """Poll until offsets > commits with offsets >= min_epoch, then
    SIGKILL. Returns the observed frontier, or None if the worker
    finished before a window at min_epoch+ was caught."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if proc.poll() is not None:
            return None
        off, com = _frontier(ckpt)
        if off >= min_epoch and off > com:
            os.kill(proc.pid, signal.SIGKILL)
            proc.wait()
            # re-read AFTER death: the authoritative mid-epoch evidence
            off2, com2 = _frontier(ckpt)
            return {"offsets_at_kill": off2, "commits_at_kill": com2,
                    "in_window": off2 > com2 and off2 >= min_epoch}
        time.sleep(0.005)
    proc.kill()
    proc.wait()
    return {"offsets_at_kill": -2, "commits_at_kill": -2,
            "in_window": False}


def _read_sink(topology: str, run_dir: str):
    from ecommerce_analytics_spark.session import get_spark
    spark = get_spark("crashkill_read")
    spark.sparkContext.setLogLevel("ERROR")
    if topology == "e2e":
        from ecommerce_analytics_spark.streaming.e2e_pipeline import (
            read_rollup)
        return read_rollup(spark, run_dir).toPandas()
    return spark.read.schema(
        "user_id long, event_id long, ts timestamp, event_type string, "
        "signed_amount double, customer_ltv double").parquet(
        os.path.join(run_dir, "sink")).toPandas()


def main() -> None:
    import tempfile

    from ecommerce_analytics_spark.testing import value_hash

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_path = os.environ.get("CRASHKILL_OUT", f"{REPO}/CRASHKILL_r10.json")
    root = tempfile.mkdtemp(prefix="crashkill_")
    # granularity: e2e = rows per micro-batch, ltv = number of input
    # files (one per trigger). Small batches widen the offsets→commit
    # window the poller must hit and raise the epoch count.
    gran = {"e2e": 250, "ltv": 8}

    results: dict[str, dict] = {}
    failures: list[str] = []
    for topology in ("e2e", "ltv"):
        for provider in ("heap", "rocksdb"):
            tag = f"{topology}_{provider}"
            rocksdb = provider == "rocksdb"

            base_dir = f"{root}/{tag}_base"
            p = _spawn(topology, sf_dir, base_dir, gran[topology], rocksdb)
            if p.wait() != 0:
                failures.append(f"{tag}: baseline worker failed")
                continue
            base_pdf = _read_sink(topology, base_dir)
            base_vh = value_hash(base_pdf)

            kill_info = None
            crash_dir = None
            for attempt in range(4):
                crash_dir = f"{root}/{tag}_crash{attempt}"
                ck = os.path.join(crash_dir, CKPT_SUBDIR[topology])
                p = _spawn(topology, sf_dir, crash_dir,
                           gran[topology], rocksdb)
                kill_info = _kill_in_window(p, ck, min_epoch=2,
                                            timeout_s=240)
                if kill_info and kill_info["in_window"]:
                    break
            if not (kill_info and kill_info["in_window"]):
                failures.append(f"{tag}: never caught the offsets→commit "
                                f"window ({kill_info})")
                continue

            p = _spawn(topology, sf_dir, crash_dir, gran[topology], rocksdb)
            if p.wait() != 0:
                failures.append(f"{tag}: recovery worker failed")
                continue
            rec_pdf = _read_sink(topology, crash_dir)
            rec_vh = value_hash(rec_pdf)

            results[tag] = {
                "baseline_rows": len(base_pdf), "baseline_vh": base_vh,
                "recovered_rows": len(rec_pdf), "recovered_vh": rec_vh,
                "vh_match": base_vh == rec_vh, **kill_info,
            }
            print(json.dumps({"topology": tag, **results[tag]}),
                  flush=True)
            if base_vh != rec_vh or len(base_pdf) == 0:
                failures.append(f"{tag}: recovered sink != uninterrupted "
                                f"baseline (dup or lost epoch)")

    # batch-oracle leg: the e2e heap baseline rollup vs DuckDB directly
    # (the same oracle SQL the registry certifies at every sweep)
    from ecommerce_analytics_spark.testing import compare_frames, duckdb_oracle
    try:
        import importlib.util
        spec = importlib.util.spec_from_file_location(
            "spark_entry", f"{REPO}/__spark_entry__.py")
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        osql = mod.oracle_sql()["stream_pipeline_e2e"]
        base_pdf = _read_sink("e2e", f"{root}/e2e_heap_base")
        probs = compare_frames(base_pdf, duckdb_oracle(osql, sf_dir),
                               "e2e_vs_oracle")
        results["e2e_heap_vs_duckdb_oracle"] = {"problems": probs}
        if probs:
            failures.append(f"e2e baseline vs oracle: {probs}")
    except Exception as exc:  # pragma: no cover - diagnostics only
        failures.append(f"oracle leg error: {exc}")

    artifact = {"wave": "midbatch-sigkill-crash-recovery",
                "sf_dir": sf_dir, "results": results,
                "failures": failures}
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps({"failures": failures, "artifact": out_path}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        topo, sf, run_dir, gran = sys.argv[2:6]
        if topo == "e2e":
            _worker_e2e(sf, run_dir, int(gran))
        else:
            _worker_ltv(sf, run_dir, int(gran))
    else:
        main()
