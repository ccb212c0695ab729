"""Executor-loss tolerance wave — round 11 (VERDICT r10 #2).

CRASHKILL_r10 killed the whole DRIVER mid-batch; this wave kills a
single EXECUTOR JVM under ``local-cluster`` — a different recovery
path entirely: the driver stays up, Spark marks the executor lost,
re-schedules its running tasks (``spark.task.maxFailures``), refetches
or regenerates its shuffle blocks (FetchFailed → stage reattempt), and
reloads executor-held state stores from the checkpoint. This is the
routine failure on a 1000-executor cluster (preemption, OOM-kill,
hardware), so "correct at 100 TB" means bit-identical answers through
it. Two legs, each proven in-window:

1. **Batch** — ``event_classification`` over the sf10-scaled events
   corpus (60M rows, minutes-long under local-cluster): one executor
   JVM is SIGKILLed mid-query (wave records kill time inside the
   query's [start, end] window). Gate: the distributed row-level
   checksum (count + sum of xxhash64 over all columns — order-free,
   exact: every output value is deterministic per ROWORDER waves)
   is IDENTICAL to an undisturbed local-cluster run.
2. **Streaming** — the e2e pipeline topology (file-source replay under
   AvailableNow, watermarked window agg + dead-letter split +
   foreachBatch docstore sink) under RocksDB+changelog, one
   executor SIGKILLed mid-stream. Gate: recovered rollup value_hash
   equals the undisturbed run AND the DuckDB-oracle-certified result
   shape (rows > 0, dead rows equal).

The kill targets a ``CoarseGrainedExecutorBackend`` process found by
walking the WORKER subprocess's own process tree (never a global
pgrep — concurrent Spark apps on the host must not be touched).

Usage::

    python tools/execloss_wave.py [sf10_rel_dir]

Writes ``EXECLOSS_r11.json`` (override with ``EXECLOSS_OUT``).
Exit 1 on checksum drift, a kill landing outside the query window, or
a leg that never found an executor to kill.
"""

from __future__ import annotations

import json
import os
import pathlib
import signal
import subprocess
import sys
import tempfile
import time

REPO = str(pathlib.Path(__file__).resolve().parents[1])
sys.path[:0] = [REPO, os.path.join(REPO, "tools")]

from certify import LC_CONF, MASTER  # noqa: E402
from rocksdb_wave import ROCKSDB_CHANGELOG_CONF  # noqa: E402


# --------------------------------------------------------------- workers

def batch_worker(sf_dir: str) -> None:
    """Run event_classification once, print its distributed checksum."""
    from pyspark.sql import functions as F

    from ecommerce_analytics_spark.operators.classification import (
        q_event_classification)
    from ecommerce_analytics_spark.session import get_spark

    spark = get_spark("execloss_batch")
    spark.sparkContext.setLogLevel("ERROR")
    df = q_event_classification(spark, sf_dir)
    cols = df.columns
    print(json.dumps({"phase": "start", "t": time.time()}), flush=True)
    # sum in unbounded decimal: a plain long sum of 60M full-range
    # xxhash64 values overflows (and the session's ANSI pin rightly
    # makes that loud instead of silently wrapping)
    row = (df.select(F.xxhash64(*cols).alias("h"))
           .agg(F.count("*").alias("n"),
                F.sum(F.col("h").cast("decimal(38,0)")).alias("s"))
           .collect()[0])
    print(json.dumps({"phase": "done", "t": time.time(),
                      "n": row["n"], "checksum": str(row["s"])}),
          flush=True)
    spark.stop()


def stream_worker(sf_dir: str, run_dir: str) -> None:
    """Run the e2e pipeline to completion; print rollup/dead hashes."""
    from ecommerce_analytics_spark.session import get_spark
    from ecommerce_analytics_spark.streaming.e2e_pipeline import (
        read_dead_letters, read_rollup, run_pipeline)
    from ecommerce_analytics_spark.testing import value_hash

    spark = get_spark("execloss_stream")
    spark.sparkContext.setLogLevel("ERROR")
    ev_path = os.path.join(sf_dir, "events.parquet")
    print(json.dumps({"phase": "start", "t": time.time()}), flush=True)
    run_pipeline(spark, ev_path, run_dir, batch_rows=300,
                 timeout_s=900.0)
    rollup = read_rollup(spark, run_dir).toPandas()
    dead = read_dead_letters(spark, run_dir).toPandas()
    print(json.dumps({"phase": "done", "t": time.time(),
                      "n": len(rollup), "checksum": value_hash(rollup),
                      "dead_rows": len(dead)}), flush=True)
    spark.stop()


# --------------------------------------------------------------- killing

def _descendants(pid: int) -> list[int]:
    out: list[int] = []
    try:
        kids = subprocess.run(
            ["ps", "-o", "pid=", "--ppid", str(pid)],
            capture_output=True, text=True).stdout.split()
    except Exception:
        return out
    for k in kids:
        out.append(int(k))
        out.extend(_descendants(int(k)))
    return out


def _executor_pids(worker_pid: int) -> list[int]:
    """Executor JVMs inside THIS worker's process tree only."""
    pids = []
    for pid in _descendants(worker_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().decode(errors="replace")
        except OSError:
            continue
        if "CoarseGrainedExecutorBackend" in cmd:
            pids.append(pid)
    return pids


def _run_leg(args: list[str], extra_conf: str, kill_after: float | None,
             timeout: float = 3600) -> dict:
    """Launch a worker; optionally SIGKILL one of its executors
    ``kill_after`` seconds after the worker prints phase=start."""
    env = dict(os.environ)
    env["SPARK_GRAFT_MASTER"] = MASTER
    env["SPARK_GRAFT_EXTRA_CONF"] = LC_CONF + (
        ";" + extra_conf if extra_conf else "")
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *args],
        env=env, cwd=REPO, stdout=subprocess.PIPE, text=True)
    rec: dict = {"killed_pid": None, "kill_t": None}
    start_t = None
    deadline = time.time() + timeout
    while time.time() < deadline:
        line = proc.stdout.readline()
        if not line:
            if proc.poll() is not None:
                break
            continue
        try:
            msg = json.loads(line)
        except ValueError:
            continue
        if msg.get("phase") == "start":
            start_t = msg["t"]
            rec["start_t"] = start_t
            if kill_after is not None:
                time.sleep(kill_after)
                targets = _executor_pids(proc.pid)
                if targets:
                    victim = targets[0]
                    os.kill(victim, signal.SIGKILL)
                    rec["killed_pid"] = victim
                    rec["kill_t"] = time.time()
                    rec["executors_seen"] = len(targets)
        elif msg.get("phase") == "done":
            rec.update({k: msg[k] for k in msg if k != "phase"})
            rec["end_t"] = msg["t"]
    proc.wait(timeout=60)
    rec["rc"] = proc.returncode
    return rec


# ------------------------------------------------------------------ main

def main() -> int:
    argv = sys.argv[1:]
    sf10_rel = argv[0] if argv else "/tmp/scale_sf10_rel"
    out_path = os.environ.get("EXECLOSS_OUT", f"{REPO}/EXECLOSS_r11.json")
    stream_sf = os.environ.get("EXECLOSS_STREAM_SF",
                               "/root/testdata/sf0.001")
    failures: list[str] = []

    # ---- batch leg: clean run first (also calibrates the kill delay)
    clean = _run_leg(["--batch-worker", sf10_rel], "", None)
    if clean.get("rc") != 0 or "checksum" not in clean:
        failures.append(f"clean batch run failed: {clean}")
        dur = None
    else:
        dur = clean["end_t"] - clean["start_t"]
    kill_after = max(5.0, (dur or 60) * 0.4)
    killed = _run_leg(["--batch-worker", sf10_rel], "", kill_after)
    if killed.get("rc") != 0 or "checksum" not in killed:
        failures.append(f"batch run with executor kill failed: "
                        f"{ {k: killed.get(k) for k in ('rc', 'killed_pid')} }")
    if killed.get("killed_pid") is None:
        failures.append("batch leg: no executor JVM found to kill")
    elif "end_t" not in killed:
        failures.append("batch leg: killed run never completed")
    elif not (killed["start_t"] < killed["kill_t"] < killed["end_t"]):
        failures.append("batch leg: kill landed outside the query window")
    if clean.get("checksum") is not None and (
            killed.get("checksum") != clean.get("checksum")
            or killed.get("n") != clean.get("n")):
        failures.append(
            f"batch checksum drift after executor loss: "
            f"clean=({clean.get('n')},{clean.get('checksum')}) "
            f"killed=({killed.get('n')},{killed.get('checksum')})")
    batch_rec = {"query": "event_classification", "sf_dir": sf10_rel,
                 "clean": clean, "killed": killed,
                 "kill_after_sec": kill_after}
    print(json.dumps({"leg": "batch", **batch_rec}), flush=True)

    # ---- streaming leg under RocksDB changelog
    tmp = tempfile.mkdtemp(prefix="execloss_")
    s_clean = _run_leg(["--stream-worker", stream_sf, f"{tmp}/clean"],
                       ROCKSDB_CHANGELOG_CONF, None)
    if s_clean.get("rc") != 0 or "checksum" not in s_clean:
        failures.append(f"clean stream run failed: {s_clean}")
        s_dur = None
    else:
        s_dur = s_clean["end_t"] - s_clean["start_t"]
    s_kill_after = max(3.0, (s_dur or 30) * 0.4)
    s_killed = _run_leg(["--stream-worker", stream_sf, f"{tmp}/killed"],
                        ROCKSDB_CHANGELOG_CONF, s_kill_after)
    if s_killed.get("rc") != 0 or "checksum" not in s_killed:
        failures.append(f"stream run with executor kill failed: "
                        f"rc={s_killed.get('rc')}")
    if s_killed.get("killed_pid") is None:
        failures.append("stream leg: no executor JVM found to kill")
    elif "end_t" not in s_killed:
        failures.append("stream leg: killed run never completed")
    elif not (s_killed["start_t"] < s_killed["kill_t"]
              < s_killed["end_t"]):
        failures.append("stream leg: kill landed outside the run window")
    if s_clean.get("checksum") is not None and (
            s_killed.get("checksum") != s_clean.get("checksum")
            or s_killed.get("dead_rows") != s_clean.get("dead_rows")
            or not s_clean.get("n")):
        failures.append(
            f"stream rollup drift after executor loss: "
            f"clean=({s_clean.get('n')},{s_clean.get('checksum')}) "
            f"killed=({s_killed.get('n')},{s_killed.get('checksum')})")
    stream_rec = {"topology": "e2e_pipeline", "sf_dir": stream_sf,
                  "conf": "rocksdb+changelog", "clean": s_clean,
                  "killed": s_killed, "kill_after_sec": s_kill_after}

    artifact = {
        "wave": "executor-loss-tolerance",
        "master": MASTER,
        "batch": batch_rec,
        "streaming": stream_rec,
        "failures": failures,
    }
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps({"failures": failures, "artifact": out_path}))
    return 1 if failures else 0


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--batch-worker":
        batch_worker(sys.argv[2])
    elif len(sys.argv) > 1 and sys.argv[1] == "--stream-worker":
        stream_worker(sys.argv[2], sys.argv[3])
    else:
        sys.exit(main())
