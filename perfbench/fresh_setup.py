#!/usr/bin/env python3
"""The program's set-up, from process start to ready, and its teardown.

Set-up is what a fresh driver process does before it can run a query:
interpreter start, the imports of pyspark and the package, a
SparkSession from ``session.get_spark`` (which launches the JVM) and the
registry load. Every time is taken from the process's own start, read
from ``/proc``, so interpreter start-up counts as well.

Run as a script (from the repository root, with the benchmark's
environment), it sets up once, prints the timings as one JSON line,
stops Spark and waits for the JVM to end:

    python3 perfbench/fresh_setup.py
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import time

import procstat

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "ecommerce_analytics_spark"


def set_up(app_name: str, tracer=None):
    """Import the package, start a session and load the registry.

    Returns ``(spark, queries, timings)``; each timing is a phase's
    length and ``setup_s`` the process's age when ready. With a tracer,
    ``io.load_table`` is wrapped before the registry imports the
    operator modules, and the phases are recorded as spans."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    t0 = procstat.process_age()
    io_mod = importlib.import_module(f"{PKG}.io")
    if tracer is not None:
        tracer.wrap_load_table(io_mod)
    session = importlib.import_module(f"{PKG}.session")
    registry = importlib.import_module(f"{PKG}.plans.registry")
    t1 = procstat.process_age()
    spark = session.get_spark(app_name)
    spark.sparkContext.setLogLevel("ERROR")
    t2 = procstat.process_age()
    queries = registry.all_queries()
    t3 = procstat.process_age()
    if tracer is not None:
        born = time.time() - procstat.process_age()
        tracer.add_span("setup.import", born + t0, born + t1)
        tracer.add_span("session.get_spark", born + t1, born + t2)
        tracer.add_span("registry.load", born + t2, born + t3)
    return spark, queries, {
        "setup.start_s": t0, "setup.import_s": t1 - t0,
        "session.get_spark_s": t2 - t1, "registry.load_s": t3 - t2,
        "setup_s": t3}


def jvm_pids(spark) -> list[int]:
    """The Spark JVM and every process below it (Python workers)."""
    return procstat.descendants(spark.sparkContext._gateway.proc.pid)


def stop(spark) -> list[int]:
    """Stop Spark, end the JVM and wait for it and its workers; returns
    the pids still alive after the wait."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    pids = jvm_pids(spark)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    return procstat.wait_gone(pids, 30)


def main() -> int:
    spark, _, timings = set_up("perfbench-setup")
    survivors = stop(spark)
    print(json.dumps({**timings, "survivors": survivors}), flush=True)
    return 1 if survivors else 0


if __name__ == "__main__":
    sys.exit(main())
