#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one Spark driver.

    python3 perfbench/run.py --workload headline_sf0.01 --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root (see README.md). One run:

1. sets the program up (``fresh_setup.py``): imports, a SparkSession
   on ``local[nproc]`` and the registry load, timed from the process's
   start;
2. generates the workload's corpus (``datagen.py``, fixed corpus seed;
   checked against the reference corpus's profile, ``refcheck.py``)
   and the DuckDB oracle hash of every workload query on it, both
   cached under ``.bench_build/perfbench`` and excluded from all
   timings;
3. runs one untimed warm-up pass (JIT, one-time corpus builds such as
   the bucketed lineitem table) that collects every query's output and
   checks its value hash against the oracle's;
4. runs timed rounds over the workload's queries, each in an order
   drawn from ``--seed``, until ``--seconds`` have elapsed (the first
   round always completes). Every query is timed in three phases: the
   registry callable ``fn(spark, dir)`` (build), ``executedPlan()``
   (plan) and the ``noop``-sink write (exec). The catalog cache is
   cleared and both heaps are collected before each query, outside the
   timed window. ``pass_s`` and ``cpu_s`` sum each query's median over
   its timed runs: the time and CPU of one pass over the workload;
5. after stopping Spark, sets up once more in a fresh process
   (``fresh_setup.py``), and reports the median of the two set-ups as
   ``setup_s``.

Progress goes to stdout as one JSON line per query and per round as it
completes, so a killed run still leaves a parseable partial record.
The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``, event log + spans + streaming listener; see
``tracing.py``).
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import glob
import hashlib
import importlib
import importlib.util
import itertools
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import fresh_setup
import procstat
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "ecommerce_analytics_spark"
# Set-ups per run, each from a fresh process start (the run's own and
# N_SETUPS - 1 in child processes); each costs a JVM launch (~7 s).
N_SETUPS = 2
DRIVER_MEM = "2g"
# Driver JVM options that keep its files inside the checkout: no
# hsperfdata file under /tmp, and java.io.tmpdir (a path follows).
JVM_FILES_IN = "-XX:-UsePerfData -Djava.io.tmpdir="
# The corpus is the same for every run (and cached per checkout); the
# run's --seed draws the query order of each timed round.
CORPUS_SEED = 42

HEADLINE = (
    "event_classification", "pricing_summary", "shipping_priority",
    "sales_by_region_year", "hourly_revenue", "popular_products",
    "ltv_running", "product_recommendations",
    "product_recommendations_bucketed", "token_frequencies",
    "text_quality_score", "dedup_minhash_lsh", "knn_bruteforce")
STREAM = ("stream_pipeline_e2e", "stream_sessionize_e2e")
FIXPOINT = ("product_pagerank", "dedup_clusters", "dedup_clusters_star",
            "markov_attribution", "bpe_train_merges", "embedding_top_eigvec")

# name -> (queries, scale factor of the generated corpus, copies made of
# it by tools/gen_scale.py). BENCHMARK.json lists the workloads a run
# of the full benchmark covers; the others are too long for its
# per-run budget and are run by hand.
WORKLOADS = {
    "headline_sf0.01": (HEADLINE, 0.01, 1),
    "stream_replay_sf0.001": (STREAM, 0.001, 1),
    "fixpoint_sf0.01": (FIXPOINT, 0.01, 1),
    "headline_sf1": (HEADLINE, 0.1, 10),
}
SCALED_TABLES = ("lineitem", "orders", "documents", "embeddings")


def emit(record: dict) -> None:
    print(json.dumps(record), flush=True)


def work_dir() -> str:
    return os.path.join(os.getcwd(), ".bench_build", "perfbench")


def ensure_corpus(sf: float, seed: int) -> str:
    """Corpus directory for ``(sf, seed)``, generated on first use and
    keyed by the sources of the generator and of the reference profile,
    so a change to either regenerates. A corpus that does not match the
    reference profile at its scale factor is not cached."""
    import datagen
    import refcheck
    digest = hashlib.sha256(f"{sf}:{seed}".encode())
    for name in ("datagen.py", "refcheck.py", "reference_profile.json"):
        with open(os.path.join(HERE, name), "rb") as f:
            digest.update(f.read())
    key = digest.hexdigest()
    out = os.path.join(work_dir(), "corpus", f"sf{sf}-seed{seed}-{key[:12]}")
    if not os.path.isdir(out):
        t0 = time.perf_counter()
        tmp = f"{out}.tmp{os.getpid()}"
        counts = datagen.write_corpus(tmp, sf, seed)
        ref = refcheck.reference(sf)
        if ref is not None:
            bad = refcheck.compare(refcheck.profile_dir(tmp), ref)
            if bad:
                shutil.rmtree(tmp)
                raise RuntimeError("generated corpus differs from the "
                                   "reference profile: " + "; ".join(bad))
        os.replace(tmp, out)
        emit({"record": "corpus", "dir": out, "rows": counts,
              "reference_checked": ref is not None,
              "generate_s": time.perf_counter() - t0})
    return out


def table_rows(corpus: str, name: str) -> int:
    import pyarrow.parquet as pq
    path = os.path.join(corpus, f"{name}.parquet")
    files = sorted(glob.glob(os.path.join(path, "*.parquet"))) \
        if os.path.isdir(path) else [path]
    return sum(pq.read_metadata(f).num_rows for f in files)


def ensure_scaled(base: str, k: int) -> str:
    """``k`` key-offset copies of ``base`` made by tools/gen_scale.py,
    cached per generator source, base corpus and ``k``. Checks that
    every scaled table holds exactly ``k`` times the base rows."""
    tool = os.path.join(ROOT, "tools", "gen_scale.py")
    with open(tool, "rb") as f:
        key = hashlib.sha256(f.read() + f"{base}:{k}".encode()).hexdigest()
    out = f"{base}-x{k}-{key[:12]}"
    if not os.path.isdir(out):
        t0 = time.perf_counter()
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        # no event log or JIT pinning for the generator's own session
        env = {**os.environ, "SPARK_GRAFT_EXTRA_CONF": (
            "spark.ui.showConsoleProgress=false;spark.driver."
            f"extraJavaOptions={JVM_FILES_IN}{os.environ['TMPDIR']}")}
        subprocess.run([sys.executable, tool, base, tmp, str(k)], cwd=ROOT,
                       env=env, check=True, capture_output=True, timeout=1800)
        rows = {t: table_rows(tmp, t) for t in SCALED_TABLES}
        for t, n in rows.items():
            if n != k * table_rows(base, t):
                raise RuntimeError(f"gen_scale: {t} has {n} rows, expected "
                                   f"{k} x {table_rows(base, t)}")
        os.replace(tmp, out)
        emit({"record": "corpus", "dir": out, "scaled_from": base, "k": k,
              "rows": rows, "scale_s": time.perf_counter() - t0})
    return out


def oracle_hashes(queries, names, corpus: str) -> dict[str, str | None]:
    """Oracle value hash per query (None: no oracle, rows-only check),
    computed once per corpus, oracle text and hashing code, then read
    from disk."""
    testing = importlib.import_module(f"{PKG}.testing")
    with open(testing.__file__, "rb") as f:
        hasher = hashlib.sha256(f.read()).hexdigest()
    out = {}
    for name in names:
        q = queries[name]
        if q.oracle is None:
            out[name] = None
            continue
        key = hashlib.sha256(
            f"{q.oracle}\0{q.float_sig}\0{hasher}".encode()).hexdigest()[:16]
        path = os.path.join(corpus + ".oracle", f"{name}-{key}.json")
        if not os.path.exists(path):
            t0 = time.perf_counter()
            h = testing.value_hash(testing.duckdb_oracle(q.oracle, corpus),
                                   q.float_sig)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(f"{path}.tmp{os.getpid()}", "w") as f:
                json.dump({"query": name, "hash": h,
                           "oracle_s": time.perf_counter() - t0}, f)
            os.replace(f"{path}.tmp{os.getpid()}", path)
        with open(path) as f:
            out[name] = json.load(f)["hash"]
    return out


def program_identity() -> dict:
    digest = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(os.path.join(ROOT, PKG))):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    digest.update(name.encode() + f.read())
    commit = None
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {"git_commit": commit, "program_sha": digest.hexdigest()[:16]}


class Run:
    """One benchmark run: owns the Spark session, the tracer and the
    timed query runs."""

    def __init__(self, args, names) -> None:
        self.args = args
        self.names = names
        self.corpus = None
        self.tracer = None
        if args.trace:
            self.tracer = tracing.Tracer()
        self.spark = None
        self.queries = None
        self.setups: list[dict] = []
        self.rows: list[dict] = []
        self.warmup_s = 0.0
        self.peak_rss_mb = 0.0
        self.heap_retained_mb = 0.0
        self.attempted = 0
        self.failed = 0

    # -- set-up ---------------------------------------------------------
    def _span(self, name, query=None, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, query, **attrs)

    def set_up(self) -> None:
        self.spark, self.queries, timings = fresh_setup.set_up(
            "perfbench", self.tracer)
        self.setups.append(timings)

    def set_up_fresh(self) -> None:
        """One more set-up, in a fresh process that ends before this
        returns."""
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "fresh_setup.py")],
            cwd=ROOT, capture_output=True, text=True, timeout=170)
        if proc.returncode != 0:
            raise RuntimeError(f"fresh set-up failed ({proc.returncode}): "
                               f"{proc.stderr[-1000:]}")
        self.setups.append(json.loads(proc.stdout.splitlines()[-1]))

    def tree_cpu(self) -> float:
        self_cpu = sum(os.times()[:2])
        return self_cpu + procstat.cpu_seconds(
            fresh_setup.jvm_pids(self.spark))

    # -- queries ----------------------------------------------------------
    def persistent_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def retained_heap(self) -> float:
        """JVM heap in use after a full collection: what the run's
        queries left reachable (cached blocks, state stores, catalog and
        status entries)."""
        jvm = self.spark.sparkContext._jvm
        for _ in range(2):
            jvm.java.lang.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
            .getHeapMemoryUsage()
        return heap.getUsed() / 2**20

    def held_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def _group(self, rnd, name, phase):
        if self.tracer is not None:
            self.spark.sparkContext.setJobGroup(
                tracing.job_group(rnd, name, phase), phase)

    def run_query(self, rnd, name: str) -> dict:
        """One timed query: build, plan, exec. Cache handling and RDD
        counts sit outside the timed phases."""
        sc = self.spark.sparkContext
        self.spark.catalog.clearCache()
        # every query starts on collected heaps, so that a collection the
        # previous query made due does not land in this one's timing
        gc.collect()
        sc._jvm.System.gc()
        before = self.persistent_rdds()
        row = {"record": "query", "round": rnd, "query": name,
               "ok": True, "start": time.time()}
        self.attempted += 1
        cpu0 = self.tree_cpu()
        try:
            with self._span("query", name, round=rnd):
                self._group(rnd, name, "build")
                t0 = time.perf_counter()
                with self._span("build", name, round=rnd):
                    df = self.queries[name].spark_fn(self.spark, self.corpus)
                t1 = time.perf_counter()
                self._group(rnd, name, "plan")
                with self._span("plan", name, round=rnd):
                    df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                self._group(rnd, name, "exec")
                with self._span("exec", name, round=rnd):
                    df.write.mode("overwrite").format("noop").save()
                t3 = time.perf_counter()
            row.update(build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2,
                       total_s=t3 - t0, cpu_s=self.tree_cpu() - cpu0)
        except Exception as exc:  # a failing query is counted, not fatal
            self.failed += 1
            row.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:500])
        finally:
            if self.tracer is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
        if self.tracer is not None:
            row["cache_mb_held"] = self.held_mb()
        self.spark.catalog.clearCache()
        row["rdds_leaked"] = self.persistent_rdds() - before
        row["end"] = time.time()
        return row

    def measure(self, seconds: float) -> None:
        """Timed rounds over the workload's queries, each round in an
        order drawn from the seed. The first round always completes;
        after it, measuring stops at the first query boundary past
        ``seconds``."""
        t0 = time.perf_counter()
        for rnd in itertools.count():
            order = list(self.names)
            random.Random(f"{self.args.seed}:{rnd}").shuffle(order)
            done = []
            for name in order:
                row = self.run_query(rnd, name)
                self.rows.append(row)
                done.append(row)
                emit(row)
                if rnd and time.perf_counter() - t0 >= seconds:
                    break
            emit({"record": "round", "round": rnd, "order": order,
                  "complete": len(done) == len(order),
                  "round_s": sum(r.get("total_s", 0.0) for r in done)})
            if time.perf_counter() - t0 >= seconds:
                return

    def per_query(self, key: str) -> dict[str, float]:
        """Median of ``key`` per query over its successful timed runs."""
        out = {}
        for name in self.names:
            vals = [r[key] for r in self.rows if r["query"] == name
                    and r["ok"]]
            out[name] = median(vals)
        return out

    def warmup(self, expected: dict[str, str | None]) -> None:
        """The untimed first pass: runs every query once, collecting its
        output, and checks the output's value hash against the oracle's.
        ``warmup_s`` times the Spark side only (build + collect)."""
        testing = importlib.import_module(f"{PKG}.testing")
        for name in self.names:
            self.spark.catalog.clearCache()
            self.attempted += 1
            rec = {"record": "warmup", "query": name}
            try:
                q = self.queries[name]
                with self._span("warmup", name):
                    t0 = time.perf_counter()
                    pdf = q.spark_fn(self.spark, self.corpus).toPandas()
                    t1 = time.perf_counter()
                got = testing.value_hash(pdf, q.float_sig)
                self.warmup_s += t1 - t0
                rec.update(s=t1 - t0, hash_s=time.perf_counter() - t1,
                           rows=len(pdf), hash=got,
                           ok=expected[name] in (None, got))
            except Exception as exc:  # recorded as a failed output
                rec.update(ok=False,
                           error=f"{type(exc).__name__}: {exc}"[:500])
            if not rec["ok"]:
                self.failed += 1
            emit(rec)
        self.spark.catalog.clearCache()

    # -- lifecycle --------------------------------------------------------
    def stop(self) -> list[int]:
        """Stop Spark and wait for the JVM and its workers to end."""
        if self.spark is None:
            return []
        survivors = fresh_setup.stop(self.spark)
        self.spark = None
        return survivors


def configure_env(args, tmp: str) -> None:
    """Environment for the program under test: every file it writes
    stays inside the checkout, the console progress bar is off, and the
    core count, driver heap and JIT mode are pinned."""
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(tmp, "warehouse")
    # spark-submit's launcher JVM: no hsperfdata file under /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # C1-only JIT: with tiered C2 a query keeps speeding up for minutes,
    # so how far compilation got within a run would set its timings. A
    # fixed heap size (-Xms = -Xmx) keeps heap resizing out of them too.
    conf = ["spark.ui.showConsoleProgress=false",
            "spark.driver.extraJavaOptions=-XX:TieredStopAtLevel=1 "
            f"-Xms{DRIVER_MEM} {JVM_FILES_IN}{tmp}"]
    if args.trace:
        log_dir = os.path.join(tmp, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf += ["spark.eventLog.enabled=true",
                 f"spark.eventLog.dir=file://{log_dir}",
                 "spark.eventLog.compress=false",
                 "spark.eventLog.rolling.enabled=false"]
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(conf)
    tempfile.tempdir = None  # re-read TMPDIR


def median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(run: Run, log_dir: str) -> tuple[dict, list[dict]]:
    """Per-layer metrics and a per-query table. Each query's value is
    its median over its timed runs; layer totals sum those medians over
    the workload's queries (one pass), except the peaks (``task_skew``,
    ``mb_held``, state size), which take the maximum."""
    phases = tracing.phase_metrics(log_dir, run.tracer.spans)
    io_spans = [s for s in run.tracer.spans if s["name"] == "io.load_table"]
    peaks = {"exec.task_skew", "cache.mb_held", "stream.state_rows",
             "stream.state_mb"}

    def row_values(r: dict) -> dict[str, float]:
        v = {f"{ph}_s": r[f"{ph}_s"] for ph in tracing.PHASES}
        build = phases.get((r["round"], r["query"], "build"), {})
        v["build.jobs"] = build.get("jobs", 0)
        v["build.stages"] = build.get("stages", 0)
        ex = phases.get((r["round"], r["query"], "exec"),
                        tracing.empty_counts())
        v.update({f"exec.{k}": ex.get(k, 0) for k in tracing.empty_counts()})
        ios = [s for s in io_spans if r["start"] <= s["start"] <= r["end"]]
        v["io.load_table_calls"] = len(ios)
        v["io.load_table_s"] = sum(s["end"] - s["start"] for s in ios)
        v["io.load_table_jobs"] = phases.get(
            ("io", r["round"], r["query"]), {}).get("jobs", 0)
        v["cache.rdds_leaked"] = r["rdds_leaked"]
        v["cache.mb_held"] = r["cache_mb_held"]
        stream = tracing.stream_metrics(run.tracer.progress, r["start"],
                                        r["end"])
        for k in ("stream.events_per_s", "stream.batch_s_p50"):
            stream.pop(k)
        v.update(stream)
        return v

    keys = list(row_values({"round": None, "query": None, "start": 0,
                            "end": 0, "build_s": 0, "plan_s": 0,
                            "exec_s": 0, "rdds_leaked": 0,
                            "cache_mb_held": 0}))
    per_query: dict[str, dict[str, float]] = {}
    for name in run.names:
        vals = [row_values(r) for r in run.rows if r["query"] == name
                and r["ok"]]
        per_query[name] = {k: median([v[k] for v in vals]) for k in keys}
    metrics: dict[str, float] = {"trace.pass_s": sum(
        run.per_query("total_s").values())}
    for k in keys:
        agg = max if k in peaks else sum
        metrics[k] = agg(pq[k] for pq in per_query.values())
    if run.rows:
        metrics.update({k: v for k, v in tracing.stream_metrics(
            run.tracer.progress, run.rows[0]["start"],
            run.rows[-1]["end"]).items()
            if k in ("stream.events_per_s", "stream.batch_s_p50")})
    for k in ("setup.import_s", "session.get_spark_s", "registry.load_s"):
        metrics[k] = median([s[k] for s in run.setups])
    metrics["mem.peak_rss_mb"] = run.peak_rss_mb
    metrics["mem.heap_retained_mb"] = run.heap_retained_mb
    metrics["warmup.s"] = run.warmup_s
    totals = run.per_query("total_s")
    table = []
    for name in run.names:
        pq = per_query[name]
        metrics[f"query.{name}.s"] = totals[name]
        table.append({
            "query": name, "s": totals[name],
            **{k: pq.get(k, 0.0) for k in (
                "build_s", "plan_s", "exec_s", "build.jobs", "exec.jobs",
                "exec.stages", "exec.tasks", "exec.shuffle_write_mb",
                "exec.spill_mb", "exec.gc_s", "io.load_table_calls",
                "cache.rdds_leaked")}})
    for name in HEADLINE + STREAM:  # the queries of BENCHMARK.json's workloads
        metrics.setdefault(f"query.{name}.s", 0.0)  # not in this workload
    return metrics, table


def unit_of(name: str) -> str:
    if name == "stream.events_per_s":
        return "1/s"
    if name.endswith("_mb") or name.endswith(".mb_held"):
        return "MB"
    if name.endswith(("_s", ".s", "_s_p50")):
        return "s"
    if name == "exec.task_skew":
        return "ratio"
    return "count"


def print_table(table: list[dict]) -> None:
    cols = list(table[0])
    print("  ".join(f"{c:>12}" if i else f"{c:<34}"
                    for i, c in enumerate(cols)))
    for row in table:
        print("  ".join(
            f"{row[c]:<34}" if i == 0 else
            (f"{row[c]:>12.3f}" if isinstance(row[c], float)
             else f"{row[c]:>12}") for i, c in enumerate(cols)))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's corpus scale factor")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec(PKG) is None:
        print(f"perfbench: cannot find the program ({PKG}); run from the "
              f"repository root", file=sys.stderr)
        return 2

    names, sf, copies = WORKLOADS[args.workload]
    sf = args.sf if args.sf is not None else sf
    tmp_root = os.path.join(work_dir(), "tmp")
    for pid in os.listdir(tmp_root) if os.path.isdir(tmp_root) else ():
        if not os.path.exists(f"/proc/{pid}"):  # left by a killed run
            shutil.rmtree(os.path.join(tmp_root, pid), ignore_errors=True)
    tmp = os.path.join(tmp_root, str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    configure_env(args, tmp)

    run = Run(args, names)
    try:
        run.set_up()
        run.corpus = ensure_corpus(sf, CORPUS_SEED)
        if copies > 1:
            run.corpus = ensure_scaled(run.corpus, copies)
        import pyspark
        stamp = {
            "record": "run", "workload": args.workload, "seed": args.seed,
            "sf": sf, "copies": copies, "trace": args.trace,
            "seconds": args.seconds, "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "driver_mem": DRIVER_MEM, "loadavg_start": procstat.loadavg(),
            "spark": pyspark.__version__, "python": platform.python_version(),
            "java": run.spark.sparkContext._jvm.System.getProperty(
                "java.version"), **program_identity()}
        if os.environ["SPARK_GRAFT_CPUS"] != "32":
            stamp["note"] = ("local[%s] run: compare only with runs at the "
                             "same core count (BENCH_r* are 32-core)"
                             % os.environ["SPARK_GRAFT_CPUS"])
        emit(stamp)
        expected = oracle_hashes(run.queries, names, run.corpus)
        if run.tracer is not None:
            run.tracer.add_stream_listener(run.spark)

        run.warmup(expected)
        run.measure(args.seconds)
        run.peak_rss_mb = procstat.peak_rss_mb(
            [os.getpid(), run.spark.sparkContext._gateway.proc.pid])
        run.heap_retained_mb = run.retained_heap()
    finally:
        survivors = run.stop()
    if survivors:
        print(f"perfbench: processes still alive: {survivors}",
              file=sys.stderr)
        return 1
    while len(run.setups) < N_SETUPS:
        run.set_up_fresh()
    for s in run.setups:
        emit({"record": "setup", **s})

    metrics = {
        "setup_s": median([s["setup_s"] for s in run.setups]),
        "pass_s": sum(run.per_query("total_s").values()),
        "cpu_s": sum(run.per_query("cpu_s").values()),
    }
    samples = [sum(r["query"] == n for r in run.rows) for n in names]
    emit({"record": "summary", "samples_per_query": [min(samples),
                                                     max(samples)],
          "loadavg_end": procstat.loadavg(), "attempted": run.attempted,
          "failed": run.failed,
          "failed_frac": run.failed / max(run.attempted, 1),
          "total_s": procstat.process_age(), "warmup_s": run.warmup_s,
          "peak_rss_mb": run.peak_rss_mb,
          "heap_retained_mb": run.heap_retained_mb, **metrics})
    if args.trace:
        layers, table = layer_metrics(run, os.path.join(tmp, "eventlog"))
        layers_out = {k: {"value": v, "unit": unit_of(k)}
                      for k, v in layers.items()}
        print_table(table)
        last = os.path.join(work_dir(), f"last-{args.workload}-sf{sf}.json")
        if os.path.exists(last):
            with open(last) as f:
                untraced = json.load(f)["pass_s"]
            print(f"tracing overhead: {layers['trace.pass_s'] - untraced:+.3f}"
                  f" s per pass (traced {layers['trace.pass_s']:.3f} s vs "
                  f"last untraced {untraced:.3f} s at sf{sf:g})")
        run.tracer.write(os.path.join(
            work_dir(), "traces", f"{args.workload}-seed{args.seed}.json"))
        out_metrics = layers_out
    else:
        with open(os.path.join(work_dir(),
                               f"last-{args.workload}-sf{sf}.json"), "w") as f:
            json.dump(metrics, f)
        out_metrics = {k: {"value": v, "unit": unit_of(k)}
                       for k, v in metrics.items()}
    shutil.rmtree(tmp, ignore_errors=True)
    emit({"correct": run.failed == 0, "attempted": run.attempted,
          "failed": run.failed, "metrics": out_metrics})
    return 0


if __name__ == "__main__":
    sys.exit(main())
