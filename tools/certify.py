"""Certification waves: the registry sweep under a perturbation.

The engine's correctness claim has two parts: every registered query
matches its DuckDB oracle, and no result depends on a physical choice.
Each wave runs ``tools/sweep.py`` (the driver's own spark-vs-oracle
comparison) under one or more perturbations, its *legs*, and applies
one drift rule: every query of the reference that has a value hash
must appear in each leg with an equal hash, and any ``ok: false``
record, on the reference or a leg, fails the wave. The reference is
the baseline sweep unless the wave names one of its own legs.

Waves (``WAVES`` below):

* ``aqeskew`` — the skewed fixture (tools/skew_fixture.py) swept with
  AQE skew splitting forced on (lowered thresholds, broadcasts off)
  and with AQE off; the two legs must agree, and the post-execution
  plan must show ``skew=true`` in at least one query.
* ``shufflepart`` — five physical-width axes, each against the
  baseline: shuffle partitions 7 and 64, 64 KB scan splits, 64-row
  Arrow batches, whole-stage codegen off.
* ``roworder`` — a seeded row permutation of every table, rewritten
  as one parquet file each (content identical, layout hostile).
* ``retry`` — every driver-table scan fails the first attempt of every
  third task (``SPARK_GRAFT_FAULT_INJECT``) under ``local[N,4]``.
  Proofs: a speculation probe (local mode never speculates: 8 attempts
  for 8 partitions) and a canary (the injection kills a plain
  ``local[N]`` job and survives retries).
* ``tz`` — OS ``TZ=America/New_York`` exported to JVM, Python and
  DuckDB. Proof: DST-transition micro-queries return the UTC answers.
* ``localcluster`` — ``local-cluster[2,8,8192]``: separate executor
  JVMs, real serialization and network shuffle. Proofs: a topology
  probe (driver + 2 executors, >= 2 pyspark-daemon parents, a correct
  cross-JVM shuffle sum) and the streaming stateful twins of
  tools/rocksdb_wave.py, heap and RocksDB-changelog, hash-equal to
  ROCKSDB_r10.json at the SF that artifact records.

Usage::

    python tools/certify.py <wave> <sf_dir> <baseline.json> <out.json>

The baseline is a full sweep of the current code at ``sf_dir``::

    SWEEP_JSON_OUT=<baseline.json> python tools/sweep.py <sf_dir>

It is refused (exit 2) when its records were swept at another SF or
when any record's fingerprint differs from the current registry's.
Exit 1 on any oracle failure, drift or failed proof; exit 2 on harness
trouble (refused baseline, a sweep that wrote no artifact).
"""

from __future__ import annotations

import glob
import json
import os
import pathlib
import shutil
import subprocess
import sys
import tempfile
import time

REPO = str(pathlib.Path(__file__).resolve().parents[1])
TOOLS = os.path.join(REPO, "tools")
sys.path[:0] = [REPO, TOOLS]

from skew_fixture import build_skewed  # noqa: E402
from sweep import registry_fingerprints, select_changed  # noqa: E402

SKEW_ON_CONF = (
    "spark.sql.autoBroadcastJoinThreshold=-1;"
    "spark.sql.adaptive.enabled=true;"
    "spark.sql.adaptive.skewJoin.enabled=true;"
    "spark.sql.adaptive.forceOptimizeSkewedJoin=true;"
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor=2;"
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes=16k;"
    "spark.sql.adaptive.advisoryPartitionSizeInBytes=8k;"
    "spark.sql.adaptive.coalescePartitions.minPartitionSize=4k"
)
AQE_OFF_CONF = (
    "spark.sql.autoBroadcastJoinThreshold=-1;"
    "spark.sql.adaptive.enabled=false;"
    "spark.sql.join.preferSortMergeJoin=true"
)
AXES = {
    "shuffle_7": "spark.sql.shuffle.partitions=7",
    "shuffle_64": "spark.sql.shuffle.partitions=64",
    "scan_64k": ("spark.sql.files.maxPartitionBytes=65536;"
                 "spark.sql.files.openCostInBytes=0"),
    # pandas-UDF batch geometry: an operator that computes across an
    # Arrow batch boundary drifts here
    "arrow_64": "spark.sql.execution.arrow.maxRecordsPerBatch=64",
    # the interpreted evaluator for every expression
    "codegen_off": "spark.sql.codegen.wholeStage=false",
}
PERMUTE_SEED = 8_2026
HOSTILE_TZ = "America/New_York"
MASTER = "local-cluster[2,8,8192]"
# 6g executor heaps inside the 8g worker allowance; PYTHONPATH so
# executor python workers can import the package when unpickling.
LC_CONF = (f"spark.executor.memory=6g;"
           f"spark.executorEnv.PYTHONPATH={REPO}")
LC_ENV = {"SPARK_GRAFT_MASTER": MASTER, "SPARK_GRAFT_EXTRA_CONF": LC_CONF}
# Queries tests/test_localcluster.py hashes under a 2-JVM cluster.
GATE_QUERIES = ("event_classification", "product_recommendations",
                "ltv_running", "dedup_minhash_lsh")


# ------------------------------------------------------------ shared core

def sweep(sf_dir: str, overrides: dict, names=()) -> dict:
    """One tools/sweep.py run; its records by query name. The env is
    this process's minus ``SWEEP_JSON_MERGE``/``SWEEP_PLAN_GREP``, plus
    ``overrides``. Exits 2 when the sweep writes no artifact."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("SWEEP_JSON_MERGE", "SWEEP_PLAN_GREP")}
    with tempfile.TemporaryDirectory(prefix="certify_sweep_") as tmp:
        art = os.path.join(tmp, "sweep.json")
        env.update(overrides, SWEEP_JSON_OUT=art)
        proc = subprocess.run(
            [sys.executable, f"{TOOLS}/sweep.py", sf_dir, *names],
            env=env, cwd=REPO)
        if not os.path.exists(art):
            print(f"sweep.py exited {proc.returncode} without writing an "
                  f"artifact (overrides {overrides})", file=sys.stderr)
            sys.exit(2)
        with open(art) as f:
            return {r["q"]: r for r in json.load(f)["records"]}


def drift_check(ref: dict, run: dict) -> dict:
    """The drift rule for one leg against its reference."""
    return {
        "n_queries": len(run),
        "oracle_failures": sorted(q for q, r in run.items()
                                  if not r.get("ok")),
        "missing": sorted(q for q, r in ref.items()
                          if r.get("vh") and q not in run),
        "drift": sorted(q for q, r in ref.items()
                        if r.get("vh") and q in run
                        and run[q].get("vh") != r["vh"]),
    }


def leg_failures(checks: dict) -> list[str]:
    """One message per leg and non-empty drift-rule field."""
    return [f"{tag} {k.replace('_', ' ')}: {chk[k]}"
            for tag, chk in checks.items()
            for k in ("oracle_failures", "missing", "drift") if chk[k]]


def run_worker(args: list[str], env: dict, timeout: int = 600) -> dict:
    """Run ``certify.py --worker <args>``; its last JSON line, or the
    exit code and stderr tail when it printed none."""
    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker", *args],
            env=env, cwd=REPO, capture_output=True, text=True,
            timeout=timeout)
    except subprocess.TimeoutExpired:
        return {"rc": "timeout"}
    rec = {}
    for line in (proc.stdout or "").splitlines():
        if line.startswith("{"):
            try:
                rec = json.loads(line)
            except ValueError:
                pass
    return rec or {"rc": proc.returncode,
                   "stderr": (proc.stderr or "")[-800:]}


def write_artifact(out_path: str, doc: dict) -> None:
    """Write ``doc`` stamped with the commit, host cores and load."""
    commit = subprocess.run(
        ["git", "describe", "--always", "--dirty", "--abbrev=40"],
        cwd=REPO, capture_output=True, text=True).stdout.strip()
    doc = {**doc, "commit": commit,
           "nproc": len(os.sched_getaffinity(0)),
           "loadavg_end": list(os.getloadavg())}
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)


def load_baseline(path: str, sf_dir: str) -> dict:
    """Baseline records by name; exit 2 unless every record was swept
    at ``sf_dir`` with the current registry fingerprint."""
    with open(path) as f:
        recs = json.load(f)["records"]
    sfs = sorted({os.path.normpath(r.get("sf", "")) for r in recs}
                 - {os.path.normpath(sf_dir)})
    if sfs:
        print(f"baseline {path} was swept at {sfs}, not {sf_dir}",
              file=sys.stderr)
        sys.exit(2)
    fps = registry_fingerprints()
    stale = sorted(set(select_changed(fps, recs))
                   | {r["q"] for r in recs if r["q"] not in fps})
    if stale:
        print(f"baseline {path} is stale for {len(stale)} queries: "
              f"{stale}\nrefresh it with:\n  SWEEP_JSON_OUT={path} "
              f"python tools/sweep.py --changed {sf_dir}", file=sys.stderr)
        sys.exit(2)
    return {r["q"]: r for r in recs}


# --------------------------------------------------------------- fixtures

def build_permuted(sf_dir: str, out_dir: str) -> str:
    """Every driver table's rows shuffled by a seeded permutation and
    rewritten as one parquet file: same content, hostile layout."""
    import numpy as np
    import pyarrow.parquet as pq

    from ecommerce_analytics_spark.schemas import DRIVER_TABLES

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.RandomState(PERMUTE_SEED)
    for name in DRIVER_TABLES:
        src = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(src):
            continue
        table = (pq.ParquetDataset(src).read() if os.path.isdir(src)
                 else pq.read_table(src))
        pq.write_table(table.take(rng.permutation(table.num_rows)),
                       os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ---------------------------------------------------------------- workers

def probe_worker(sf_dir: str | None = None) -> None:
    """Topology of the session's cluster; with ``sf_dir``, also the
    value hash of each GATE_QUERIES entry."""
    from ecommerce_analytics_spark.session import get_spark

    spark = get_spark("localcluster_probe")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    deadline = time.time() + 60
    n_exec = 0
    while time.time() < deadline:
        n_exec = sc._jsc.sc().getExecutorMemoryStatus().size()
        if n_exec >= 3:  # driver + 2 executors registered
            break
        time.sleep(1)

    def daemon_ppid(_):
        import os as _os
        yield _os.getppid()

    ppids = set(sc.range(0, 16, numSlices=16)
                .mapPartitions(daemon_ppid).collect())
    # a real shuffle across the JVMs, with a value check
    total = (spark.range(0, 100000, 1, 16)
             .selectExpr("id % 97 as k", "id as v")
             .groupBy("k").sum("v").selectExpr("sum(`sum(v)`) as s")
             .collect()[0][0])
    rec = {"master": sc.master, "executor_mem_entries": n_exec,
           "distinct_daemon_ppids": sorted(ppids),
           "driver_pid": os.getpid(),
           "shuffle_sum_ok": total == sum(range(100000))}
    if sf_dir:
        from ecommerce_analytics_spark.plans.registry import query_map
        from ecommerce_analytics_spark.testing import value_hash
        qmap = query_map()
        rec["hashes"] = {n: value_hash(qmap[n](spark, sf_dir).toPandas())
                         for n in GATE_QUERIES}
    print(json.dumps(rec), flush=True)
    spark.stop()


def dst_worker() -> None:
    """Under the hostile OS zone: DST-straddling values from both
    engines. 2024-03-10: America/New_York springs forward at 07:00 UTC,
    so 06:30Z and 07:30Z are 01:30 EST and 03:30 EDT locally."""
    time.tzset()
    import duckdb
    from pyspark.sql import functions as F

    from ecommerce_analytics_spark.session import get_spark

    spark = get_spark("tz_dst_probe")
    spark.sparkContext.setLogLevel("ERROR")
    rows = [("2024-03-10 06:30:00",), ("2024-03-10 07:30:00",)]
    got = (spark.createDataFrame(rows, "s string")
           .withColumn("ts", F.to_timestamp("s"))
           .select(F.hour("ts").alias("h"),
                   F.date_format("ts", "yyyy-MM-dd HH:mm").alias("fmt"),
                   F.window("ts", "1 hour").start.cast("string").alias("w"),
                   F.unix_timestamp("ts").alias("ux"),
                   F.from_unixtime(F.unix_timestamp("ts")).alias("rt"))
           .orderBy("h").collect())
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    duck = con.execute(
        "select extract(hour from ts), strftime(ts, '%Y-%m-%d %H:%M'), "
        "cast(time_bucket(interval 1 hour, ts) as varchar), "
        "cast(epoch(ts) as bigint) "
        "from (select cast(s as timestamp) ts from (values "
        "('2024-03-10 06:30:00'), ('2024-03-10 07:30:00')) v(s)) "
        "order by 1").fetchall()
    print(json.dumps({"os_tz": os.environ.get("TZ"),
                      "spark": [list(r) for r in got],
                      "duckdb": [list(map(str, r)) for r in duck]}),
          flush=True)
    spark.stop()


def spec_worker() -> None:
    """An 8 s straggler under maximally aggressive speculation confs;
    prints how many task attempts the 8-partition stage launched."""
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[8]").appName("specprobe")
             .config("spark.speculation", "true")
             .config("spark.speculation.interval", "50ms")
             .config("spark.speculation.quantile", "0.1")
             .config("spark.speculation.multiplier", "1.0")
             .config("spark.speculation.minTaskRuntime", "0ms")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    outdir = tempfile.mkdtemp(prefix="certify_spec_")

    def f(it):
        from pyspark import TaskContext
        ctx = TaskContext.get()
        open(os.path.join(outdir, "%d_%d_%d_%d" % (
            ctx.stageId(), ctx.partitionId(), ctx.attemptNumber(),
            ctx.taskAttemptId())), "w").close()
        if ctx.partitionId() == 0:
            time.sleep(8)
        yield from it

    assert spark.range(0, 80, 1, 8).mapInPandas(f, "id long").count() == 80
    print(json.dumps({"partitions": 8,
                      "task_attempts": len(glob.glob(f"{outdir}/*"))}),
          flush=True)
    shutil.rmtree(outdir, ignore_errors=True)
    spark.stop()


def canary_worker(sf_dir: str) -> None:
    """Counts lineitem, so the fault injection's effect is visible."""
    from ecommerce_analytics_spark.io import load_table
    from ecommerce_analytics_spark.session import get_spark

    spark = get_spark("retry-canary")
    print(json.dumps({"count": load_table(spark, sf_dir, "lineitem")
                      .count()}), flush=True)


WORKERS = {"probe": probe_worker, "dst": dst_worker,
           "spec": spec_worker, "canary": canary_worker}


# ----------------------------------------------------------------- proofs
# A probe runs before the sweeps and stops the wave when it fails; a
# proof runs after them and reads the legs. Each returns (record,
# failures).

WANT_SPARK = [
    [6, "2024-03-10 06:30", "2024-03-10 06:00:00",
     1710052200, "2024-03-10 06:30:00"],
    [7, "2024-03-10 07:30", "2024-03-10 07:00:00",
     1710055800, "2024-03-10 07:30:00"],
]
WANT_DUCK = [
    ["6", "2024-03-10 06:30", "2024-03-10 06:00:00", "1710052200"],
    ["7", "2024-03-10 07:30", "2024-03-10 07:00:00", "1710055800"],
]


def run_dst_fixture(sf_dir: str = "") -> tuple[dict, list[str]]:
    rec = run_worker(["dst"], dict(os.environ, TZ=HOSTILE_TZ))
    if "spark" not in rec:
        return rec, ["dst probe produced no record"]
    failures = []
    if rec["spark"] != WANT_SPARK:
        failures.append(f"spark DST values shifted under OS "
                        f"TZ={HOSTILE_TZ}: {rec['spark']}")
    if rec.get("duckdb") != WANT_DUCK:
        failures.append(f"duckdb DST values shifted under OS "
                        f"TZ={HOSTILE_TZ}: {rec.get('duckdb')}")
    return rec, failures


def retry_probe(sf_dir: str) -> tuple[dict, list[str]]:
    spec = run_worker(["spec"], dict(os.environ))
    base = {k: v for k, v in os.environ.items()
            if not k.startswith("SPARK_GRAFT_FAULT")
            and k != "SPARK_GRAFT_TASK_RETRIES"}
    inject = dict(base, SPARK_GRAFT_FAULT_INJECT="1")
    canary = {
        "injection_kills_plain_local":
            "count" not in run_worker(["canary", sf_dir], inject),
        "injection_survives_retries":
            "count" in run_worker(["canary", sf_dir],
                                  dict(inject, SPARK_GRAFT_TASK_RETRIES="4")),
    }
    failures = [] if spec.get("task_attempts") == 8 else [
        f"speculation probe launched {spec.get('task_attempts')} "
        f"attempts for 8 partitions"]
    failures += [f"fault-injection canary: {k} is false"
                 for k, v in canary.items() if not v]
    return {"speculation_probe": spec, "canary": canary}, failures


def topology_probe(sf_dir: str) -> tuple[dict, list[str]]:
    rec = run_worker(["probe"], dict(os.environ, **LC_ENV))
    if "master" not in rec:
        return rec, ["probe produced no record"]
    ppids = rec.get("distinct_daemon_ppids", [])
    checks = {
        f"probe master is {rec['master']}":
            str(rec["master"]).startswith("local-cluster"),
        "fewer than driver+2 executors registered":
            rec.get("executor_mem_entries", 0) >= 3,
        f"python daemons not split across JVMs: {ppids}": len(ppids) >= 2,
        "python workers parented by the driver process":
            rec.get("driver_pid") not in ppids,
        "cross-JVM shuffle produced a wrong sum": rec.get("shuffle_sum_ok"),
    }
    return rec, [msg for msg, ok in checks.items() if not ok]


def skew_fired(sf_dir: str, runs: dict) -> tuple[dict, list[str]]:
    fired = sorted(q for q, r in runs["skew_on"].items()
                   if r.get("plan_hits", {}).get("skew=true", 0) > 0)
    return ({"n_skew_fired": len(fired), "skew_fired": fired},
            [] if fired else ["skew=true fired in no query"])


def streaming_twins(sf_dir: str, runs: dict) -> tuple[dict, list[str]]:
    """rocksdb_wave's stateful twins under local-cluster, heap and
    RocksDB-changelog, against ROCKSDB_r10.json's single-JVM hashes at
    the SF that artifact was recorded at."""
    from rocksdb_wave import ROCKSDB_CHANGELOG_CONF

    with open(f"{REPO}/ROCKSDB_r10.json") as f:
        committed = json.load(f)
    stream_sf = committed["sf_dir"]
    twin_runs, failures = {}, []
    with tempfile.TemporaryDirectory(prefix="certify_twins_") as tmp:
        for tag, conf in (("heap", LC_CONF), ("rocksdb_changelog",
                          f"{LC_CONF};{ROCKSDB_CHANGELOG_CONF}")):
            out = f"{tmp}/{tag}.json"
            proc = subprocess.run(
                [sys.executable, f"{TOOLS}/rocksdb_wave.py", "--worker",
                 out, stream_sf], cwd=REPO, timeout=3600,
                env=dict(os.environ, SPARK_GRAFT_MASTER=MASTER,
                         SPARK_GRAFT_EXTRA_CONF=conf))
            if proc.returncode != 0 or not os.path.exists(out):
                failures.append(f"streaming worker ({tag}) failed "
                                f"rc={proc.returncode}")
                continue
            with open(out) as f:
                twin_runs[tag] = json.load(f)["records"]
    twins = {}
    for name, base in committed["twins"].items():
        twins[name] = {"committed_single_jvm_vh": base.get("heap_vh")}
        for tag, recs in twin_runs.items():
            got = recs.get(name, {})
            twins[name].update({f"{tag}_vh": got.get("vh"),
                                f"{tag}_rows": got.get("rows")})
            if got.get("vh") != base.get("heap_vh") or not got.get("rows"):
                failures.append(f"{name}: {tag} under local-cluster "
                                f"drifted from single-JVM hash")
    for tag, recs in twin_runs.items():
        if (recs.get("e2e_pipeline", {}).get("vh")
                != recs.get("e2e_pipeline_restart", {}).get("vh")):
            failures.append(f"e2e restart drift under local-cluster ({tag})")
    for name, rec in twin_runs.get("rocksdb_changelog", {}).items():
        if rec.get("rocksdb_fired") is False and not name.startswith("e2e"):
            failures.append(f"{name}: rocksdb did not fire under "
                            f"local-cluster changelog leg")
        if rec.get("state_files", {}).get("changelog", 0) == 0:
            failures.append(f"{name}: no .changelog files under "
                            f"local-cluster changelog leg")
    return {"stream_sf": stream_sf, "legs": sorted(twin_runs),
            "twins": twins}, failures


# ------------------------------------------------------------------ waves

def _conf(conf: str) -> dict:
    return {"SPARK_GRAFT_EXTRA_CONF": conf}


WAVES = {
    "aqeskew": {
        "fixture": build_skewed,
        "legs": {"skew_on": dict(_conf(SKEW_ON_CONF),
                                 SWEEP_PLAN_GREP="skew=true"),
                 "aqe_off": _conf(AQE_OFF_CONF)},
        "reference": "aqe_off",
        "proof": skew_fired,
    },
    "shufflepart": {"legs": {tag: _conf(c) for tag, c in AXES.items()}},
    "roworder": {"fixture": build_permuted, "legs": {"permuted": {}}},
    "retry": {
        "legs": {"injected": {"SPARK_GRAFT_FAULT_INJECT": "1",
                              "SPARK_GRAFT_TASK_RETRIES": "4"}},
        "probe": retry_probe,
    },
    "tz": {"legs": {"tz": {"TZ": HOSTILE_TZ}}, "probe": run_dst_fixture},
    "localcluster": {"legs": {"local_cluster": LC_ENV},
                     "probe": topology_probe, "proof": streaming_twins},
}


def certify(wave: str, sf_dir: str, baseline_path: str,
            out_path: str) -> int:
    row = WAVES[wave]
    reference = row.get("reference", "baseline")
    runs = {"baseline": load_baseline(baseline_path, sf_dir)}
    t0, load0 = time.time(), list(os.getloadavg())
    doc = {"wave": wave, "sf_dir": sf_dir, "baseline": baseline_path,
           "loadavg_start": load0, "reference": reference,
           "legs": {tag: {"overrides": o} for tag, o in row["legs"].items()}}
    failures: list[str] = []
    if "probe" in row:
        doc["probe"], failures = row["probe"](sf_dir)
        print(json.dumps({"probe": doc["probe"], "failures": failures}),
              flush=True)
    if not failures:
        with tempfile.TemporaryDirectory(prefix=f"certify_{wave}_") as work:
            target = (row["fixture"](sf_dir, f"{work}/fixture")
                      if "fixture" in row else sf_dir)
            runs.update((tag, sweep(target, o))
                        for tag, o in row["legs"].items())
        if reference != "baseline":
            del runs["baseline"]
        checks = {tag: drift_check(runs[reference], recs)
                  for tag, recs in runs.items()}
        for tag, chk in checks.items():
            doc["legs"].setdefault(tag, {}).update(chk)
        failures = leg_failures(checks)
        if "proof" in row:
            doc["proof"], more = row["proof"](sf_dir, runs)
            failures += more
    doc.update(failures=failures, wall_s=round(time.time() - t0, 1))
    write_artifact(out_path, doc)
    print(json.dumps({"wave": wave, "failures": failures,
                      "wall_s": doc["wall_s"], "artifact": out_path}))
    return 1 if failures else 0


def main(argv: list[str]) -> int:
    if len(argv) != 4 or argv[0] not in WAVES:
        print(f"usage: certify.py {{{','.join(WAVES)}}} <sf_dir> "
              f"<baseline.json> <out.json>", file=sys.stderr)
        return 2
    return certify(*argv)


if __name__ == "__main__":
    if sys.argv[1:2] == ["--worker"]:
        WORKERS[sys.argv[2]](*sys.argv[3:])
    else:
        sys.exit(main(sys.argv[1:]))
