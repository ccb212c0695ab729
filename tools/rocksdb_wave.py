"""RocksDB state-store provider parity wave — round 10 (VERDICT r9 #1).

Every streaming twin in the package runs on the default HDFS-backed
heap state store in the test suite; at 100 TB the production backend is
RocksDB (``spark.sql.streaming.stateStore.providerClass =
...RocksDBStateStoreProvider``), which has different serialization
(UnsafeRow bytes through JNI instead of on-heap maps), eviction,
snapshot/changelog upload, and restore paths — exactly where a
state-schema or state-round-trip bug hides. This wave certifies every
keyed-state surface through the production backend, three prongs:

1. **Twin hash-parity** — all 13 ``applyInPandasWithState`` twins
   (ltv, funnel, cohort, cusum, ewma, hw, growth, transition,
   attribution, psi, kmv, sample, neardup-gate) plus the full e2e
   pipeline topology (file-source replay under AvailableNow,
   watermarked window agg + dead-letter split + foreachBatch docstore
   sink) run THREE times in fresh JVMs — heap, RocksDB with
   per-commit snapshots, and RocksDB with CHANGELOG checkpointing
   (the modern production default, a different commit/restore path) —
   via ``SPARK_GRAFT_EXTRA_CONF``, same hook as the AQE-skew wave,
   over identical deterministic multi-micro-batch file streams built
   from the driver tables. Gate: order-insensitive ``value_hash``
   (exact floats) IDENTICAL per twin across all three, and each
   RocksDB run must PROVE its mode fired per query (``rocksdb*``
   custom metrics in the last progress + the mode's artifact kind in
   the checkpoint state dir: ``.sst`` snapshots vs ``.changelog``
   commits) while the heap run proves ``.delta`` files and neither
   RocksDB kind — conf-set-but-ignored cannot pass.
2. **Checkpoint-restart under RocksDB** — the e2e pipeline first runs
   with only its first replay file landed, so each query commits that
   one epoch and ends (``run_pipeline(stop_after_first_batch=True)``),
   and is then resumed from the RocksDB checkpoint with the rest
   landed; the final rollup
   must hash-match the uninterrupted run under ALL THREE configs —
   the changelog leg's restart REPLAYS the changelog over the last
   snapshot, the recovery path a production cluster actually runs.
3. **Oracle + pytest legs** — the two e2e registry queries are swept
   against their DuckDB oracles under the RocksDB conf (the driver's
   own comparison, through the production backend), and the entire
   streaming pytest subset (batch-parity + existing restart tests for
   every twin) runs under the conf.

Usage::

    python tools/rocksdb_wave.py [sf_dir]

Writes ``ROCKSDB_r10.json`` (override with ``ROCKSDB_OUT``).
Exit 1 on any hash drift, unfired provider, oracle failure, or pytest
failure. Reference semantics under test: the Flink ValueState
enrichment (EnrichmentFunction.java) ↔ streaming/ltv_state.py:88 and
family — RocksDB is also Flink's production state backend, so this is
the deployment parity the reference never certified.
"""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

REPO = str(pathlib.Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

ROCKSDB_CLASS = ("org.apache.spark.sql.execution.streaming.state."
                 "RocksDBStateStoreProvider")
ROCKSDB_CONF = f"spark.sql.streaming.stateStore.providerClass={ROCKSDB_CLASS}"
# Third backend config: RocksDB with CHANGELOG checkpointing — the
# modern production default. Restore replays a changelog on top of the
# last uploaded snapshot instead of loading a full per-commit snapshot,
# a different recovery path worth its own parity row (the wave's
# restart leg exercises exactly that replay).
ROCKSDB_CHANGELOG_CONF = (
    ROCKSDB_CONF + ";spark.sql.streaming.stateStore.rocksdb."
    "changelogCheckpointing.enabled=true")

PYTEST_FILES = [
    "tests/test_streaming.py",
    "tests/test_streaming_funnel.py",
    "tests/test_streaming_cusum.py",
    "tests/test_streaming_ewma.py",
    "tests/test_streaming_hw.py",
    "tests/test_streaming_kmv.py",
    "tests/test_streaming_psi.py",
    "tests/test_streaming_sample.py",
    "tests/test_streaming_transitions.py",
    "tests/test_streaming_attribution.py",
    "tests/test_streaming_growth.py",
    "tests/test_neardup_gate.py",
    "tests/test_e2e_pipeline.py",
    "tests/test_replay_sinks.py",
    "tests/test_late_rows.py",
    "tests/test_incremental_admit.py",
]


# ---------------------------------------------------------------- worker

def _split_two_files(df, order_col, out_dir):
    """Write df as exactly two time/key-ordered parquet files (one per
    micro-batch trigger) — the conftest events_stream_dir protocol."""
    import shutil

    from pyspark.sql import functions as F
    median = df.approxQuantile(order_col, [0.5], 0.0)[0]
    parts = (df.filter(F.col(order_col) <= median),
             df.filter(F.col(order_col) > median))
    os.makedirs(out_dir, exist_ok=True)
    for i, part in enumerate(parts):
        tmp = f"{out_dir}/f{i}"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                shutil.move(f"{tmp}/{f}", f"{out_dir}/batch_{i}.parquet")
        shutil.rmtree(tmp)


def _state_files(ckpt: str) -> dict:
    """Counts of the state-store artifact kinds under a checkpoint:
    .sst (RocksDB snapshot SSTs), .changelog (changelog-checkpointing
    commits), .delta/.snapshot (HDFS-heap files). Which kind is
    populated is the positive proof of WHICH backend/commit mode ran."""
    out = {"sst": 0, "changelog": 0, "delta": 0, "snapshot": 0, "zip": 0}
    for root, _dirs, files in os.walk(os.path.join(ckpt, "state")):
        for f in files:
            ext = f.rsplit(".", 1)[-1]
            if ext in out:
                out[ext] += 1
    return out


def _run_twin(spark, name, out_df, mode, ckpt):
    """Run a bounded stream to a memory sink; return (pdf, fired, ssts)."""
    q = (out_df.writeStream.format("memory").queryName(f"w_{name}")
         .outputMode(mode).option("checkpointLocation", ckpt).start())
    q.processAllAvailable()
    fired = False
    lp = q.lastProgress
    if lp and lp.get("stateOperators"):
        fired = any(k.startswith("rocksdb")
                    for k in lp["stateOperators"][0]
                    .get("customMetrics", {}))
    q.stop()
    q.awaitTermination()
    return spark.table(f"w_{name}").toPandas(), fired, _state_files(ckpt)


def worker(out_path: str, sf_dir: str) -> None:
    from pyspark.sql import functions as F

    from ecommerce_analytics_spark.io import load_table
    from ecommerce_analytics_spark.session import get_spark
    from ecommerce_analytics_spark.testing import value_hash

    spark = get_spark("rocksdb_wave_worker")
    spark.sparkContext.setLogLevel("ERROR")
    provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "HDFSBackedStateStoreProvider")
    import tempfile
    root = tempfile.mkdtemp(prefix="rocksdb_wave_")

    # ---- fixtures: deterministic 2-file streams from the driver tables
    events_dir = f"{root}/events_in"
    ev = load_table(spark, sf_dir, "events")
    _split_two_files(
        ev.withColumn("ts", F.unix_micros("ts") * 1000), "event_id",
        events_dir)
    li_dir = f"{root}/li_in"
    _split_two_files(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_shipdate"), "l_orderkey", li_dir)
    docs_dir = f"{root}/docs_in"
    _split_two_files(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars"),
        "doc_id", docs_dir)

    from ecommerce_analytics_spark.operators.psi_drift import binned_features
    from ecommerce_analytics_spark.streaming.attribution_state import (
        streaming_journey_hops)
    from ecommerce_analytics_spark.streaming.cusum_state import (
        streaming_cusum_daily_revenue)
    from ecommerce_analytics_spark.streaming.ewma_state import (
        streaming_ewma_daily_revenue)
    from ecommerce_analytics_spark.streaming.funnel_state import (
        streaming_cohort_pairs, streaming_funnel)
    from ecommerce_analytics_spark.streaming.growth_state import (
        streaming_new_vs_returning_marks)
    from ecommerce_analytics_spark.streaming.hw_state import (
        streaming_holt_winters_daily_revenue)
    from ecommerce_analytics_spark.streaming.kmv_state import (
        streaming_kmv_sketch)
    from ecommerce_analytics_spark.streaming.ltv_state import streaming_ltv
    from ecommerce_analytics_spark.streaming.neardup_gate import (
        streaming_neardup_gate)
    from ecommerce_analytics_spark.streaming.psi_state import (
        streaming_actual_counts)
    from ecommerce_analytics_spark.streaming.sample_state import (
        streaming_weighted_sample)
    from ecommerce_analytics_spark.streaming.transition_state import (
        streaming_transition_pairs)
    from ecommerce_analytics_spark.streaming.windows import streaming_events

    def ev_stream():
        return streaming_events(spark, events_dir, max_files_per_trigger=1)

    def li_stream():
        return (spark.readStream
                .schema("l_orderkey long, l_shipdate timestamp")
                .option("maxFilesPerTrigger", 1).parquet(li_dir))

    def docs_stream():
        return (spark.readStream
                .schema("doc_id long, text string, lang string, "
                        "source string, n_chars long")
                .option("maxFilesPerTrigger", 1).parquet(docs_dir))

    twins = [
        ("ltv", lambda: streaming_ltv(ev_stream()), "append"),
        ("funnel", lambda: streaming_funnel(ev_stream()), "append"),
        ("cohort", lambda: streaming_cohort_pairs(ev_stream()), "append"),
        ("cusum", lambda: streaming_cusum_daily_revenue(ev_stream()),
         "append"),
        ("ewma", lambda: streaming_ewma_daily_revenue(ev_stream()),
         "append"),
        ("hw", lambda: streaming_holt_winters_daily_revenue(ev_stream()),
         "append"),
        ("growth", lambda: streaming_new_vs_returning_marks(ev_stream()),
         "append"),
        ("transition", lambda: streaming_transition_pairs(ev_stream()),
         "append"),
        ("attribution", lambda: streaming_journey_hops(ev_stream()),
         "append"),
        ("psi", lambda: streaming_actual_counts(
            binned_features(ev_stream())), "append"),
        ("kmv", lambda: streaming_kmv_sketch(li_stream()), "update"),
        ("sample", lambda: streaming_weighted_sample(docs_stream()),
         "update"),
        ("neardup_gate", lambda: streaming_neardup_gate(
            docs_stream(), F.md5(F.col("text"))), "append"),
    ]

    records: dict[str, dict] = {}
    for name, build, mode in twins:
        pdf, fired, sf = _run_twin(spark, name, build(), mode,
                                   f"{root}/ck_{name}")
        records[name] = {"rows": len(pdf), "vh": value_hash(pdf),
                         "rocksdb_fired": fired, "state_files": sf}
        print(json.dumps({"twin": name, "provider": provider,
                          **records[name]}), flush=True)

    # ---- e2e pipeline topology: straight run + mid-stream restart
    from ecommerce_analytics_spark.streaming.e2e_pipeline import (
        read_dead_letters, read_rollup, run_pipeline)
    ev_path = os.path.join(sf_dir, "events.parquet")

    def e2e(run_dir, restart: bool):
        if restart:
            # mid-stream stop: only the first replay file is landed,
            # so each query ends after its FIRST committed epoch; the
            # second run lands the rest and resumes from the checkpoint
            run_pipeline(spark, ev_path, run_dir, batch_rows=400,
                         stop_after_first_batch=True)
            run_pipeline(spark, ev_path, run_dir, batch_rows=400)
        else:
            run_pipeline(spark, ev_path, run_dir, batch_rows=400)
        rollup = read_rollup(spark, run_dir).toPandas()
        dead = read_dead_letters(spark, run_dir).toPandas()
        return {"rows": len(rollup), "vh": value_hash(rollup),
                "dead_rows": len(dead),
                "state_files": _state_files(
                    os.path.join(run_dir, "ck_agg"))}

    records["e2e_pipeline"] = e2e(f"{root}/e2e", restart=False)
    records["e2e_pipeline_restart"] = e2e(f"{root}/e2e_rs", restart=True)
    for k in ("e2e_pipeline", "e2e_pipeline_restart"):
        print(json.dumps({"twin": k, "provider": provider,
                          **records[k]}), flush=True)

    with open(out_path, "w") as f:
        json.dump({"provider": provider, "records": records}, f, indent=1)
    spark.stop()


# ---------------------------------------------------------------- parent

def _run_worker(sf_dir: str, out: str, conf: str | None) -> dict:
    env = dict(os.environ)
    env.pop("SWEEP_JSON_MERGE", None)
    if conf:
        env["SPARK_GRAFT_EXTRA_CONF"] = conf
    else:
        env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker", out,
         sf_dir], env=env, cwd=REPO)
    if proc.returncode != 0 or not os.path.exists(out):
        print(f"worker (conf={conf!r}) failed rc={proc.returncode}",
              file=sys.stderr)
        sys.exit(2)
    with open(out) as f:
        return json.load(f)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_path = os.environ.get("ROCKSDB_OUT", f"{REPO}/ROCKSDB_r10.json")
    import tempfile
    tmp = tempfile.mkdtemp(prefix="rocksdb_wave_out_")

    heap = _run_worker(sf_dir, f"{tmp}/heap.json", None)
    rocks = _run_worker(sf_dir, f"{tmp}/rocks.json", ROCKSDB_CONF)
    rocks_cl = _run_worker(sf_dir, f"{tmp}/rocks_changelog.json",
                           ROCKSDB_CHANGELOG_CONF)

    failures: list[str] = []
    comparison: dict[str, dict] = {}
    for name, h in heap["records"].items():
        r = rocks["records"][name]
        c = rocks_cl["records"][name]
        ok = (h["vh"] == r["vh"] == c["vh"]
              and h["rows"] == r["rows"] == c["rows"] and h["rows"] > 0)
        comparison[name] = {
            "rows": h["rows"], "heap_vh": h["vh"], "rocksdb_vh": r["vh"],
            "rocksdb_changelog_vh": c["vh"],
            "vh_match": h["vh"] == r["vh"] == c["vh"],
            "rocksdb_fired": r.get("rocksdb_fired"),
            "changelog_fired": c.get("rocksdb_fired"),
            "rocksdb_state_files": r.get("state_files"),
            "changelog_state_files": c.get("state_files"),
            "heap_state_files": h.get("state_files"),
        }
        if not ok:
            failures.append(f"{name}: heap/rocksdb/changelog drift "
                            f"or empty")
        # fired-proof gate: memory-sink twins expose progress metrics;
        # e2e runs are proven by .sst files in their checkpoints
        # which artifact kind is populated proves which backend AND
        # which commit mode ran: snapshot mode uploads SSTs per
        # commit; changelog mode writes .changelog files (SSTs only
        # at snapshot intervals, absent on short streams); heap
        # writes .delta/.snapshot and neither RocksDB kind.
        for tag, run, kind in (("rocksdb", r, "sst"),
                               ("rocksdb_changelog", c, "changelog")):
            if "rocksdb_fired" in run and not run["rocksdb_fired"] \
                    and not name.startswith("e2e"):
                failures.append(f"{name}: {tag} provider did not fire")
            if run.get("state_files", {}).get(kind, 0) == 0:
                failures.append(f"{name}: no .{kind} files in {tag} "
                                f"checkpoint")
        if h.get("rocksdb_fired") and not name.startswith("e2e"):
            failures.append(f"{name}: heap run unexpectedly used rocksdb")
        hsf = h.get("state_files", {})
        if hsf.get("sst", 0) or hsf.get("changelog", 0):
            failures.append(f"{name}: rocksdb files in HEAP checkpoint")
        if hsf.get("delta", 0) == 0:
            failures.append(f"{name}: no .delta files in heap checkpoint")
    # restart invariance within each backend. The changelog leg's
    # restart is the interesting one: recovery REPLAYS the changelog
    # on top of the last snapshot instead of loading a full snapshot.
    for tag, run in (("heap", heap), ("rocksdb", rocks),
                     ("rocksdb_changelog", rocks_cl)):
        a = run["records"]["e2e_pipeline"]["vh"]
        b = run["records"]["e2e_pipeline_restart"]["vh"]
        if a != b:
            failures.append(f"e2e restart drift under {tag}")

    # ---- oracle leg: the two e2e registry queries vs DuckDB under
    # both RocksDB configs (the driver's own comparison, through the
    # production backends)
    from certify import sweep
    sweep_recs = {}
    for tag, conf in (("rocksdb", ROCKSDB_CONF),
                      ("rocksdb_changelog", ROCKSDB_CHANGELOG_CONF)):
        sweep_recs[tag] = sweep(
            "/root/testdata/sf0.01", {"SPARK_GRAFT_EXTRA_CONF": conf},
            names=("stream_pipeline_e2e", "stream_sessionize_e2e"))
        if not all(r["ok"] for r in sweep_recs[tag].values()):
            failures.append(f"e2e oracle sweep under {tag} failed")

    # ---- pytest leg: full streaming parity subset under both configs
    pytest_recs = {}
    for tag, conf in (("rocksdb", ROCKSDB_CONF),
                      ("rocksdb_changelog", ROCKSDB_CHANGELOG_CONF)):
        env = dict(os.environ, SPARK_GRAFT_EXTRA_CONF=conf)
        # -o addopts= : pytest.ini's default `-m "not heavy"` would
        # deselect 15 of the 16 files and still exit 0
        proc = subprocess.run(
            [sys.executable, "-m", "pytest", "-q", "-o", "addopts=",
             *PYTEST_FILES],
            env=env, cwd=REPO, capture_output=True, text=True)
        tail = (proc.stdout or "").strip().splitlines()[-1:]
        pytest_recs[tag] = {"exit": proc.returncode, "tail": tail}
        if proc.returncode != 0:
            failures.append(f"streaming pytest subset failed under "
                            f"{tag}: {tail}")

    artifact = {
        "wave": "rocksdb-state-store-parity",
        "provider_class": ROCKSDB_CLASS,
        "sf_dir": sf_dir,
        "twins": comparison,
        "e2e_oracle_sweep_sf0.01": sweep_recs,
        "pytest_subset": {"files": PYTEST_FILES, **pytest_recs},
        "failures": failures,
    }
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps({"twins": len(comparison),
                      "failures": failures,
                      "artifact": out_path}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        worker(sys.argv[2], sys.argv[3])
    else:
        main()
