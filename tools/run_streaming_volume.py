"""Streaming keyed state AT VOLUME — round 9 (VERDICT r8 #4).

The streaming twins were certified for semantics at tiny batches, and
the r8 scaling study measured state growth laws on synthetic frames up
to 500k input rows. This study runs the real twins over the REAL
driver events/documents tables at sf1.0 volume (1M events / 500k
docs — tools/gen_scale.py 10x of sf0.1) in bounded micro-batches and
records, per batch, the state-store size and trigger latency; then
asserts the two things a 100 TB operator needs:

* **final-state parity with the batch formulation** — the value the
  keyed state holds after the whole stream equals the one-shot batch
  aggregate (ltv vs final_ltv_per_user; neardup-gate canonicals vs
  min-doc_id-per-signature; sessionize vs its registry DuckDB oracle);
* **flat per-batch cost** — batch latency must not grow with
  accumulated state (second-half p50 vs first-half p50), and the
  watermarked sessionize state must stay BOUNDED (eviction works:
  max in-flight state rows << total sessions emitted).

The per-twin runners are importable; tests/test_streaming_volume.py
runs them at sf0.1 volume as the always-on pytest parity gate, this
tool at sf1.0 for the committed artifact.

Usage::

    python tools/run_streaming_volume.py [scaled_sf_dir]

Generates the scaled dir via tools/gen_scale.py if missing. Writes
``STREAMVOLUME_r9.json`` (override with ``STREAMVOLUME_OUT``).
Exit 1 on any parity failure or unbounded-state signal.
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

REPO = str(pathlib.Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def _progress_records(q) -> list[dict]:
    recs = []
    for p in (json.loads(x.json) for x in q.recentProgress):
        if p.get("numInputRows", 0) == 0:
            continue
        so = (p.get("stateOperators") or [{}])[0]
        recs.append({
            "input_rows": p["numInputRows"],
            "batch_ms": p["durationMs"]["triggerExecution"],
            "state_rows": so.get("numRowsTotal"),
            "state_bytes": so.get("memoryUsedBytes"),
            "rows_dropped_by_watermark": so.get(
                "numRowsDroppedByWatermark"),
        })
    return recs


def _cost_flatness(batches: list[dict]) -> float | None:
    """Second-half p50 latency over first-half p50 — ~1.0 when batch
    cost does not grow with accumulated state."""
    durs = [b["batch_ms"] for b in batches]
    if len(durs) < 4:
        return None
    half = len(durs) // 2
    first = sorted(durs[:half])[half // 2]
    second = sorted(durs[half:])[(len(durs) - half) // 2]
    return round(second / max(first, 1), 3)


def _replay_to_parquet(spark, sf_dir: str, run_dir: str, batch_rows: int,
                       topology):
    """Replay the events table (sources/simulator.write_replay: one
    time-ordered file of ``batch_rows`` rows per micro-batch, the
    end-of-replay sentinel last) through ``topology`` into a parquet
    sink under ``run_dir`` under AvailableNow; returns the per-batch
    progress records."""
    from ecommerce_analytics_spark.sources.simulator import write_replay
    from ecommerce_analytics_spark.streaming.e2e_pipeline import run_to_end
    from ecommerce_analytics_spark.streaming.windows import streaming_events

    replay_dir = os.path.join(run_dir, "replay")
    write_replay(os.path.join(sf_dir, "events.parquet"), replay_dir,
                 batch_rows)
    stream = streaming_events(spark, replay_dir, max_files_per_trigger=1)
    q = (topology(stream).writeStream.format("parquet")
         .outputMode("append")
         .option("path", os.path.join(run_dir, "out"))
         .option("checkpointLocation", os.path.join(run_dir, "ck"))
         .trigger(availableNow=True)
         .start())
    run_to_end([q], timeout_s=1800.0)
    return _progress_records(q)


def run_ltv_volume(spark, sf_dir: str, batch_rows: int = 50_000) -> dict:
    """streaming_ltv over the full events table in bounded batches;
    parity: last emission per user == final_ltv_per_user batch agg."""
    from ecommerce_analytics_spark.sources.simulator import (
        SENTINEL_EVENT_TYPE)
    from ecommerce_analytics_spark.streaming.ltv_state import streaming_ltv

    run_dir = tempfile.mkdtemp(prefix="ltv_volume_")
    # NoTimeout keyed state needs no watermark flush: drop the sentinel
    batches = _replay_to_parquet(
        spark, sf_dir, run_dir, batch_rows,
        lambda s: streaming_ltv(s.filter(
            ~F.col("event_type").eqNullSafe(SENTINEL_EVENT_TYPE))))

    got = spark.read.parquet(os.path.join(run_dir, "out"))
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id"))
    final_stream = (got.withColumn("rn", F.row_number().over(w))
                    .filter(F.col("rn") == 1)
                    .select("user_id",
                            F.col("customer_ltv").alias("stream_ltv")))
    n_stream = (got.groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("stream_n")))
    from ecommerce_analytics_spark.plans.registry import all_queries
    batch = all_queries()["final_ltv_per_user"].spark_fn(spark, sf_dir)
    joined = (batch.join(final_stream, "user_id", "full")
              .join(n_stream, "user_id", "full"))
    bad = joined.filter(
        F.col("stream_ltv").isNull() | F.col("final_ltv").isNull()
        | (F.col("stream_n") != F.col("n_events"))
        | (F.abs(F.col("stream_ltv") - F.col("final_ltv"))
           > 1e-6 + 1e-9 * F.abs(F.col("final_ltv")))).count()
    n_users = batch.count()
    shutil.rmtree(run_dir, ignore_errors=True)
    return {
        "twin": "ltv", "input_rows": sum(b["input_rows"] for b in batches),
        "n_batches": len(batches), "n_users": n_users,
        "parity_violations": bad,
        "state_rows_final": batches[-1]["state_rows"],
        "state_bytes_final": batches[-1]["state_bytes"],
        "cost_flatness": _cost_flatness(batches),
        "batches": batches,
    }


def run_sessionize_volume(spark, sf_dir: str,
                          batch_rows: int = 50_000) -> dict:
    """Watermarked session_window agg over the full events table;
    parity: registry DuckDB oracle; bounded state: max in-flight
    state rows << total sessions emitted (watermark eviction)."""
    from ecommerce_analytics_spark.numerics import money_sum
    from ecommerce_analytics_spark.plans.registry import all_queries
    from ecommerce_analytics_spark.testing import (
        compare_frames, duckdb_oracle)

    def sessionize(stream):
        return (
            stream
            .withWatermark("ts", "1 hour")
            .groupBy("user_id",
                     F.session_window("ts", "30 minutes").alias("w"))
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count(F.lit(1)).cast("long").alias("n_events"),
                 money_sum("value").alias("total_value"))
            .select("user_id", "session_start", "session_end",
                    "n_events", "total_value"))

    run_dir = tempfile.mkdtemp(prefix="sess_volume_")
    batches = _replay_to_parquet(spark, sf_dir, run_dir, batch_rows,
                                 sessionize)

    got = spark.read.parquet(os.path.join(run_dir, "out")).toPandas()
    oracle = duckdb_oracle(
        all_queries()["stream_sessionize_e2e"].oracle, sf_dir)
    problems = compare_frames(got, oracle, "sessionize_volume")
    max_state = max(b["state_rows"] for b in batches
                    if b["state_rows"] is not None)
    shutil.rmtree(run_dir, ignore_errors=True)
    return {
        "twin": "sessionize",
        "input_rows": sum(b["input_rows"] for b in batches),
        "n_batches": len(batches),
        "sessions_emitted": len(got),
        "parity_violations": len(problems),
        "parity_problems": problems[:5],
        "max_state_rows_in_flight": max_state,
        "state_rows_final": batches[-1]["state_rows"],
        "state_bounded": bool(max_state < 0.5 * len(got)),
        "cost_flatness": _cost_flatness(batches),
        "batches": batches,
    }


def run_neardup_volume(spark, sf_dir: str, n_parts: int = 20) -> dict:
    """streaming_neardup_gate (md5 signature) over the full documents
    table as an n_parts file stream in doc_id order; parity: canonical
    == min doc_id per signature, is_first == (doc_id == canonical)."""
    from ecommerce_analytics_spark.io import load_table
    from ecommerce_analytics_spark.streaming.neardup_gate import (
        streaming_neardup_gate)

    import pyarrow as pa
    import pyarrow.parquet as papq

    run_dir = tempfile.mkdtemp(prefix="neardup_volume_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # FileStreamSource orders pending files by MODIFICATION TIME, with
    # ties in arbitrary order — a single distributed write gives every
    # part one mtime, so "arrival order" would be nondeterministic and
    # the min-doc_id batch parity ill-posed (found the hard way: two
    # first-arrival flips at sf0.1). Write the chunks sequentially with
    # strictly increasing mtimes so arrival order IS doc_id order.
    docs_pdf = docs.orderBy("doc_id").toPandas()
    n_docs = len(docs_pdf)
    per = -(-n_docs // n_parts)
    indir = os.path.join(run_dir, "in")
    os.makedirs(indir)
    base_mtime = 1_700_000_000
    for i in range(n_parts):
        chunk = docs_pdf.iloc[i * per:(i + 1) * per]
        fpath = os.path.join(indir, f"{i:05d}.parquet")
        papq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False), fpath)
        os.utime(fpath, (base_mtime + 10 * i, base_mtime + 10 * i))

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(indir))
    gated = streaming_neardup_gate(stream, F.md5("text"))
    q = (gated.writeStream.format("parquet")
         .outputMode("append")
         .option("path", os.path.join(run_dir, "out"))
         .option("checkpointLocation", os.path.join(run_dir, "ck"))
         .trigger(processingTime="0 seconds")
         .start())
    q.processAllAvailable()
    batches = _progress_records(q)
    q.stop()
    q.awaitTermination()

    got = spark.read.parquet(os.path.join(run_dir, "out"))
    batch_canon = (docs.select(F.md5("text").alias("sig"), "doc_id")
                   .groupBy("sig")
                   .agg(F.min("doc_id").alias("batch_canonical")))
    bad = (got.join(batch_canon, "sig")
           .filter((F.col("canonical_doc_id") != F.col("batch_canonical"))
                   | (F.col("is_first")
                      != (F.col("doc_id") == F.col("batch_canonical"))))
           .count())
    n_sigs = batch_canon.count()
    missing = n_docs - got.count()
    shutil.rmtree(run_dir, ignore_errors=True)
    return {
        "twin": "neardup_gate", "input_rows": n_docs,
        "n_batches": len(batches), "n_signatures": n_sigs,
        "parity_violations": bad + abs(missing),
        "state_rows_final": batches[-1]["state_rows"],
        "state_bytes_final": batches[-1]["state_bytes"],
        "cost_flatness": _cost_flatness(batches),
        "batches": batches,
    }


def ensure_scaled(sf_dir: str, base: str = "/root/testdata/sf0.1",
                  k: int = 10, tables: str | None = None) -> str:
    if not os.path.exists(os.path.join(sf_dir, "events.parquet")):
        env = dict(os.environ)
        if tables:
            env["GEN_SCALE_TABLES"] = tables
        subprocess.run([sys.executable, f"{REPO}/tools/gen_scale.py",
                        base, sf_dir, str(k)], check=True, cwd=REPO,
                       env=env)
    return sf_dir


def main() -> int:
    from ecommerce_analytics_spark.session import get_spark

    argv = sys.argv[1:]
    sf_dir = ensure_scaled(argv[0] if argv else "/tmp/scale_sf1.0")
    # gen_scale deliberately does NOT scale events in the default dirs
    # (the committed sf1.0 sweep artifacts depend on them); the keyed-
    # state twins need a genuinely 10x event stream — 1M events / 10x
    # users at the same per-user density — so they get a dedicated
    # events-scaled dir (opt-in via GEN_SCALE_TABLES). argv[1]
    # overrides it for the next decade (10M events — pre-generate with
    # gen_scale GEN_SCALE_TABLES=events k=100).
    ev_dir = argv[1] if len(argv) > 1 else ensure_scaled(
        "/tmp/scale_sf1.0_events", tables="events")
    ev_total = 0
    p = os.path.join(ev_dir, "events.parquet")
    if os.path.isdir(p):
        import pyarrow.dataset as pads
        ev_total = pads.dataset(glob.glob(os.path.join(p, "*.parquet"))) \
            .count_rows()
    # ~10 genuine micro-batches regardless of volume, so watermark
    # eviction actually runs BETWEEN batches (3 jumbo batches showed
    # state unbounded-by-construction, not an engine defect)
    ev_batch = max(20_000, ev_total // 10)
    out_path = os.environ.get("STREAMVOLUME_OUT",
                              f"{REPO}/STREAMVOLUME_r9.json")
    spark = get_spark("streaming_volume")
    spark.sparkContext.setLogLevel("ERROR")

    results = [
        run_ltv_volume(spark, ev_dir, batch_rows=ev_batch),
        run_sessionize_volume(spark, ev_dir, batch_rows=ev_batch),
        run_neardup_volume(spark, sf_dir),
    ]
    ok = all(r["parity_violations"] == 0 for r in results) and all(
        r.get("state_bounded", True) for r in results)
    doc = {"sf": sf_dir, "ok": ok, "results": results}
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
    for r in results:
        print(json.dumps({k: v for k, v in r.items() if k != "batches"}))
    print(f"ok={ok} -> {out_path}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
