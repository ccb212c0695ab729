"""Docstore sink: manifest-commit protocol (batch + stream),
orphan invisibility, idempotent epoch republication, and end-to-end
replay-stream → docstore parity."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from ecommerce_analytics_spark.io import load_table
from ecommerce_analytics_spark.sources.docstore import (
    read_docstore, write_docstore,
)
from ecommerce_analytics_spark.sources.simulator import (
    SENTINEL_EVENT_TYPE, SIM_SCHEMA,
)


def _fingerprint(df):
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("s_id"),
        F.sum(F.unix_micros("ts")).alias("s_ts"),
        F.sum(F.hash("event_type")).alias("s_et")).first()


def test_docstore_batch_roundtrip_and_orphan_invisibility(
        spark, sf_dir, tmp_path):
    out = str(tmp_path / "store")
    events = load_table(spark, sf_dir, "events").drop("props")
    write_docstore(events, out)

    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double")
    got = read_docstore(spark, out, schema)
    assert _fingerprint(got) == _fingerprint(events)

    # a stray staging file from a failed attempt must stay invisible
    orphan = os.path.join(out, "_staging", "part-99999-attempt9-x.jsonl")
    with open(orphan, "w") as f:
        f.write(json.dumps({"event_id": -1, "ts": "2030-01-01T00:00:00",
                            "user_id": -1, "event_type": "ghost",
                            "value": 0.0}) + "\n")
    again = read_docstore(spark, out, schema)
    assert _fingerprint(again) == _fingerprint(events)
    assert again.filter(F.col("event_type") == "ghost").count() == 0


def test_docstore_stream_idempotent_epochs(spark, sf_dir, tmp_path):
    """replay stream → docstore stream sink; a re-run from a FRESH
    checkpoint re-publishes the same epochs — manifests keyed by batch
    id overwrite, so committed content stays exactly one copy."""
    from ecommerce_analytics_spark.sources.simulator import write_replay
    from ecommerce_analytics_spark.streaming.e2e_pipeline import (
        run_to_end, start_docstore_query,
    )
    from ecommerce_analytics_spark.streaming.windows import (
        streaming_events,
    )
    out = str(tmp_path / "store")
    events = load_table(spark, sf_dir, "events")
    n_ref = events.count()
    schema = SIM_SCHEMA
    replay_dir = str(tmp_path / "replay")
    write_replay(os.path.join(sf_dir, "events.parquet"), replay_dir, 400)

    def run(ckpt):
        stream = (streaming_events(spark, replay_dir,
                                   max_files_per_trigger=1)
                  .filter(~F.col("event_type")
                          .eqNullSafe(SENTINEL_EVENT_TYPE)))
        run_to_end([start_docstore_query(stream, out, ckpt)], 120)

    run(str(tmp_path / "ckpt1"))
    got1 = read_docstore(spark, out, schema)
    assert got1.count() == n_ref
    assert _fingerprint(got1) == _fingerprint(events)

    # full replay with a fresh checkpoint = every epoch re-committed
    run(str(tmp_path / "ckpt2"))
    got2 = read_docstore(spark, out, schema)
    assert got2.count() == n_ref  # no duplicates published
    assert _fingerprint(got2) == _fingerprint(events)


def test_docstore_failed_job_publishes_nothing(spark, tmp_path):
    """A job that fails mid-write must leave the store unreadable-
    empty: staged files may exist, but no manifest references them."""
    import pytest

    out = str(tmp_path / "store")
    # make the TASK itself fail: divide raises under ANSI for id==0
    bad = spark.range(100).select(
        (F.lit(100) / F.col("id")).alias("boom"))
    with pytest.raises(Exception):
        write_docstore(bad, out)
    # nothing published → reader sees an empty store
    got = read_docstore(spark, out, "boom double")
    assert got.count() == 0


def test_vacuum_removes_only_orphans(spark, sf_dir, tmp_path):
    """Vacuum drops unreferenced staging entries and provably changes
    no query result (fingerprint identical before/after)."""
    from ecommerce_analytics_spark.sources.docstore import (
        vacuum_docstore,
    )

    out = str(tmp_path / "store")
    events = load_table(spark, sf_dir, "events").drop("props")
    write_docstore(events, out)
    # plant two orphans (a failed attempt, a superseded epoch file)
    for orphan in ("part-00042-tid999-stream.jsonl",
                   "part-00001-tid998-batch.jsonl"):
        with open(os.path.join(out, "_staging", orphan), "w") as f:
            f.write("{}\n")
    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double")
    before = _fingerprint(read_docstore(spark, out, schema))
    stats = vacuum_docstore(out)
    assert stats["removed"] == 2 and stats["kept"] > 0
    after = _fingerprint(read_docstore(spark, out, schema))
    assert before == after
    # idempotent: second vacuum removes nothing
    assert vacuum_docstore(out)["removed"] == 0
    # an unpublished attempt directory (a failed job's JSON output) is
    # an orphan too; the published attempt directory stays
    failed = os.path.join(out, "_staging", "0123abcd")
    os.makedirs(failed)
    with open(os.path.join(failed, "part-00000-x.json"), "w") as f:
        f.write("{}\n")
    assert vacuum_docstore(out) == {"kept": stats["kept"], "removed": 1}
    assert not os.path.exists(failed)
    assert _fingerprint(read_docstore(spark, out, schema)) == before


def test_time_travel_pins_manifest_versions(spark, sf_dir, tmp_path):
    """Two append commits → two manifest versions; as_of=0 resolves
    exactly the first commit's rows forever (snapshot isolation), the
    latest read sees both, and vacuum never disturbs a pinned
    version (manifest-listed files are live by definition)."""
    from ecommerce_analytics_spark.sources.docstore import (
        docstore_versions, vacuum_docstore)

    out = str(tmp_path / "store")
    events = load_table(spark, sf_dir, "events").drop("props")
    first = events.filter(F.col("event_id") % 2 == 0)
    second = events.filter(F.col("event_id") % 2 != 0)
    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double")

    write_docstore(first, out)
    assert len(docstore_versions(out)) == 1
    v0 = _fingerprint(read_docstore(spark, out, schema))

    write_docstore(second, out)
    assert len(docstore_versions(out)) == 2

    # pinned version unchanged by the later commit
    assert _fingerprint(read_docstore(spark, out, schema, as_of=0)) == v0
    assert v0 == _fingerprint(first)
    # latest sees both commits
    assert _fingerprint(read_docstore(spark, out, schema)) == \
        _fingerprint(events)
    # maintenance never breaks time travel
    vacuum_docstore(out)
    assert _fingerprint(read_docstore(spark, out, schema, as_of=0)) == v0
    # a pinned version must EXIST — clamping would silently re-resolve
    # once later commits land
    import pytest
    with pytest.raises(ValueError):
        read_docstore(spark, out, schema, as_of=7)


def test_as_of_refuses_legacy_random_tag_stores(spark, sf_dir, tmp_path):
    """Pre-format-break stores used random 16-hex batch tags whose
    lexicographic order is NOT commit order; as_of must refuse them
    (ADVICE r4) while un-pinned reads (order-independent file SET)
    keep working."""
    import pytest

    from ecommerce_analytics_spark.sources.docstore import (
        committed_files, read_docstore,
    )

    store = tmp_path / "legacy_store"
    staging = store / "_staging"
    staging.mkdir(parents=True)
    (staging / "part-legacy.json").write_text('{"doc_id": 1}\n')
    (store / "_manifest-batch-0123456789abcdef.json").write_text(
        json.dumps({"files": ["part-legacy.json"]}))

    with pytest.raises(ValueError, match="legacy"):
        committed_files(str(store), as_of=0)
    # un-pinned read still resolves the committed set
    got = read_docstore(spark, str(store), "doc_id long").collect()
    assert [r["doc_id"] for r in got] == [1]


def test_format_version_file_lifecycle(spark, sf_dir, tmp_path):
    """VERDICT r5 #7: the store's layout version is persisted in a
    `_format_version` file at creation, and the as_of guard is keyed
    on it — a legacy (v1) store stays refused even after later
    well-formed commits land (sniffing alone would wrongly re-enable
    time travel on the mixed store), while a fresh store is stamped
    v2 and time travel works."""
    import pytest

    from ecommerce_analytics_spark.sources.docstore import (
        FORMAT_VERSION, committed_files, docstore_versions,
        store_format_version,
    )

    events = load_table(spark, sf_dir, "events").drop("props").limit(10)
    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double")

    # --- new store: stamped v2 at first commit, as_of works
    new_store = str(tmp_path / "new_store")
    assert store_format_version(new_store) is None
    write_docstore(events, new_store)
    assert store_format_version(new_store) == FORMAT_VERSION == 2
    assert os.path.exists(os.path.join(new_store, "_format_version"))
    assert len(read_docstore(spark, new_store, schema, as_of=0)
               .collect()) == 10

    # --- legacy store: sniffed v1 while unstamped
    legacy = tmp_path / "legacy_store"
    staging = legacy / "_staging"
    staging.mkdir(parents=True)
    (staging / "part-legacy.json").write_text('{"doc_id": 1}\n')
    (legacy / "_manifest-batch-0123456789abcdef.json").write_text(
        json.dumps({"files": ["part-legacy.json"]}))
    assert store_format_version(str(legacy)) == 1

    # a later WELL-FORMED commit appends fine but stamps the store v1:
    # the break is now pinned by version, not by filename sniffing
    write_docstore(spark.createDataFrame([(1, None, 1, "x", 1.0)], schema)
                   .coalesce(1), str(legacy))
    assert store_format_version(str(legacy)) == 1   # sticky
    assert len(docstore_versions(str(legacy))) == 2
    with pytest.raises(ValueError, match="format version 1"):
        committed_files(str(legacy), as_of=1)
    # un-pinned reads keep working (order-independent file SET)
    assert len(committed_files(str(legacy))) == 2

    # the stamp itself is never rewritten by further commits
    write_docstore(spark.createDataFrame([(2, None, 2, "y", 2.0)], schema)
                   .coalesce(1), str(legacy))
    assert store_format_version(str(legacy)) == 1


# Driver-budget tiering (see pytest.ini): this file is in the heavy
# tier — excluded from the default `pytest tests/` run, executed by
# the full gate (tools/run_tests_parallel.py / `-o addopts=`).
import pytest as _pytest_mod

pytestmark = _pytest_mod.mark.heavy
