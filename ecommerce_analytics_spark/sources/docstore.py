"""Document-store sink (reference parity: DataStorage's MongoDB
collections).

The reference lands every enriched event in MongoDB and trusts the
driver's insert acks. A lake engine wants the same "documents in, no
partial batches visible" contract on plain files, which is a COMMIT
PROTOCOL, not a database: ``write_docstore`` has Spark's native JSON
writer write each commit attempt into its own staging directory, and
only then does the driver publish that directory's part files in a
manifest. Readers resolve manifests first, so:

- a failed job or task attempt leaves at most an orphan staging
  directory that no manifest references (invisible to readers;
  ``vacuum_docstore`` removes it);
- the STREAMING path (foreachBatch) publishes one manifest per epoch,
  keyed by batch id and written atomically (tmp + rename): a replayed
  micro-batch writes a fresh staging directory and overwrites its own
  manifest instead of double-publishing — the same idempotent-sink
  recipe as streaming/incremental_admit, here at the sink-protocol
  layer.

Rows serialize as JSON lines with microsecond ISO-8601 timestamps in
the session timezone, the document shape the reference stores;
``read_docstore`` parses them back with a caller-provided schema via
Spark's native JSON reader. No Python process touches the rows.
"""

from __future__ import annotations

import json
import os

# Store layout versions (persisted in a `_format_version` file at the
# store root, written atomically by the first driver-side commit):
#   1 — legacy batch manifests with random 16-hex tags: lexicographic
#       manifest order is NOT commit order, so `as_of` version numbers
#       would resolve arbitrarily. Readable un-pinned only.
#   2 — ordered tags (zero-padded commit nanos for batch, zero-padded
#       batchId for streaming): manifest sort order IS commit order;
#       `as_of` time travel is supported.
# MIGRATION: a v1 store stays v1 forever (appends are allowed — the
# committed file SET is order-independent — but the version file pins
# the as_of refusal by VERSION, not by filename-shape sniffing, so the
# break survives later well-formed commits). To get time travel,
# re-materialize into a fresh store path.
FORMAT_VERSION = 2
_VERSION_FILE = "_format_version"


def store_format_version(path: str) -> int | None:
    """The store's persisted layout version; None for an empty/new
    store. Stores created before the version file existed are sniffed
    once (legacy random-tag manifests → 1, else 2) — the next commit
    persists that answer."""
    vf = os.path.join(path, _VERSION_FILE)
    if os.path.exists(vf):
        with open(vf) as f:
            return int(json.load(f)["format_version"])
    manifests = docstore_versions(path)
    if not manifests:
        return None
    return 1 if _has_legacy_manifests(manifests) else 2


def _ensure_version_file(path: str) -> None:
    """Stamp the store's layout version if not already stamped
    (atomic tmp+rename; idempotent — never rewrites an existing
    stamp, so a legacy store can never be 'upgraded' in place)."""
    vf = os.path.join(path, _VERSION_FILE)
    if os.path.exists(vf):
        return
    version = store_format_version(path) or FORMAT_VERSION
    tmp = vf + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"format_version": version}, f)
    os.replace(tmp, vf)


def _publish(path: str, manifest_name: str, files: list[str]) -> None:
    """Atomically publish the committed file list (tmp + rename).
    Driver-side only. Also stamps the store's `_format_version` on
    first commit (a pre-existing stamp is never rewritten)."""
    os.makedirs(path, exist_ok=True)
    _ensure_version_file(path)
    final = os.path.join(path, manifest_name)
    tmp = final + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"files": files}, f)
    os.replace(tmp, final)


def write_docstore(df, path: str, batch_id: int | None = None) -> None:
    """Commit ``df`` to the store at ``path`` as one manifest version.

    Spark's JSON writer writes this attempt's own staging directory
    (``_staging/<random attempt id>/``); a failed job raises before
    anything is published. The manifest then lists the directory's
    part files. ``batch_id`` is a streaming epoch (the foreachBatch
    argument): the manifest is keyed by it, so a replayed epoch
    overwrites its own. Without it (a batch write) the manifest tag is
    the zero-padded commit time in nanoseconds plus the attempt id's
    first 8 hex digits: lexicographic manifest order IS commit order
    (what ``as_of`` time travel pins); the suffix only breaks ties
    between genuinely concurrent commits, whose relative order is
    inherently unspecified.

    Timestamps are written with microseconds (the wire format); the
    writer's default pattern keeps only milliseconds."""
    import time
    import uuid

    from ecommerce_analytics_spark.streaming.e2e_pipeline import WIRE_TS_FMT
    attempt = uuid.uuid4().hex
    out = os.path.join(path, "_staging", attempt)
    df.write.option("timestampFormat", WIRE_TS_FMT).json(out)
    files = sorted(f"{attempt}/{f}" for f in os.listdir(out)
                   if f.startswith("part-"))
    if batch_id is None:
        manifest = f"_manifest-batch-{time.time_ns():020d}-{attempt[:8]}.json"
    else:
        manifest = f"_manifest-{batch_id:010d}.json"
    _publish(path, manifest, files)


def docstore_versions(path: str) -> list[str]:
    """The ordered manifest log. Each manifest is one committed write
    (batch job or streaming epoch); its 0-based position is the
    store's VERSION number — the snapshot a reader pins with
    ``as_of``. Lexicographic order is commit order by construction
    WITHIN a write mode (batch manifests embed a zero-padded
    nanosecond tag, streaming manifests a zero-padded batchId);
    a store written by BOTH modes has no meaningful total version
    order (streaming epochs sort before batch tags) — deployments
    keep one writer mode per store path, as every test and query
    here does.

    FORMAT BREAK: stores written before the zero-padded-nanos tag
    scheme used random 16-hex batch tags, which sort in arbitrary
    order; ``committed_files`` refuses ``as_of`` on such stores (a
    wrong-but-plausible version resolution would silently break
    snapshot isolation). Un-pinned reads remain valid — the committed
    file SET is order-independent. The refusal is keyed on the
    store's persisted ``_format_version`` (see FORMAT_VERSION above),
    with filename-shape sniffing only as the fallback for stores
    created before the version file existed."""
    if not os.path.isdir(path):
        return []
    return sorted(e for e in os.listdir(path)
                  if e.startswith("_manifest-") and e.endswith(".json"))


_BATCH_TAG_RE = None


def _has_legacy_manifests(manifests: list[str]) -> bool:
    """True if any batch manifest predates the ordered tag scheme
    (random 16-hex tag instead of ``<20-digit nanos>-<8 hex>``)."""
    global _BATCH_TAG_RE
    if _BATCH_TAG_RE is None:
        import re
        _BATCH_TAG_RE = re.compile(
            r"^_manifest-batch-\d{20}-[0-9a-f]{8}\.json$")
    return any(m.startswith("_manifest-batch-")
               and not _BATCH_TAG_RE.match(m) for m in manifests)


def committed_files(path: str, as_of: int | None = None) -> list[str]:
    """Filenames published by manifests up to version ``as_of``
    (inclusive; None = latest) — the only files a reader may see.
    Orphaned staging files (failed attempts, superseded epochs) are
    invisible by construction, and because a manifest is immutable
    once published, pinning a version is snapshot isolation: later
    commits never change what an as_of reader resolves."""
    out: list[str] = []
    seen: set[str] = set()
    manifests = docstore_versions(path)
    if as_of is not None:
        if store_format_version(path) == 1:
            raise ValueError(
                f"as_of unsupported: store at {path!r} is format "
                f"version 1 (legacy random-tag batch manifests, whose "
                f"lexicographic order is not commit order — version "
                f"numbers would resolve arbitrarily; the version file "
                f"pins this even after later well-formed commits). "
                f"Re-materialize the store (or read un-pinned: the "
                f"latest file SET is order-independent)")
        if not 0 <= as_of < len(manifests):
            raise ValueError(
                f"as_of={as_of} out of range: store at {path!r} has "
                f"versions 0..{len(manifests) - 1} — a pinned version "
                f"must exist (silently clamping would break snapshot "
                f"isolation the moment later commits land)")
        manifests = manifests[:as_of + 1]
    for entry in manifests:
        with open(os.path.join(path, entry)) as f:
            for fname in json.load(f)["files"]:
                if fname not in seen:
                    seen.add(fname)
                    out.append(fname)
    return out


def read_docstore(spark, path: str, schema: str,
                  as_of: int | None = None):
    """Committed documents as a DataFrame (native JSON reader over the
    manifest-resolved file list). ``as_of`` pins a manifest version
    for time travel; None reads the latest snapshot."""
    files = [os.path.join(path, "_staging", f)
             for f in committed_files(path, as_of=as_of)]
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(files)


def _register_query() -> None:
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql import functions as F

    from ecommerce_analytics_spark.io import load_table
    from ecommerce_analytics_spark.numerics import money_sum, money_sum_sql
    from ecommerce_analytics_spark.plans.registry import query

    @query(
        "docstore_roundtrip_rollup",
        f"""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
               {money_sum_sql('value')} AS total_value,
               CAST(sum(event_id) AS BIGINT) AS id_checksum
        FROM events GROUP BY event_type
        """,
        doc="End-to-end certification of the docstore sink + reader: "
            "events are WRITTEN through write_docstore into a "
            "per-run tmp store (manifest-commit protocol, JSON-lines "
            "documents, ISO timestamps) and read back via the "
            "manifest-resolved file list; the rollup over the "
            "roundtripped rows must hash-match the oracle computed "
            "from the parquet directly — any loss or duplication in "
            "the commit protocol, serialization, or timestamp "
            "conversion flips the hash.",
        tags=("sink", "source", "agg"),
    )
    def q_docstore_roundtrip_rollup(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
        import os
        import tempfile
        out = os.path.join(
            tempfile.mkdtemp(prefix="docstore_run_"), "store")
        events = load_table(spark, sf_dir, "events").drop("props")
        write_docstore(events, out)
        back = read_docstore(
            spark, out,
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double")
        return (back.groupBy("event_type")
                .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                     money_sum("value").alias("total_value"),
                     F.sum("event_id").cast("long").alias("id_checksum")))


_register_query()


def vacuum_docstore(path: str) -> dict[str, int]:
    """Lakehouse-style maintenance: delete the staging entries no
    manifest references — attempt directories of failed jobs or of
    epochs superseded by idempotent republication, and stray files.
    Safe under the commit protocol — readers only ever resolve
    manifest-listed files, so removing orphans cannot change any query
    result. Run it when no write is in flight: an attempt that has not
    published yet is an orphan too. Returns {"kept": n, "removed": n}
    staging entries."""
    import shutil
    staging = os.path.join(path, "_staging")
    if not os.path.isdir(staging):
        return {"kept": 0, "removed": 0}
    live = {f.split("/")[0] for f in committed_files(path)}
    kept = removed = 0
    for entry in os.listdir(staging):
        if entry in live:
            kept += 1
            continue
        orphan = os.path.join(staging, entry)
        if os.path.isdir(orphan):
            shutil.rmtree(orphan)
        else:
            os.remove(orphan)
        removed += 1
    return {"kept": kept, "removed": removed}


def _register_xml_query() -> None:
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql import functions as F

    from ecommerce_analytics_spark.io import (
        load_table, read_xml, write_xml,
    )
    from ecommerce_analytics_spark.numerics import money_sum, money_sum_sql
    from ecommerce_analytics_spark.plans.registry import query

    @query(
        "xml_roundtrip_rollup",
        f"""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
               {money_sum_sql('value')} AS total_value,
               CAST(sum(event_id) AS BIGINT) AS id_checksum,
               CAST(sum(epoch_us(ts) % 1000000007) AS BIGINT) AS ts_checksum
        FROM events GROUP BY event_type
        """,
        doc="Native Spark-4 XML source/sink certification (the 5th "
            "format after CSV/JSON/parquet/ORC): events roundtrip "
            "through XML in a per-run tmp dir — timestamps encoded as "
            "epoch-µs longs since XML has no temporal type — and the "
            "rollup over the roundtripped rows hash-matches the "
            "oracle computed from the parquet, including a modular "
            "µs-timestamp checksum (raw µs sums overflow BIGINT at "
            "sf0.1 — caught loudly by the pinned ANSI mode).",
        tags=("source", "sink", "agg"),
    )
    def q_xml_roundtrip_rollup(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
        import os
        import tempfile
        out = os.path.join(tempfile.mkdtemp(prefix="xml_run_"), "xml")
        events = (load_table(spark, sf_dir, "events")
                  .select("event_id",
                          F.unix_micros("ts").alias("ts_us"),
                          "user_id", "event_type", "value"))
        write_xml(events, out)
        back = read_xml(spark, out)
        return (back.groupBy("event_type")
                .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                     money_sum("value").alias("total_value"),
                     F.sum("event_id").cast("long").alias("id_checksum"),
                     F.sum(F.col("ts_us") % 1000000007)
                     .cast("long").alias("ts_checksum")))


_register_xml_query()
