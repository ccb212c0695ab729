"""Source/sink helpers (SURVEY.md §2.1).

Parquet is the engine's native format (columnar scan + pushdown +
pruning). CSV/JSON readers mirror the reference's ingest surfaces
(data_loader.py:41, event_simulator.py:53); Kafka wiring lives in
``ecommerce_analytics_spark.sources.kafka`` behind availability gates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ecommerce_analytics_spark.schemas import DRIVER_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def run_tmpdir(prefix: str) -> str:
    """Per-run scratch directory, removed at interpreter exit.

    Index-building queries (dedup/IVF/PQ persisted twins) need a
    UNIQUE path per invocation — a stable path would race when a
    parallel sweep and bench rebuild the same index concurrently — but
    a bare ``tempfile.mkdtemp`` leaks a full Parquet index per run
    across repeated sweeps. Registering ``shutil.rmtree`` via atexit
    keeps the path alive for the whole session (the returned DataFrame
    is lazy; the store must outlive its consumption) and reclaims the
    disk when the process ends.
    """
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, True)
    return d


def cached_index_dir(sf_dir: str, family: str, token: str,
                     builder) -> str | None:
    """Content-keyed cross-run cache for DETERMINISTIC stored indexes
    (VERDICT r6 #3's amortization argument): fixed seeds + fixed corpus
    ⇒ identical artifacts, so certification queries build once per
    corpus and later runs pay only the cold-read serve — the
    production nightly-build/online-serve split. Key = corpus file
    identity (path, size, mtime) + the caller's parameter token
    (bumped on any semantic change); the builder writes into a unique
    tmp path which is atomically renamed into place, so concurrent
    sweep/bench builds race benignly (loser's tree is discarded).
    Returns None when the corpus can't be keyed (caller falls back to
    a fresh per-run build). Suite-level freshness: the pytest equality
    tests compare the cached serve against a fresh in-memory build.

    Multi-user / multi-session hardening (ADVICE r7): the cache root is
    per-user and 0700 (``ea_cache_<uid>`` under the tempdir) so another
    user can neither pre-create a predictable dest nor read ours; an
    entry that somehow isn't owned by us is distrusted and rebuilt.
    Every hit (and every fresh rename) refreshes the entry's mtime so
    actively-served entries never age past the 7-day prune horizon, and
    the prune never touches the key currently being resolved — a
    concurrent build in the same family can no longer rmtree an entry
    another session's lazy Spark job is mid-read on."""
    import hashlib
    import shutil

    src = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(src)
    except OSError:
        return None
    key = hashlib.md5(
        f"{os.path.realpath(src)}:{st.st_size}:{st.st_mtime_ns}:{token}"
        .encode()).hexdigest()
    fam_dir = os.path.join(_user_cache_root(), family)
    dest = os.path.join(fam_dir, key)
    if os.path.isdir(dest) and not _owned_by_me(dest):
        shutil.rmtree(dest, ignore_errors=True)
    if not os.path.isdir(dest):
        _prune_stale_cache_entries(fam_dir, keep=key)
        # unique per pid AND thread: concurrent builders inside one
        # process (a FAIR-pool session serving the same corpus twice)
        # share the pid, and a pid-only suffix made both write the
        # same tmp tree (found by test_concurrent_index_cache_build_race)
        import threading
        tmp = dest + f".tmp{os.getpid()}_{threading.get_ident()}"
        builder(tmp)
        try:
            os.rename(tmp, dest)
        except OSError:
            # only a CONCURRENT builder's completed rename excuses the
            # failure — anything else (permissions, cross-device) must
            # surface here, not as a confusing read failure later
            if not os.path.isdir(dest):
                raise
            shutil.rmtree(tmp, ignore_errors=True)
    try:
        os.utime(dest)
    except OSError:
        pass
    return dest


def _user_cache_root() -> str:
    """Per-user 0700 cache root under the tempdir (ADVICE r7 #2)."""
    import tempfile

    uid = os.getuid() if hasattr(os, "getuid") else 0
    root = os.path.join(tempfile.gettempdir(), f"ea_cache_{uid}")
    os.makedirs(root, mode=0o700, exist_ok=True)
    return root


def _owned_by_me(path: str) -> bool:
    if not hasattr(os, "getuid"):
        return True
    try:
        return os.stat(path).st_uid == os.getuid()
    except OSError:
        return False


_CACHE_MAX_AGE_S = 7 * 24 * 3600


def _prune_stale_cache_entries(fam_dir: str, keep: str = "") -> None:
    """Evict cache entries (and orphaned .tmp trees) older than a week
    — run_tmpdir's atexit cleanup doesn't apply to cross-run caches,
    so without this every regenerated corpus / bumped token would
    accumulate an index tree under the tempdir forever. ``keep`` is the
    key currently being resolved — never pruned, whatever its mtime
    (ADVICE r7 #1; hits also refresh mtime, so only truly-abandoned
    entries age out)."""
    import shutil
    import time

    try:
        entries = os.listdir(fam_dir)
    except OSError:
        return
    cutoff = time.time() - _CACHE_MAX_AGE_S
    for name in entries:
        if keep and (name == keep or name.startswith(keep + ".tmp")):
            continue
        p = os.path.join(fam_dir, name)
        try:
            if os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            continue


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table. Plain parquet scan — Catalyst pushes
    predicates and prunes columns from whatever the caller selects.
    The schema is inferred once per session and file set
    (``_read_parquet``), so a warm query launches no inference job.

    The driver corpus stores ``events.ts`` as TIMESTAMP(MICROS). The
    long branch below is for events files written in nanoseconds:
    plain epoch-ns longs (the stream fixture, tests/conftest.py
    ``events_stream_dir``) or TIMESTAMP(NANOS), which Spark surfaces as
    longs under nanosAsLong (set for the whole session by
    session.get_spark/tune, not a per-reader toggle). Convert them with
    exact integer division (µs truncation — matching how DuckDB's
    µs-native TIMESTAMP reads the same file).
    """
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T
        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return _maybe_fault_inject(df)


# Session confs that change what parquet schema inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
)


def _file_identity(path: str) -> tuple:
    """(name, size, mtime_ns, inode) of ``path`` or, for a dataset
    directory, of every file below it. Raises OSError when a file
    cannot be stat'ed."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns,
                 st.st_ino),)

    def walk_error(err: OSError):
        raise err

    ident = []
    for root, _, files in os.walk(path, onerror=walk_error):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            ident.append((os.path.relpath(p, path), st.st_size,
                          st.st_mtime_ns, st.st_ino))
    return tuple(sorted(ident))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the inferred schema memoized
    on the session. Inference runs a Spark job over the parquet
    footers; a later read of the same files under the same inference
    confs passes the memoized schema instead and launches none. The
    key covers the real path, every file's identity (a rewrite at the
    same path changes size, mtime or inode) and the inference confs.
    A path that cannot be stat'ed (not local, missing) is inferred on
    every read."""
    try:
        ident = _file_identity(path)
    except OSError:
        return spark.read.parquet(path)
    key = (os.path.realpath(path), ident,
           tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    memo = vars(spark).setdefault("_parquet_schema_memo", {})
    schema = memo.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        memo[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def _maybe_fault_inject(df: DataFrame) -> DataFrame:
    """Harness-only task-failure injection (off unless the
    ``SPARK_GRAFT_FAULT_INJECT`` env var is set — never in any engine
    path). A 100 TB job re-executes thousands of tasks; the retry wave
    (tools/retry_wave.py) certifies every result is replay-invariant
    by failing the FIRST attempt of every third scan task and diffing
    value hashes against the quiet run. The wrapper is a pass-through
    mapInPandas, so retried attempts see bit-identical input; it
    deliberately sits above the scan (pushdown is sacrificed — this
    mode certifies correctness, not plans) and requires a
    retry-tolerant master (session honors SPARK_GRAFT_TASK_RETRIES,
    since plain local[N] kills the job on any task failure)."""
    if not os.environ.get("SPARK_GRAFT_FAULT_INJECT"):
        return df

    def gen(it):
        from pyspark import TaskContext
        ctx = TaskContext.get()
        if (ctx is not None and ctx.attemptNumber() == 0
                and ctx.partitionId() % 3 == 0):
            raise RuntimeError(
                f"injected first-attempt fault (partition "
                f"{ctx.partitionId()})")
        yield from it

    return df.mapInPandas(gen, df.schema)


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = DRIVER_TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str,
                   names: tuple[str, ...] = DRIVER_TABLES) -> None:
    """Register each driver table as a temp view for spark.sql use."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_retail_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV scan with explicit schema + latin-1 encoding.

    Mirrors the reference loader (data_loader.py:41 — ``pd.read_csv(...,
    encoding='unicode_escape')``) as a distributed scan.
    """
    from ecommerce_analytics_spark.schemas import RETAIL_TRANSACTION
    return (
        spark.read.schema(RETAIL_TRANSACTION)
        .option("header", True)
        .option("encoding", "ISO-8859-1")
        .option("timestampFormat", "M/d/yyyy H:mm")
        .csv(path)
    )


def read_events_json(spark: SparkSession, path: str) -> DataFrame:
    """Event-array JSON scan (event_simulator.py:53-54)."""
    from ecommerce_analytics_spark.schemas import CUSTOMER_EVENT
    return (
        spark.read.schema(CUSTOMER_EVENT)
        .option("multiLine", True)
        .json(path)
    )


def write_events_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON sink (data_loader.py:214-215), distributed."""
    df.write.mode(mode).json(path)


def write_partitioned_parquet(df: DataFrame, path: str,
                              partition_cols: tuple[str, ...] = (),
                              mode: str = "overwrite",
                              sort_within: tuple[str, ...] = ()) -> None:
    """Date/event-type partitioned lake layout (README.md:45-47, C7).

    Partition columns become directory levels → dynamic partition
    pruning fires on reads that filter them. ``sort_within`` clusters
    rows inside each file so parquet min/max statistics skip row
    groups for predicates on those columns (the poor man's Z-order —
    effective for one leading dimension).
    """
    if sort_within:
        df = df.sortWithinPartitions(*sort_within)
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def write_clustered_parquet(df: DataFrame, path: str,
                            cluster_cols: tuple[str, ...],
                            n_files: int,
                            partition_cols: tuple[str, ...] = (),
                            mode: str = "overwrite") -> None:
    """Range-clustered lake layout — the data-skipping recipe
    DEPLOY_100TB §2 prescribes and tests/test_data_skipping.py
    certifies with executed-scan evidence (12.3x less IO, 33.3x fewer
    reader-materialized rows on the certification fixture).

    ``sortWithinPartitions`` alone (write_partitioned_parquet's knob)
    sorts INSIDE whatever files the upstream partitioning produced —
    each file still spans the full value range, so parquet min/max
    stats prune nothing. Range-clustering first
    (``repartitionByRange``) makes the per-file ranges DISJOINT, which
    is what lets a range predicate skip whole row groups at read time;
    the within-file sort then tightens page-level column-index stats
    on top. Compose with ``partition_cols`` for the full two-level
    layout: directory pruning at planning time, stats skipping inside
    the surviving partitions.

    ``n_files`` is the range-bucket count: size it as
    bytes / 128-256 MB like any lake file-size target (see
    compact_parquet, which applies the same clustering during
    small-file maintenance).
    """
    out = (df.repartitionByRange(n_files, *cluster_cols)
           .sortWithinPartitions(*cluster_cols))
    writer = out.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def compact_parquet(spark: SparkSession, path: str, out_path: str,
                    target_file_mb: int = 256,
                    sort_within: tuple[str, ...] = ()) -> int:
    """Lake maintenance: rewrite a small-files directory into
    ~target_file_mb files (the compaction job every streaming sink
    needs — micro-batches produce one file per trigger per partition).
    Returns the output file count."""
    import glob

    df = spark.read.parquet(path)
    total_bytes = sum(os.path.getsize(f) for f in glob.glob(
        os.path.join(path, "**", "*.parquet"), recursive=True))
    n_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
    if sort_within:
        df = df.repartitionByRange(n_files, *sort_within) \
               .sortWithinPartitions(*sort_within)
    else:
        df = df.coalesce(n_files)
    df.write.mode("overwrite").parquet(out_path)
    return len(glob.glob(os.path.join(out_path, "*.parquet")))


def write_bucketed_table(df: DataFrame, table: str,
                         bucket_cols: tuple[str, ...], n_buckets: int,
                         sort_cols: tuple[str, ...] = (),
                         path: str | None = None,
                         mode: str = "overwrite") -> None:
    """Bucketed (hash-clustered) table write — the co-located-join
    layout. Both sides of a recurring join written with the same
    bucket count/columns join WITHOUT any shuffle: each task zips
    bucket i ⋈ bucket i (and with ``sort_cols`` = join keys, without
    a sort either — the files are pre-sorted for the merge join).
    At 100 TB this converts the nightly lineitem⋈orders shuffle —
    the single largest exchange in the warehouse — into a map-side
    merge, paid once at write time. ``path`` makes it an external
    table (data at path, metadata in the session catalog).
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


_BUCKET_ROWS_CACHE: dict = {}


def bucket_count(rows: int) -> int:
    """Ratio contract for lake bucket sizing (round 9): ~100k rows per
    bucket, floor 32 (identity at every committed SF — 600k rows at
    sf0.1 ⇒ 32, the r8 layout), next power of two above. A bucketed
    scan cannot be re-split by AQE, so a constant bucket count pins
    fused downstream stages to straggler-bound tasks as the fact
    grows; measured at sf1.0 (6M rows, quiet min-of-3): 32 ⇒ 5.56s
    (slower than the un-bucketed 5.49s plan), 64 ⇒ 4.66s, 128 ⇒ 5.90s
    (over-fragmented). Contract pinned in tests/test_plans.py."""
    import math

    return max(32, 1 << max(0, math.ceil(math.log2(
        max(rows, 1) / 100_000))))


def bucketed_lineitem(spark: SparkSession, sf_dir: str,
                      n_buckets: int | None = None) -> DataFrame:
    """Session-cached bucketed lineitem lake table (VERDICT r7 #4):
    lineitem written ``bucketBy(n_buckets, l_orderkey)`` +
    ``sortBy(l_orderkey)`` once per (corpus, session), served from the
    catalog afterwards. Any consumer that joins or groups on
    l_orderkey then reads pre-clustered buckets and skips the fact
    shuffle — the C7 lake answer for the warehouse's biggest exchange,
    paid once at write time (the nightly-build / online-serve split at
    100 TB; joins.py's A/B measured ~20% off product_recommendations).

    The table name is keyed on the corpus path, so different SF dirs
    coexist in one session; data lands in a per-write unique tmp path
    (run_tmpdir) so concurrent sessions never contend on a shared
    warehouse location, and the catalog entry is session-local
    (in-memory catalog) exactly like a production session registering
    an existing lake table."""
    import hashlib

    if n_buckets is None:
        # bucket_count ratio contract; the row count is memoized per
        # (corpus path, lineitem mtime) — it's a parquet metadata read,
        # but at min-of-7 bench cadence even ~0.2s per call shows up as
        # a fake serve-side regression. The mtime in the key invalidates
        # the memo if a corpus dir (e.g. a /tmp scale dir) is
        # regenerated at a different scale within one process, which
        # would otherwise mis-size the layout silently (ADVICE r9).
        rp = os.path.realpath(sf_dir)
        li = os.path.join(rp, "lineitem.parquet")
        try:
            mt = os.stat(li).st_mtime_ns
        except OSError:
            mt = 0
        ck = (rp, mt)
        rows = _BUCKET_ROWS_CACHE.get(ck)
        if rows is None:
            rows = load_table(spark, sf_dir, "lineitem").count()
            _BUCKET_ROWS_CACHE[ck] = rows
        n_buckets = bucket_count(rows)

    key = hashlib.md5(
        f"{os.path.realpath(sf_dir)}:{n_buckets}".encode()).hexdigest()[:10]
    table = f"lineitem_bkt_{key}"
    if not spark.catalog.tableExists(table):
        write_bucketed_table(
            load_table(spark, sf_dir, "lineitem"), table,
            ("l_orderkey",), n_buckets, sort_cols=("l_orderkey",),
            path=run_tmpdir(f"bkt_{table}_"))
    return spark.table(table)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same pushdown/pruning surface as parquet (S1-S3
    analog for the second columnar format a lake commonly holds)."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite",
              partition_cols: tuple[str, ...] = ()) -> None:
    """ORC sink with optional directory partitioning."""
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.orc(path)


def read_evolving_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Scan a directory of parquet batches whose schemas evolved
    (columns added over time): ``mergeSchema`` unions the file
    schemas, and readers see NULL for columns a file predates — the
    additive-evolution contract an append-only 100 TB lake relies on.
    (Footer merging costs one pass over file metadata; production
    tables amortize it with a catalog-stored schema.)"""
    return spark.read.option("mergeSchema", "true").parquet(path)


def write_xml(df: DataFrame, path: str, row_tag: str = "row") -> None:
    """Native Spark-4 XML sink (S-family: the 5th format next to
    CSV/JSON/parquet/ORC). XML has no timestamp type — callers encode
    temporal columns explicitly (epoch-µs longs) for exactness."""
    (df.write.format("xml").option("rootTag", "rows")
     .option("rowTag", row_tag).mode("overwrite").save(path))


def read_xml(spark: SparkSession, path: str,
             row_tag: str = "row") -> DataFrame:
    return spark.read.format("xml").option("rowTag", row_tag).load(path)
