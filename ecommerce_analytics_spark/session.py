"""SparkSession construction and per-query session tuning.

Local test runs use ``local[N]`` (one JVM); the configuration is chosen
so the same logical plans scale to a multi-executor cluster: AQE on
(runtime coalesce + skew-join handling), shuffle partitions sized to the
core count locally (on a real cluster this is overridden to ~2-3× total
cores or left to AQE), Arrow enabled for the few pandas-UDF surfaces.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Broadcast anything under 64 MB — the driver test dims (region, nation,
# customer, supplier, part) are all far below this at any tested SF; on a
# 100 TB cluster the dims stay broadcastable while facts shuffle.
_BROADCAST_THRESHOLD = str(64 * 1024 * 1024)


def _default_driver_mem() -> str:
    """Driver heap sized to the host: half of available RAM, capped at
    48g, floored at 2g. (Only applies to a freshly launched JVM —
    getOrCreate silently ignores it when reusing a running session.)"""
    try:
        with open("/proc/meminfo") as f:
            kb = {line.split(":")[0]: int(line.split()[1]) for line in f}
        avail_gb = kb.get("MemAvailable", kb.get("MemTotal", 0)) // (1024 * 1024)
    except (OSError, ValueError, IndexError):
        avail_gb = 8
    return f"{max(2, min(48, avail_gb // 2))}g"


def _extra_conf_pairs() -> list[tuple[str, str]]:
    """Harness hook: certification waves (AQE-skew, speculation/retry)
    drive tools/sweep.py subprocesses under perturbed planner/runtime
    confs via ``SPARK_GRAFT_EXTRA_CONF`` (semicolon-separated k=v).
    Applied LAST in both get_spark() and tune() so the perturbation
    wins over the defaults tune() re-pins per query. Engine code never
    reads this — it only shapes the session a wave certifies under."""
    pairs = []
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, _, v = kv.partition("=")
            pairs.append((k.strip(), v.strip()))
    return pairs


def _result_size_cap(driver_mem: str) -> str:
    """Result-size cap derived from the driver heap: min(heap // 2, 8g),
    floored at 1g (the Spark stock default). Keeps oversized harness
    collects failing with the intended clean error on small hosts
    instead of driving the JVM into OOM."""
    try:
        mem = driver_mem.strip().lower()
        if mem.endswith("g"):
            heap_gb = int(mem[:-1])
        elif mem.endswith("m"):
            heap_gb = int(mem[:-1]) // 1024
        else:
            heap_gb = int(mem) // (1024 ** 3)
    except ValueError:
        heap_gb = 2
    return f"{max(1, min(8, heap_gb // 2))}g"


def get_spark(app_name: str = "ecommerce_analytics_spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned local SparkSession.

    Session contract: spark.sql.legacy.parquet.nanosAsLong is part of
    the session, not a per-reader toggle — flipping the conf inside a
    reader would make OTHER tables' behavior depend on read order. The
    driver corpus stores every timestamp (``events.ts`` too) as
    TIMESTAMP(MICROS), which the conf leaves alone; it only changes how
    TIMESTAMP(NANOS) columns, which Spark otherwise rejects, are
    surfaced: as raw longs, which io.load_table converts for events
    files written in nanoseconds.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                _default_driver_mem())
    # local[N] hard-codes maxFailures=1 (any task failure kills the
    # job); the retry-invariance wave (tools/certify.py retry) needs the
    # cluster behavior — failed tasks re-attempted — which local mode
    # only offers through the local[N,F] master form.
    retries = os.environ.get("SPARK_GRAFT_TASK_RETRIES")
    master = f"local[{cpus},{int(retries)}]" if retries else f"local[{cpus}]"
    # Harness hook: a full master override. The local-cluster wave
    # (tools/certify.py localcluster) certifies the registry under
    # ``local-cluster[n,cores,mem_mb]`` — separate executor JVMs, real
    # task/closure serialization, RPC broadcast, network shuffle fetch —
    # the process boundaries local[N] never crosses. Executor JVMs do
    # NOT inherit the driver's sys.path, so the wave also sets
    # spark.executorEnv.PYTHONPATH to the repo root for the pandas-UDF
    # surfaces. Engine code never reads this.
    master = os.environ.get("SPARK_GRAFT_MASTER", master)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", _BROADCAST_THRESHOLD)
        .config("spark.sql.session.timeZone", "UTC")
        # The BIGINT money/fixed-point accumulators (numerics.py) are
        # loud-on-overflow only under ANSI; pin it so the guarantee
        # doesn't depend on cluster spark-defaults.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        # Recursive CTEs (order_chain_recursive) accumulate one row
        # per chain member per level; the stock 1M-row guard tripped
        # at sf1.0 (6M lineitems → >1M chain rows) — a data-volume
        # ceiling, not a runaway-recursion signal (the level limit,
        # which IS the cycle guard, stays at its default). Sized for
        # the certified SF range; at 100 TB set proportionally.
        .config("spark.sql.cteRecursionRowLimit", str(100_000_000))
        # The stock 1g result-size cap is mismatched with a multi-GB
        # driver heap: full-fact-table outputs collected by the sweep
        # harness (6M-row JSON projections at sf1.0) abort with an
        # opaque socket error long before the heap is at risk. Engine
        # paths never collect data (sinks are distributed writes);
        # this only governs deliberate harness collects. Cap at half
        # the chosen heap so a small-host driver aborts with the clean
        # maxResultSize error instead of OOM-killing the JVM.
        .config("spark.driver.maxResultSize", _result_size_cap(driver_mem))
        .config("spark.ui.enabled", "false")
        # No console progress bars: sweep and certify logs interleave
        # per-query JSON records with stderr, and one retry-wave log
        # held 302 `[Stage …]` lines between them.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # Generated-class cache (static conf). The stock 100 entries is
        # below one headline pass (213 distinct classes), so every
        # class was evicted before reuse and recompiled by Janino each
        # pass. 1000 holds that working set with room; a full registry
        # pass is larger and stays cold at this size.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # The cache key is the generated source. AQE numbers
        # whole-stage-codegen stages in the order query stages finish,
        # which varies run to run; with the stage id in the class name
        # the same pipeline under another numbering is a new class.
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    # Per-process warehouse isolation for the parallel test runner
    # (tools/run_tests_parallel.py): concurrent pytest workers each get
    # their own saveAsTable root so bucketed-table tests can't collide.
    if os.environ.get("SPARK_GRAFT_WAREHOUSE"):
        builder = builder.config("spark.sql.warehouse.dir",
                                 os.environ["SPARK_GRAFT_WAREHOUSE"])
    # Harness hook: certification waves (AQE-skew, speculation/retry)
    # drive tools/sweep.py subprocesses under perturbed planner/runtime
    # confs. Semicolon-separated k=v pairs, applied LAST so they win.
    # Engine code never reads this — it only shapes the session the
    # wave wants to certify under.
    for k, v in _extra_conf_pairs():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs we depend on to an externally-built session.

    The driver passes us its own SparkSession; these are all runtime-
    settable and make results deterministic (UTC timestamps) and plans
    scale-shaped (AQE, broadcast threshold) regardless of how the
    session was built.
    """
    conf = spark.conf
    conf.set("spark.sql.session.timeZone", "UTC")
    # Long-sum overflow must throw, not wrap: the integer-cents money
    # accumulators rely on ANSI arithmetic (see get_spark()).
    conf.set("spark.sql.ansi.enabled", "true")
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Driver testdata parquet stores tz-naive timestamps; read them as
    # session-UTC TIMESTAMP (not TIMESTAMP_NTZ) so time functions
    # (unix_micros, window, watermark) and the DuckDB twins see the
    # same instant regardless of the writer's tz annotation.
    conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # Size the pre-AQE shuffle partition count to the session's actual
    # parallelism — but ONLY when it still holds the stock default
    # (200): a deployment that set it deliberately keeps its value.
    # AQE coalesces post-shuffle, but the initial count still fixes
    # task-launch overhead per stage; on a laptop-sized driver session
    # 200-partition stages make multi-stage queries (star joins,
    # iterative graph rounds) pay ~25× task churn for nothing, which
    # is exactly the host-noise signature of the round-3
    # sales_by_region_year bench record.
    try:
        if conf.get("spark.sql.shuffle.partitions") == "200":
            conf.set("spark.sql.shuffle.partitions",
                     str(max(spark.sparkContext.defaultParallelism, 4)))
    except Exception:
        pass
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", _BROADCAST_THRESHOLD)
    except Exception:
        pass  # static in some deployments; broadcast() hints still apply
    # Data-volume ceiling, not a cycle guard (the level limit is) —
    # the stock 1M rows trips on recursive chains at >= sf1.0.
    conf.set("spark.sql.cteRecursionRowLimit", str(100_000_000))
    # Wave perturbations win over the defaults re-pinned above (see
    # _extra_conf_pairs); static confs on a running session just no-op.
    for k, v in _extra_conf_pairs():
        try:
            conf.set(k, v)
        except Exception:
            pass
    return spark
