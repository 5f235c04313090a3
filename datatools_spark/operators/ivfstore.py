"""Materialized IVF index — the ANN layout AT REST.

`similarity.ivf_search` declares the layout ("write the corpus
partitioned by centroid_id and the probe step becomes a partition-pruned
scan"); this module IS that layout, with the same incremental contract
as the signature stores (sigstore.py): assign each vector to its cell
once, append-only batches, searches read only probed cells.

Layout: ``{path}/gen-N/centroids`` (the k cell centroids — the model)
and ``{path}/gen-N/data`` partitioned by ``centroid_id``, where a
generation is visible to readers only once its ``_COMMIT`` marker
exists. A rebuild writes BOTH tables into a fresh generation and
commits them atomically with the marker — without this, the old
two-overwrite protocol had a torn-index crash window (data reflecting
the NEW model under the OLD centroids: searches probe with geometry
the assignments no longer match, silently losing recall; and a crash
mid-overwrite destroyed the previous index outright). Same
marker-gated pattern as every other store (``storage``).

A search resolves its probe cells driver-side (model-sized centroid
collect, like every kmeans/codebook sync in similarity.py) and scans
``data`` with a static ``centroid_id IN (...)`` predicate —
PartitionFilters prune to nprobe/k_cells of the files before any IO,
which is the whole point of IVF at 1e9 vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import storage
from .similarity import cosine_expr, ivf_assign

__all__ = ["build_ivf_index", "update_ivf_index", "ivf_index_search",
           "ivf_index_stats"]


def build_ivf_index(spark: SparkSession, df: DataFrame,
                    centroids: DataFrame, path: str,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    centroid_id_col: str = "centroid_id") -> int:
    """Assign every corpus vector to its nearest centroid and write the
    cell-partitioned index (overwrite semantics — building is a full
    [re]index; use :func:`update_ivf_index` for batches). The centroids
    table also records each cell's BUILD-TIME mean cosine residual
    (``build_residual``) — the drift baseline :func:`ivf_index_stats`
    compares against (one extra scan of the at-rest data, no re-compute
    of the assignment). Both tables land in a fresh generation made
    visible by ONE ``_COMMIT`` marker after both writes succeed —
    readers (search/stats/update) keep resolving the previous committed
    generation through any crash of this build. Superseded generations
    are retired after the commit, RETAINING the previous committed one
    (r7 ADVICE: the ingest loops resolve the root per micro-batch, so
    an immediate delete raced an in-flight reader of the just-retired
    generation into FileNotFound); the next rebuild retires it.
    Returns the number of indexed vectors."""
    gen = storage.GEN.dir(path, storage.next_number(
        storage.tree(spark, path, only=storage.GEN.marker), storage.GEN))
    assigned = ivf_assign(df, centroids, vec_col, id_col, centroid_id_col,
                          keep_vec=True) \
        .select(F.col(id_col), F.col(vec_col), F.col(centroid_id_col))
    assigned.write.mode("overwrite").partitionBy(centroid_id_col) \
        .parquet(f"{gen}/data")
    data = storage.read_parquet(spark, f"{gen}/data")
    c = F.broadcast(centroids.select(F.col(centroid_id_col),
                                     F.col(vec_col).alias("_cv")))
    baseline = (data.join(c, on=centroid_id_col)
                .withColumn("_res", F.lit(1.0)
                            - cosine_expr(F.col(vec_col), F.col("_cv")))
                .groupBy(centroid_id_col)
                .agg(F.round(F.avg("_res"), 10).alias("build_residual")))
    centroids.select(F.col(centroid_id_col), F.col(vec_col)) \
        .join(baseline, centroid_id_col, "left") \
        .write.mode("overwrite").parquet(f"{gen}/centroids")
    n = data.count()
    storage.commit(spark, gen, storage.GEN.marker)
    storage.retire(spark, path, storage.GEN)
    return n


def update_ivf_index(spark: SparkSession, batch: DataFrame, path: str,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     centroid_id_col: str = "centroid_id") -> int:
    """Append a batch's vectors NOT already indexed, assigned with the
    STORED centroids (the index's geometry never silently drifts from
    its model). Idempotent per id — same contract as the signature
    stores: the stored-id anti-join runs here, so callers hand over the
    whole batch. The assignment is localCheckpoint-materialized once,
    BEFORE the append: the count and the write do not each re-run the
    anti-join + assignment plan, and the write cannot reach back into
    the anti-join's read of the files it appends to. Returns the number
    of newly indexed vectors."""
    root = storage.live_dir(
        storage.tree(spark, path, only=storage.GEN.marker), storage.GEN)
    cents = storage.read_parquet(spark, f"{root}/centroids")
    existing = storage.read_parquet(spark, f"{root}/data").select(id_col)
    new = batch.join(existing, id_col, "left_anti")
    assigned = ivf_assign(new, cents, vec_col, id_col, centroid_id_col,
                          keep_vec=True) \
        .select(F.col(id_col), F.col(vec_col), F.col(centroid_id_col)) \
        .localCheckpoint(eager=True)
    n = assigned.count()
    if n:
        assigned.write.mode("append").partitionBy(centroid_id_col) \
            .parquet(f"{root}/data")
    return n


def ivf_index_search(spark: SparkSession, path: str, query: DataFrame,
                     k: int = 10, nprobe: int = 2,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     query_id_col: str = "query_id",
                     centroid_id_col: str = "centroid_id") -> DataFrame:
    """Top-k IVF search against the materialized index: probe cells are
    resolved from the stored centroids (model-sized driver step), the
    data scan carries a STATIC ``centroid_id IN (probed)`` predicate —
    PartitionFilters prune non-probed cells before any file IO (plan-
    asserted in tests) — and each query scores only vectors of its own
    probed cells. Identical results to `similarity.ivf_search` run over
    the same centroids (equality-tested).
    Output: ``query_id, vec_id, cosine, rank``."""
    root = storage.live_dir(
        storage.tree(spark, path, only=storage.GEN.marker), storage.GEN)
    cents = storage.read_parquet(spark, f"{root}/centroids")
    c = F.broadcast(cents.select(F.col(centroid_id_col),
                                 F.col(vec_col).alias("_cv")))
    qs = (query.select(F.col(query_id_col), F.col(vec_col).alias("_qv"))
          .crossJoin(c)
          .withColumn("_cos", cosine_expr(F.col("_qv"), F.col("_cv"))))
    wq = Window.partitionBy(query_id_col).orderBy(F.col("_cos").desc(),
                                                  F.col(centroid_id_col))
    # localCheckpoint, not persist: two consumers (the driver-side cell
    # collect and the scoring join) share one materialization without
    # leaking a cached plan per call — a streaming loop calls this every
    # micro-batch
    probes = (qs.withColumn("_rn", F.row_number().over(wq))
              .where(F.col("_rn") <= nprobe)
              .select(query_id_col, centroid_id_col, "_qv")
              .localCheckpoint(eager=True))
    probe_cells = sorted({r[0] for r in
                          probes.select(centroid_id_col).distinct()
                          .collect()})
    data = (storage.read_parquet(spark, f"{root}/data")
            .where(F.col(centroid_id_col).isin(probe_cells)))
    # gate the broadcast hint on a metadata-known small QUERY input:
    # probes carries one full query embedding per (query, probe) row,
    # so an unconditional hint turns a large query backfill into a
    # driver OOM (the sigstore/pagerank gate class). Past the gate —
    # or when the size is unknowable (streaming micro-batch frames) —
    # the checkpointed probes give AQE exact sizes to choose from.
    from .partitioning import input_bytes
    qb = input_bytes(query)
    pr = F.broadcast(probes) if (qb is not None and qb <= (64 << 20)) \
        else probes
    scored = (data.join(pr, on=centroid_id_col)
              .withColumn("cosine",
                          cosine_expr(F.col(vec_col), F.col("_qv"))))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(),
                                                 F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(query_id_col, id_col, "cosine", "rank"))


def ivf_index_stats(spark: SparkSession, path: str,
                    vec_col: str = "embedding",
                    centroid_id_col: str = "centroid_id",
                    skew_warn: float = 4.0,
                    residual_warn: float = 1.3) -> DataFrame:
    """Index-health report — the maintenance signal every production ANN
    deployment watches (FAISS's imbalance_factor, Milvus's segment
    stats): one row per cell with fill count and mean cosine residual
    (1 − cos(vector, its centroid)), plus index-level skew and drift
    verdicts broadcast onto every row:

    - ``fill_skew`` = max cell fill / (total / k) — FAISS's imbalance
      factor, with the mean over ALL k stored centroids so EMPTY cells
      (wasted lists) count against balance. Probing cost is per-cell:
      one hot cell makes every probe of it scan ``skew``× the average
      — past ``skew_warn`` the index needs re-clustering (or the hot
      cell split).
    - ``drift_ratio`` = current fill-weighted mean residual / the
      BUILD-TIME baseline (per-cell ``build_residual`` recorded by
      :func:`build_ivf_index`, weighted by each cell's CURRENT fill so
      population shift between cells doesn't fake drift; cells that
      were EMPTY at build time have no baseline to drift from and are
      excluded from BOTH sides of the ratio — growth into them is a
      fill/skew signal, not residual drift). Appends are
      assigned to STORED centroids (update_ivf_index), so distribution
      shift shows up as residuals inflating past what the model fit at
      build — past ``residual_warn`` recall at fixed nprobe decays;
      retrain centroids and rebuild. A self-relative denominator (e.g.
      the tightest current cell) is NOT robust: a singleton cell whose
      vector coincides with its centroid would make every healthy index
      scream drift (r5 self-review). Indexes built before the baseline
      column existed report ``drift_ratio`` null / ``needs_retrain`` 0.

    Cost: ONE pass over the index data (cosine vs own centroid is a
    broadcast join on the model-sized centroid table + per-row
    expression), one hash aggregate to cells (k rows), driver work on
    the k-row report only. Emit it after each ingest window; gate
    re-clustering on ``needs_recluster``/``needs_retrain``.
    Output: ``centroid_id, n_vectors, mean_residual, fill_skew,
    drift_ratio, needs_recluster, needs_retrain``."""
    root = storage.live_dir(
        storage.tree(spark, path, only=storage.GEN.marker), storage.GEN)
    cents = storage.read_parquet(spark, f"{root}/centroids")
    c = F.broadcast(cents.select(F.col(centroid_id_col),
                                 F.col(vec_col).alias("_cv")))
    data = storage.read_parquet(spark, f"{root}/data")
    res = (data.join(c, on=centroid_id_col)
           .withColumn("_res",
                       F.lit(1.0) - cosine_expr(F.col(vec_col),
                                                F.col("_cv"))))
    # k-row materialization: the index-level aggregate below AND the
    # returned per-cell frame both read it — without this the corpus
    # scan would run twice (the report's contract is ONE pass)
    cells = (res.groupBy(centroid_id_col)
             .agg(F.count("*").alias("n_vectors"),
                  F.round(F.avg("_res"), 6).alias("mean_residual"))
             .localCheckpoint(eager=True))
    k_cells = cents.count()
    have_baseline = "build_residual" in cents.columns
    aggs = [F.max("n_vectors").alias("_max_n"),
            F.sum("n_vectors").alias("_total_n"),
            (F.sum(F.col("mean_residual") * F.col("n_vectors"))
             / F.sum("n_vectors")).alias("_overall_res")]
    cj = cells
    if have_baseline:
        cj = cells.join(
            F.broadcast(cents.select(centroid_id_col, "build_residual")),
            centroid_id_col, "left")
        aggs.append(
            (F.sum(F.col("build_residual") * F.col("n_vectors"))
             / F.sum(F.when(F.col("build_residual").isNotNull(),
                            F.col("n_vectors")))).alias("_base_res"))
        # the CURRENT side of the drift ratio must weigh the SAME cell
        # population as the baseline side: a cell that was empty at
        # build time (null build_residual) has no baseline to drift
        # FROM, and counting its current residual mass only in the
        # numerator skewed the verdict — growth into build-empty cells
        # fired needs_retrain with zero actual drift (r9 self-review)
        aggs.append(
            (F.sum(F.when(F.col("build_residual").isNotNull(),
                          F.col("mean_residual") * F.col("n_vectors")))
             / F.sum(F.when(F.col("build_residual").isNotNull(),
                            F.col("n_vectors")))).alias("_cmp_res"))
    agg = cj.agg(*aggs).collect()[0]
    if agg["_total_n"] is None:      # empty index: report no cells
        return cells.select(
            centroid_id_col, "n_vectors", "mean_residual",
            F.lit(None).cast("double").alias("fill_skew"),
            F.lit(None).cast("double").alias("drift_ratio"),
            F.lit(0).alias("needs_recluster"),
            F.lit(0).alias("needs_retrain"))
    mean_fill = float(agg["_total_n"]) / max(k_cells, 1)
    fill_skew = round(float(agg["_max_n"]) / max(mean_fill, 1e-9), 6)
    drift = None
    if have_baseline and agg["_base_res"] is not None:
        base = float(agg["_base_res"])
        cur = float(agg["_cmp_res"])
        if base > 0:
            drift = round(cur / base, 6)
        else:
            # a bit-perfect build (base 0): any measurable residual now
            # IS drift; a still-perfect index is ratio 1
            drift = float("inf") if cur > 1e-9 else 1.0
    return (cells
            .withColumn("fill_skew", F.lit(fill_skew))
            .withColumn("drift_ratio",
                        F.lit(drift).cast("double"))
            .withColumn("needs_recluster",
                        F.lit(int(fill_skew > skew_warn)))
            .withColumn("needs_retrain",
                        F.lit(int(drift is not None
                                  and drift > residual_warn))))
