"""Structured Streaming analogues of the batch operators (SURVEY §2.10).

The reference is batch-only; these demonstrate that the engine's
event-time aggregations are streaming-compatible — the SAME logical
aggregation (tumbling window + keys) runs under ``readStream`` with a
watermark bounding state. Tested by feeding the events table through a
file-stream source and checking the result equals the batch plan
(tests/test_streaming.py).

At scale: watermark delay bounds the state store; the tumbling agg is the
canonical low-state shape. The diurnal-extrema pipeline's min/max-by-day
also fits this shape (min/max + struct argmin are streamable aggregates);
the 18-h follow-up window join is a stream-stream interval join with both
sides watermarked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

__all__ = ["streaming_window_counts", "streaming_daily_extrema",
           "streaming_sessionize", "streaming_ingest_dedup",
           "streaming_interval_join", "streaming_upsert",
           "streaming_image_ingest_dedup", "streaming_embedding_ingest",
           "streaming_image_ingest_components",
           "streaming_text_ingest_components",
           "streaming_embedding_ingest_components",
           "streaming_merge_store_apply", "streaming_kmv_ingest",
           "streaming_value_sample_ingest", "streaming_cms_ingest",
           "streaming_distinct_users", "run_file_stream"]


def _run_batches(stream: DataFrame, fn, checkpoint_dir: str,
                 mode: str = "append"):
    """Start ``stream`` through ``fn(batch_df, batch_id)`` with the
    loops' shared sink: foreachBatch, a checkpoint at ``checkpoint_dir``
    and the availableNow trigger. Returns the started query."""
    return (stream.writeStream
            .outputMode(mode)
            .foreachBatch(fn)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def streaming_window_counts(events: DataFrame, window: str = "1 hour",
                            watermark: str = "2 hours") -> DataFrame:
    """Tumbling event-time counts/sums per event_type with late-data drop
    — the streaming twin of queries.ss_window_counts."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n", "sum_value"))


def streaming_daily_extrema(events: DataFrame,
                            watermark: str = "26 hours") -> DataFrame:
    """Streaming per-day extrema with arg-times: tie-pinned struct min/max
    are incrementally maintainable aggregates (same trick as the batch
    operator — extrema.daily_extrema)."""
    smin = F.min(F.struct(F.col("value").alias("v"), F.col("ts").alias("t")))
    smax = F.min(F.struct((-F.col("value")).alias("nv"), F.col("ts").alias("t")))
    return (events
            .withWatermark("ts", watermark)
            .where(F.col("value").isNotNull())
            .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(smin["v"].alias("min_val"), smin["t"].alias("min_time"),
                 (-smax["nv"]).alias("max_val"), smax["t"].alias("max_time"))
            .select(F.col("w.start").alias("day"), "event_type",
                    "min_val", "min_time", "max_val", "max_time"))


def streaming_sessionize(events: DataFrame, gap: str = "30 minutes",
                         watermark: str = "2 hours",
                         key: str = "user_id") -> DataFrame:
    """Gap-based sessionization via ``session_window`` — the streaming
    twin of queries.ts_sessionize (same 30-min inactivity gap). State per
    open session only; the watermark closes and emits sessions once
    event-time passes ``session_end + watermark``."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap).alias("w"), key)
            .agg(F.count("*").alias("n_events"),
                 F.sum("value").alias("session_value"))
            .select(F.col(key),
                    F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_events", "session_value"))


def streaming_ingest_dedup(events: DataFrame, keys=("event_id",),
                           watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup with BOUNDED state — the ingest gate of a
    streaming crawl/curation pipeline (the streaming twin of
    ``operators.dedup.exact_dedup``; emits each key's first arrival).

    ``dropDuplicatesWithinWatermark`` holds a key's fingerprint only
    until event time passes the watermark, so state is
    (arrival rate × watermark delay), independent of corpus size; a
    plain ``dropDuplicates`` on a stream grows state forever."""
    return (events.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(list(keys)))


def streaming_interval_join(left: DataFrame, right: DataFrame,
                            key: str = "user_id",
                            within: str = "10 minutes",
                            watermark: str = "1 hour") -> DataFrame:
    """Stream-stream INNER join on ``key`` with the time bound
    ``l.ts ≤ r.ts ≤ l.ts + within`` — the streaming twin of the batch
    interval-lookup join (operators/intervals.py:interval_lookup_join)
    and the follow-up-window shape of the diurnal extrema (A4).

    Both sides carry the watermark and the join condition bounds event
    time in BOTH directions, which is what lets Spark expire state: a
    buffered left row dies once the watermark passes ``l.ts + within``,
    a right row once it passes ``r.ts`` — state is
    (arrival rate × (watermark + within)), independent of stream
    length. Without the time bound the state store grows forever; this
    is the canonical bounded-state join at 100 TB/day rates."""
    l = left.withWatermark("ts", watermark).alias("l")
    r = right.withWatermark("ts", watermark).alias("r")
    cond = ((F.col(f"l.{key}") == F.col(f"r.{key}"))
            & (F.col("r.ts") >= F.col("l.ts"))
            & (F.col("r.ts") <= F.col("l.ts") + F.expr(f"INTERVAL {within}")))
    return (l.join(r, cond, "inner")
            .select(F.col(f"l.{key}").alias(key),
                    F.col("l.event_id").alias("left_id"),
                    F.col("l.ts").alias("left_ts"),
                    F.col("r.event_id").alias("right_id"),
                    F.col("r.ts").alias("right_ts"),
                    F.col("r.value").alias("right_value")))


def streaming_upsert(spark: SparkSession, changes: DataFrame,
                     snapshot_dir: str, checkpoint_dir: str,
                     key_cols=("user_id", "event_type"),
                     ts_col: str = "ts", tiebreak_cols=("event_id",)):
    """Continuously merge a change stream into a parquet snapshot —
    the streaming twin of ``operators.intervals.apply_changes`` (the
    Delta-style `MERGE` maintained by `foreachBatch`, expressed on
    plain parquet).

    Each micro-batch first collapses to one winner per key (batch-local
    ``apply_changes`` against an empty base), then merges against the
    current snapshot and swaps it in via stage-then-rename (two renames
    — not one atomic op, but readers never see a half-written dir; on an
    object store you'd flip a manifest pointer instead). "First batch"
    is detected by the _SUCCESS marker's absence, never by a failed read:
    a transient IO error or corrupt snapshot must FAIL the batch (the
    checkpoint retries it) rather than silently re-seed the snapshot
    from one batch's worth of rows. State lives in the snapshot files,
    not the state store, so it is unbounded-key-safe; per-batch cost is
    one key-partitioned row_number over (snapshot + batch) — the
    compaction read-modify-write every merge-on-read table pays,
    amortized by batch size. Returns the started query (availableNow
    trigger; caller awaits)."""
    import os
    import shutil

    from ..operators import storage
    from ..operators.intervals import apply_changes

    def _merge(batch_df: DataFrame, batch_id: int):
        sess = batch_df.sparkSession
        batch = apply_changes(batch_df.limit(0), batch_df, list(key_cols),
                              ts_col, list(tiebreak_cols))
        base = snapshot_dir.rstrip("/")
        parent, name = os.path.split(base)

        def _retired() -> list[str]:
            if not os.path.isdir(parent):
                return []
            pref = f"{name}._old_"
            ds = [d for d in os.listdir(parent) if d.startswith(pref)]
            return sorted(ds, key=lambda d: int(d[len(pref):]))

        if not os.path.exists(os.path.join(base, "_SUCCESS")):
            old = _retired()
            if old:
                # crash-window recovery: a previous batch renamed the
                # live snapshot aside but died before promoting its
                # staging dir. Without this, the _SUCCESS-absence probe
                # took the "first batch" branch and silently RE-SEEDED
                # the table from one batch's rows — the exact failure
                # the docstring forbids. Restore the newest retired
                # snapshot as live, then merge normally.
                os.rename(os.path.join(parent, old[-1]), base)
        if os.path.exists(os.path.join(base, "_SUCCESS")):
            snap = storage.read_parquet(sess, snapshot_dir)
            merged = apply_changes(snap, batch, list(key_cols), ts_col,
                                   list(tiebreak_cols))
        else:  # genuinely first batch: no snapshot was ever committed
            merged = batch
        # stage the new snapshot beside the live one, then swap via
        # rename — the live dir is replaced only after the write commits
        staging, retired = f"{base}._staging_{batch_id}", f"{base}._old_{batch_id}"
        merged.write.mode("overwrite").parquet(staging)
        if os.path.exists(base):
            os.rename(base, retired)
        os.rename(staging, base)
        for d in _retired():   # incl. this batch's + any stale leftovers
            shutil.rmtree(os.path.join(parent, d), ignore_errors=True)

    return _run_batches(changes, _merge, checkpoint_dir)


def streaming_image_ingest_dedup(media: DataFrame, store_dir: str,
                                 pairs_dir: str, checkpoint_dir: str,
                                 id_col: str = "media_id",
                                 payload_col: str = "payload",
                                 grid: int = 8,
                                 compact_every: int | None = None):
    """Continuous incremental IMAGE dedup — the streaming twin of
    ``mm_image_dedup``'s hash→pairs stages, built on the packed aHash
    signature store (``operators.sigstore``): each micro-batch

    1. aHash-signs ONLY its genuinely new images into the store
       (``update_image_signature_store`` — idempotent per id, so a
       checkpoint-retried batch never double-signs), then
    2. emits the new images' near-dup pairs against the WHOLE corpus
       seen so far (``ahash_pairs_against_store`` — batch signatures
       come back from the store; no payload is ever decoded twice).

    Pair emission is complete and AT-LEAST-ONCE: pairs are emitted for
    every id present in THIS batch (not just the unseen ones), so a
    checkpoint-retried batch — foreachBatch replays the same content —
    re-emits even when the store append already committed; keying
    emission to "new ids only" would silently LOSE a batch's pairs if
    the worker died between the two writes. The cost of that guarantee
    is possible duplicates (a retry, or a producer re-sending an id);
    the pair set is a set, so readers dedupe with one ``distinct()`` on
    (a_id, b_id). Per-batch cost scales with batch size × matching
    band buckets, never corpus size — the ingest-gate shape a
    100 TB/day image crawl needs.
    Returns the started query (availableNow trigger; caller awaits)."""
    from ..operators import storage
    from ..operators.sigstore import (ahash_pairs_against_store,
                                      compact_signature_store,
                                      update_image_signature_store)

    def _process(batch_df: DataFrame, batch_id: int):
        sess = batch_df.sparkSession
        # a listing check, no store scan
        had_store = storage.latest(storage.tree(
            sess, store_dir, only=storage.GEN.marker), storage.GEN) is not None
        # ONE store read per micro-batch: the updater's read serves its
        # anti-join and layout audit and, when the batch signs nothing
        # new (a retried batch finds everything stored), the pair
        # join's store side too; a batch that appended makes the pair
        # reader re-read the POST-update store (the store's own memo)
        n = update_image_signature_store(sess, batch_df, store_dir,
                                         grid=grid,
                                         payload_col=payload_col,
                                         id_col=id_col)
        # emission keyed to the BATCH's ids (replayed verbatim on
        # retry), never to the new-id set — see at-least-once note.
        # Skip only when the store STILL does not exist (empty first
        # batch): there is nothing to join.
        if had_store or n:
            (ahash_pairs_against_store(sess, batch_df.select(id_col),
                                       store_dir, id_col=id_col)
             .write.mode("append").parquet(pairs_dir))
        if compact_every and (batch_id + 1) % compact_every == 0:
            # bound tiny-file growth in-loop: the loop is the store's
            # single writer, and compaction is crash-safe (generation
            # commit marker) — a retried batch just re-compacts
            compact_signature_store(sess, store_dir)

    return _run_batches(media, _process, checkpoint_dir)


def streaming_image_ingest_components(media: DataFrame, store_dir: str,
                                      comp_dir: str, checkpoint_dir: str,
                                      id_col: str = "media_id",
                                      payload_col: str = "payload",
                                      grid: int = 8,
                                      compact_every: int | None = None):
    """The COMPLETE incremental dedup loop: each micro-batch signs its
    new images into the aHash store, band-joins the batch against the
    corpus for near-dup pairs, and folds those pairs into the
    COMPONENT store (``operators.compstore``) — so a stable canonical
    cluster id per image is maintained continuously, without ever
    re-running connected components over the corpus (per-batch cost:
    two bounded joins + driver work ∝ the batch's pairs; the
    equivalence with a full recompute is pinned by
    tests/test_compstore.py).

    Idempotence does the at-least-once heavy lifting here: a
    checkpoint-retried batch re-signs nothing
    (``update_image_signature_store`` anti-joins), re-derives the same
    pairs, and ``update_component_store`` registers no ids and appends
    no merges for already-merged adjacencies — so replay converges
    instead of duplicating state. A reader asks
    ``compstore.read_components(spark, comp_dir)`` at any time; a
    maintenance job runs ``compact_component_store`` when the merge log
    grows. Returns the started query (availableNow trigger; caller
    awaits)."""
    from ..operators import storage
    from ..operators.compstore import update_component_store
    from ..operators.sigstore import (ahash_pairs_against_store,
                                      compact_signature_store,
                                      update_image_signature_store)

    def _process(batch_df: DataFrame, batch_id: int):
        sess = batch_df.sparkSession
        if batch_df.isEmpty():
            return   # an empty trigger must not pay the store scans
        # one store read per micro-batch — see
        # streaming_image_ingest_dedup
        had_store = storage.latest(storage.tree(
            sess, store_dir, only=storage.GEN.marker), storage.GEN) is not None
        n = update_image_signature_store(sess, batch_df, store_dir,
                                         grid=grid,
                                         payload_col=payload_col,
                                         id_col=id_col)
        if had_store or n:
            pairs = ahash_pairs_against_store(
                sess, batch_df.select(id_col), store_dir, id_col=id_col)
            update_component_store(sess, batch_df.select(id_col), pairs,
                                   comp_dir, id_col=id_col)
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_signature_store(sess, store_dir)

    return _run_batches(media, _process, checkpoint_dir)


def streaming_text_ingest_components(docs: DataFrame, store_dir: str,
                                     comp_dir: str, checkpoint_dir: str,
                                     id_col: str = "doc_id",
                                     text_col: str = "text",
                                     threshold: float = 0.5,
                                     compact_every: int | None = None):
    """Text twin of :func:`streaming_image_ingest_components`: MinHash
    store instead of the aHash store, pairs at estimated Jaccard ≥
    ``threshold`` — the continuous corpus-dedup loop a crawl ingests
    through. Each micro-batch signs only its new docs
    (``update_signature_store``), band-joins the batch against the
    corpus (``lsh_pairs_against_store``), and folds the pairs into the
    component store; per-batch cost never scales with corpus size, and
    replayed batches converge by idempotence (see the image twin's
    docstring for the at-least-once analysis — identical here).
    Returns the started query (availableNow trigger; caller awaits)."""
    from ..operators.compstore import update_component_store
    from ..operators.sigstore import (compact_signature_store,
                                      lsh_pairs_against_store,
                                      update_signature_store)

    def _process(batch_df: DataFrame, batch_id: int):
        sess = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint(eager=True)
        if batch_df.isEmpty():
            return
        update_signature_store(sess, batch_df, store_dir,
                               text_col=text_col, id_col=id_col)
        pairs = lsh_pairs_against_store(sess, batch_df.select(id_col),
                                        store_dir, id_col=id_col,
                                        threshold=threshold)
        update_component_store(sess, batch_df.select(id_col), pairs,
                               comp_dir, id_col=id_col)
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_signature_store(sess, store_dir)

    return _run_batches(docs, _process, checkpoint_dir)


def streaming_embedding_ingest(vectors: DataFrame, index_path: str,
                               matches_dir: str, checkpoint_dir: str,
                               k: int = 5, nprobe: int = 2,
                               threshold: float = 0.95,
                               vec_col: str = "embedding",
                               id_col: str = "vec_id"):
    """Continuous embedding ingest against the materialized IVF index
    (operators/ivfstore.py) — the ANN twin of
    :func:`streaming_image_ingest_dedup`: each micro-batch

    1. appends its genuinely new vectors to the cell-partitioned index,
       assigned with the STORED centroids (``update_ivf_index`` —
       idempotent per id, so a checkpoint-retried batch appends
       nothing), then
    2. searches the index for each BATCH vector's top-k neighbours and
       emits the pairs at cosine ≥ ``threshold`` — the streaming
       semantic-near-dup gate over everything ingested so far,
       touching only probed cells (partition-pruned scan).

    The updater materializes its new-vector assignment BEFORE the index
    write for the same reason as the image path: a cached plan reading
    the index would be recached against the post-write files and
    silently empty the append. Emission is keyed to the BATCH's ids —
    foreachBatch replays the same content on retry, so a worker death
    between the index append and the matches write re-emits instead of
    silently losing the batch's matches (keying to "new ids only"
    would: the retry's anti-join finds everything stored and skips the
    search). AT-LEAST-ONCE: duplicates possible on retry or producer
    re-send; readers dedupe with distinct(). Per-batch cost scales
    with batch × probed cells, never index size.
    Returns the started query (availableNow trigger; caller awaits)."""
    from pyspark.errors import AnalysisException

    from ..operators import storage
    from ..operators.ivfstore import ivf_index_search, update_ivf_index

    def _process(batch_df: DataFrame, batch_id: int):
        sess = batch_df.sparkSession
        try:
            update_ivf_index(sess, batch_df, index_path,
                             vec_col=vec_col, id_col=id_col)
        except AnalysisException as exc:
            if not storage.is_path_missing(exc):
                raise
            raise ValueError(
                f"streaming_embedding_ingest: no index at {index_path} — "
                "build_ivf_index once (centroids are the model; a stream "
                "must not invent its own)") from exc
        q = batch_df.select(F.col(id_col).alias("query_id"),
                            F.col(vec_col))
        (ivf_index_search(sess, index_path, q, k=k, nprobe=nprobe,
                          vec_col=vec_col, id_col=id_col)
         .where((F.col("cosine") >= threshold)
                & (F.col("query_id") != F.col(id_col)))
         .write.mode("append").parquet(matches_dir))

    return _run_batches(vectors, _process, checkpoint_dir)


def streaming_embedding_ingest_components(vectors: DataFrame,
                                          index_path: str, comp_dir: str,
                                          checkpoint_dir: str,
                                          k: int = 5, nprobe: int = 2,
                                          threshold: float = 0.95,
                                          vec_col: str = "embedding",
                                          id_col: str = "vec_id"):
    """Embedding modality of the component-store loop — completes the
    trio (text MinHash / image aHash / embedding IVF): each micro-batch
    appends its new vectors to the IVF index, searches probed cells for
    cosine ≥ ``threshold`` semantic near-dups against everything
    ingested so far, and folds those matches into the component store —
    SemDeDup-style canonical cluster ids maintained continuously.
    Same at-least-once/idempotence analysis as the image twin; the ANN
    search is approximate (probed cells only), so cluster labels are
    exactly the components of the EMITTED match set — the recall
    contract is the index's (see ivfstore), not this loop's.
    Returns the started query (availableNow trigger; caller awaits)."""
    from pyspark.errors import AnalysisException

    from ..operators.compstore import update_component_store
    from ..operators import storage
    from ..operators.ivfstore import ivf_index_search, update_ivf_index

    def _process(batch_df: DataFrame, batch_id: int):
        sess = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint(eager=True)
        if batch_df.isEmpty():
            return
        try:
            update_ivf_index(sess, batch_df, index_path,
                             vec_col=vec_col, id_col=id_col)
        except AnalysisException as exc:
            if not storage.is_path_missing(exc):
                raise
            raise ValueError(
                f"streaming_embedding_ingest_components: no index at "
                f"{index_path} — build_ivf_index once (centroids are "
                "the model; a stream must not invent its own)") from exc
        q = batch_df.select(F.col(id_col).alias("query_id"),
                            F.col(vec_col))
        pairs = (ivf_index_search(sess, index_path, q, k=k, nprobe=nprobe,
                                  vec_col=vec_col, id_col=id_col)
                 .where((F.col("cosine") >= threshold)
                        & (F.col("query_id") != F.col(id_col)))
                 .select(F.least("query_id", id_col).alias("a_id"),
                         F.greatest("query_id", id_col).alias("b_id"))
                 .distinct())
        update_component_store(sess, batch_df.select(id_col), pairs,
                               comp_dir, id_col=id_col)

    return _run_batches(vectors, _process, checkpoint_dir)


def run_file_stream(spark: SparkSession, src_dir: str, schema,
                    transform, out_dir: str, checkpoint_dir: str):
    """Drive a parquet file-stream through ``transform`` to a parquet sink
    (complete-mode aggregations write via foreachBatch to keep the demo
    sink-agnostic). Returns the started query; caller awaits termination."""
    stream = spark.readStream.schema(schema).parquet(src_dir)
    out = transform(stream)

    def _sink(batch_df: DataFrame, batch_id: int):
        batch_df.write.mode("overwrite").parquet(out_dir)

    return _run_batches(out, _sink, checkpoint_dir, "complete")


def streaming_distinct_users(events: DataFrame, window: str = "1 hour",
                             watermark: str = "2 hours",
                             key: str = "user_id") -> DataFrame:
    """Windowed approximate distinct users on a stream:
    ``approx_count_distinct`` (HLL++) per (event_type, window) with a
    watermark so state expires. HLL registers reduce by element-wise
    max — order- and partitioning-insensitive — so the streamed result
    over any micro-batch split equals the batch aggregate over the same
    rows (asserted in tests), and per-window state is register-sized
    (KB), not user-set-sized: the cardinality op that still works when
    the window holds 10⁹ distinct keys."""
    return (events.withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.approx_count_distinct(key).alias("n_users"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_users"))


def streaming_merge_store_apply(changes: DataFrame, root: str,
                                checkpoint_dir: str, key_cols,
                                op_col: str = "op", seq_col: str = "seq",
                                tiebreak_cols=(),
                                change_feed: bool = False,
                                rollup_state_dir: str | None = None,
                                rollup_group_cols=(),
                                rollup_val_col: str | None = None,
                                retain_generations: int | None = None):
    """Continuously apply a CDC change stream to a COPY-ON-WRITE merge
    store (``operators.mergestore``) — the file-pruned upgrade of
    :func:`streaming_upsert`, whose snapshot swap rewrites the WHOLE
    table every micro-batch. Here each batch rewrites only the files
    whose key boxes its change keys can touch, so per-batch cost is
    O(touched files + batch), not O(table) — the shape a 100 TB
    continuously-merged dimension needs.

    Change rows carry the store schema plus ``op`` (``'U'`` upsert /
    ``'D'`` delete) and ``seq`` (the change-log ordering — commit LSN,
    Kafka offset; any total order per key). Each micro-batch first
    collapses to the LATEST change per key by (seq, tiebreaks) — after
    the collapse a key is either an upsert or a delete, so the two
    ``merge_into`` calls commute within the batch. An unknown op value
    FAILS the batch (checkpoint retries it) rather than guessing.

    The store must already exist (``init_merge_store``) — a missing
    store fails the batch for the same reason ``streaming_upsert``
    refuses to re-seed from one batch: silent re-initialization from a
    mid-stream batch would masquerade as the table. Replayed batches
    (worker death after a partial apply) re-merge the same collapsed
    changes; re-upserting identical rows and re-deleting absent keys
    both converge to the same state, so the loop is at-least-once with
    idempotent effect — the retry burns extra generations, which the
    compaction pass reclaims. Returns the started query (availableNow
    trigger; caller awaits). ``change_feed=True`` records every
    batch's row-level changes for ``read_change_feed`` — the stream
    then maintains DOWNSTREAM aggregates incrementally too; pass
    ``rollup_state_dir``/``rollup_group_cols``/``rollup_val_col`` (an
    ``init_feed_rollup`` state) to refresh that materialized view at
    the end of every micro-batch. The whole loop stays replay-safe: a
    replayed identical upsert emits pre/post-images that cancel
    exactly, and a replayed delete of absent keys emits nothing, so
    the rollup converges to the same state a single application
    reaches."""
    from ..operators.mergestore import merge_into, refresh_feed_rollup

    key_cols = list(key_cols)
    tiebreak_cols = list(tiebreak_cols)

    def _apply(batch_df: DataFrame, batch_id: int):
        sess = batch_df.sparkSession
        # NULL op must also fail: ~isin evaluates to NULL for a NULL op
        # (three-valued logic), so `where` silently filtered it past the
        # guard and both the 'D' and 'U' branches then dropped the row
        if batch_df.where(F.col(op_col).isNull()
                          | ~F.col(op_col).isin("U", "D")).limit(1).count():
            raise ValueError(
                f"streaming_merge_store_apply: op column {op_col!r} "
                "holds values outside {'U','D'} — refusing to guess")
        order = [F.col(seq_col).desc()] + \
            [F.col(c).desc() for c in tiebreak_cols]
        w = Window.partitionBy(*key_cols).orderBy(*order)
        latest = (batch_df.withColumn("_rn", F.row_number().over(w))
                  .where(F.col("_rn") == 1).drop("_rn")
                  .localCheckpoint(eager=True))   # one eval, two readers
        dels = latest.where(F.col(op_col) == "D").select(*key_cols)
        ups = latest.where(F.col(op_col) == "U").drop(op_col, seq_col)
        # retain_generations: run the auto-checkpoint on the LAST merge
        # of the batch only — one maintenance pass per micro-batch, so
        # a generation-per-batch loop holds metadata + dead bytes flat
        # (mergestore.checkpoint_merge_store; r9 VERDICT #5)
        has_dels = bool(dels.limit(1).count())
        has_ups = bool(ups.limit(1).count())
        if has_dels:
            merge_into(sess, root, dels, key_cols, "delete",
                       change_feed=change_feed,
                       retain_generations=None if has_ups
                       else retain_generations)
        if has_ups:
            merge_into(sess, root, ups, key_cols, "update",
                       change_feed=change_feed,
                       retain_generations=retain_generations)
        if rollup_state_dir is not None:
            if not change_feed:
                raise ValueError(
                    "streaming_merge_store_apply: maintaining a feed "
                    "rollup requires change_feed=True")
            refresh_feed_rollup(sess, root, rollup_state_dir,
                                list(rollup_group_cols), rollup_val_col)

    return _run_batches(changes, _apply, checkpoint_dir)


def streaming_kmv_ingest(items: DataFrame, store_dir: str,
                         checkpoint_dir: str, group_cols,
                         item_col: str, k: int = 64,
                         salt: str = "kmv"):
    """Continuous per-group cardinality/overlap tracking: each
    micro-batch folds into the at-rest KMV sketch store
    (``operators.sketches.update_kmv_store``) — the sketch-family
    member of the ingest-loop family (sigstore / ivfstore / compstore
    twins). Per-batch cost ∝ batch (one distinct exchange over batch
    items + a group-sized sketch merge); the store stays EXACTLY equal
    to a from-scratch sketch of everything ingested, and replays
    converge because re-ingesting identical items merges to the
    identical sketch. Returns the started query (availableNow trigger;
    caller awaits)."""
    from ..operators.sketches import update_kmv_store

    def _fold(batch_df: DataFrame, batch_id: int):
        update_kmv_store(batch_df.sparkSession, batch_df, store_dir,
                         group_cols, item_col, k=k, salt=salt)

    return _run_batches(items, _fold, checkpoint_dir)


def streaming_cms_ingest(items: DataFrame, store_dir: str,
                         checkpoint_dir: str, item_col: str,
                         depth: int = 4, width: int = 1024,
                         salt: str = "cms", app_id: str | None = None):
    """Continuous corpus-scale FREQUENCY tracking: each micro-batch
    folds into the at-rest Count-Min store
    (``operators.sketches.update_cms_store``) — the counter member of
    the sketch ingest family. Unlike the KMV/value-sample twins, a
    counter sketch cannot replay-converge by value idempotence
    (re-added counts double), so the store's watermark LEDGER is keyed
    by (writer identity, Structured Streaming's ``batch_id``) — the
    Delta txnAppId/txnVersion pattern. foreachBatch re-fires a failed
    trigger with the SAME id, and the ledger turns the replay into a
    detected no-op: exactly-once counting on top of an at-least-once
    channel. ``app_id`` defaults to the CHECKPOINT PATH, the thing that
    actually defines a batch-id sequence: a new stream with a fresh
    checkpoint restarts ids at 0, and under the r8 bare-id ledger its
    genuinely new batches silently matched old entries and were skipped
    (r8 ADVICE, medium) — scoping by checkpoint makes the new run fold
    from scratch ids correctly. Per-batch cost ∝ batch; the sketch
    stays d·w cells forever. Returns the started query (availableNow
    trigger; caller awaits)."""
    from ..operators.sketches import update_cms_store

    writer = app_id if app_id is not None else checkpoint_dir

    def _fold(batch_df: DataFrame, batch_id: int):
        update_cms_store(batch_df.sparkSession, batch_df, store_dir,
                         item_col, batch_id, depth=depth, width=width,
                         salt=salt, app_id=writer)

    return _run_batches(items, _fold, checkpoint_dir)


def streaming_value_sample_ingest(rows: DataFrame, store_dir: str,
                                  checkpoint_dir: str, group_cols,
                                  key_col: str, value_col: str,
                                  k: int = 128, salt: str = "vsmpl"):
    """Continuous per-group distribution/quantile tracking: each
    micro-batch folds into the at-rest value-sample store
    (``operators.sketches.update_value_sample_store``) — the quantile
    member of the ingest-loop family beside the KMV twin. Per-batch
    cost ∝ batch; the store stays exactly equal to a from-scratch
    sample of everything ingested, and an at-least-once replay
    converges because a re-ingested row contributes the identical
    (hash, value) struct. Quantiles read off the store at any time via
    ``sample_quantile_col`` — no corpus rescan, no global sort.
    Returns the started query (availableNow trigger; caller awaits)."""
    from ..operators.sketches import update_value_sample_store

    def _fold(batch_df: DataFrame, batch_id: int):
        update_value_sample_store(batch_df.sparkSession, batch_df,
                                  store_dir, group_cols, key_col,
                                  value_col, k=k, salt=salt)

    return _run_batches(rows, _fold, checkpoint_dir)
