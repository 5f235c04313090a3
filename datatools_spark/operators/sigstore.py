"""Materialized MinHash signature store — incremental corpus dedup.

Closes SCALE.md's declared gap: at 100 TB you do not re-sign the corpus
per dedup run; signatures live as a parquet table and each ingest batch
signs ONLY its new docs. The expensive part of MinHash-LSH (shingle
explode + k hash mins over every document) becomes a one-time cost per
document instead of a per-run cost over the corpus.

Layout: parquet with columns ``(id_col, _sig array<bigint>, _pp)`` in
the live generation (below), ``_pp`` being the band-0 prefix bucket as
a plain column. Appends are idempotent per doc id:
``update_signature_store`` anti-joins the batch against stored ids
before signing.

Typical loop:
    update_signature_store(spark, new_docs, path)      # sign only new
    pairs = lsh_pairs_against_store(spark, new_docs, path)
    # → near-dup pairs of new batch vs (corpus + itself); feed to
    #   graph.connected_components / retention policy

The image twin (``update_image_signature_store`` /
``ahash_pairs_against_store``) keeps aHash signatures the same way, so
incremental IMAGE dedup never re-decodes a stored payload.

Every store is generational from its first write: the table lives in
``{path}/gen-N`` dirs made visible by a ``_COMMIT`` marker (the
``storage`` protocol). The first update writes and commits ``gen-000000``;
later updates append flat files into the live generation, and
``compact_signature_store`` rewrites it into right-sized files in the
next generation (crash leaves readers on the old one, previous
generation retained on retire). All store functions resolve the live
generation per call.

The image store's readers share one materialized projection of the
live generation, ``(id, hash, _nbits)`` plus its per-width row counts,
through the session memo (``operators.memo``), keyed on the generation
dir and its file listing. ``update_image_signature_store`` — a batch's
first touch of the store — always takes a fresh read and memoizes it;
``signed_image_ids`` and ``ahash_pairs_against_store`` reuse that read
while the listing is unchanged. Any append or compaction changes the
listing, so the next reader reads again: one store read per batch, and
no caller ever holds or invalidates a handle.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import memo, storage
from .dedup import minhash_signature

__all__ = ["update_signature_store", "lsh_pairs_against_store",
           "update_image_signature_store", "ahash_pairs_against_store",
           "compact_signature_store", "resolve_signature_root",
           "signed_image_ids"]

_NUM_HASHES = 16
_BANDS = 4
_PARTS = 16  # signature-table partition fan-out (band-0 prefix buckets)

# target rows per store data file (~128 MB of packed signature rows at
# ~32 B/row — guide §6's output-file sizing band). Appends coalesce to
# ceil(n/_ROWS_PER_FILE) files: 1 file per update at batch scale,
# growing with genuinely large backfills.
_ROWS_PER_FILE = 4_000_000


def _append_store_rows(spark: SparkSession, df: DataFrame, root: str,
                       n_rows: int, first: bool) -> None:
    """Append ``df`` (carrying a ``_pp`` column) to the live generation
    as ceil(n/_ROWS_PER_FILE) right-sized FLAT files; a first write then
    commits the generation it created. ``_pp`` stays a plain data
    column: no reader ever partition-prunes on it (every consumer scans
    the whole store projection), while partitioning by it would fan a
    corpus seed into one tiny file PER DISTINCT ``_pp`` VALUE (253
    files × ~13 KB at sf0.1), each store scan paying per-file open over
    all of them (~0.55 s at sf0.1; guide §6 small-files)."""
    nf = max(1, -(-int(n_rows) // _ROWS_PER_FILE))
    df.coalesce(nf).write.mode("append").parquet(root)
    if first:
        storage.commit(spark, root, storage.GEN.marker)


def _sig_frame(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    sig = minhash_signature(df, text_col, id_col, _NUM_HASHES)
    arr = F.array(*[F.col(f"mh_{i}") for i in range(_NUM_HASHES)])
    return df.select(id_col).join(
        sig.select(F.col(id_col), arr.alias("_sig")), id_col) \
        .withColumn("_pp", (F.element_at("_sig", 1) % _PARTS).cast("int"))


def resolve_signature_root(spark: SparkSession, path: str) -> str:
    """Directory holding the live signature table: the latest committed
    ``gen-N`` under ``path``. A store with no committed generation
    resolves to the (absent) generation its first update will write,
    so a read fails with PATH_NOT_FOUND as for a missing store. Readers
    resolve once per call, so a compaction committed mid-session is
    picked up on the next call."""
    return storage.live_dir(spark, path, storage.GEN)


def compact_signature_store(spark: SparkSession, path: str,
                            partition_col: str = "_pp") -> dict:
    """Rewrite the store into right-sized FLAT files
    (ceil(rows/_ROWS_PER_FILE)) in a fresh committed generation. Every
    ``update_*_signature_store`` call appends at least one file, so a
    long-running ingest loop (one update per micro-batch) accrues files
    without bound and every later store scan pays per-file open/schedule
    cost — the tiny-file decay every append-only parquet layout suffers;
    this is the maintenance op that bounds it (Delta/Iceberg
    ``OPTIMIZE``, re-expressed on the plain-parquet store).
    ``partition_col`` is kept for API compatibility; the compacted
    generation is flat.

    Crash-safe, never in place: the compacted table lands in the next
    ``gen-N`` dir and becomes visible only with its ``_COMMIT`` marker,
    written AFTER a read-back row-count equality check against the
    source; a crash at any point leaves readers on the old generation.
    Single writer assumed (the stores' standing contract).
    Returns ``{"rows", "files_before", "files_after", "generation"}``.
    """
    root = resolve_signature_root(spark, path)
    src = spark.read.parquet(root)

    def _count_files(p: str) -> int:
        fs, jp = storage.fs(spark, p)
        n = 0
        it = fs.listFiles(jp, True)
        while it.hasNext():
            f = it.next().getPath().getName()
            if not f.startswith(("_", ".")):
                n += 1
        return n

    files_before = _count_files(root)
    gen = storage.GEN.dir(path, storage.next_number(spark, path,
                                                    storage.GEN))
    n_src = src.count()
    nf = max(1, -(-int(n_src) // _ROWS_PER_FILE))
    src.coalesce(nf).write.mode("overwrite").parquet(gen)
    # equality gate BEFORE the commit point: a short write must never
    # become the live store
    n_new = spark.read.parquet(gen).count()
    if n_src != n_new:
        raise RuntimeError(
            f"compact_signature_store: compacted generation holds "
            f"{n_new} rows, source holds {n_src} — refusing to commit "
            f"(orphan left at {gen} for inspection)")
    storage.commit(spark, gen, storage.GEN.marker)
    storage.retire(spark, path, storage.GEN)
    return {"rows": int(n_src), "files_before": int(files_before),
            "files_after": _count_files(gen),
            "generation": gen.rsplit("/", 1)[-1]}


def update_signature_store(spark: SparkSession, batch: DataFrame,
                           path: str, text_col: str = "text",
                           id_col: str = "doc_id") -> int:
    """Sign the batch's docs NOT already in the store and append them.
    Returns the number of newly signed docs. Idempotent: re-running the
    same batch appends nothing."""
    root = resolve_signature_root(spark, path)
    # intra-batch dedup: the store's invariant is ONE signature row per
    # id, and the anti-join only screens against the STORE — a batch
    # assembled from a union carrying the same id twice would append
    # two rows that no later update can ever remove (and every pair
    # verification join would emit that id's pairs twice). One
    # batch-sized shuffle; id is assumed to identify content, so which
    # duplicate survives is immaterial.
    batch = batch.dropDuplicates([id_col])
    new, first = batch, False
    try:
        existing = spark.read.parquet(root).select(id_col)
        # id-only anti-join first (same warm-run pruning as the image
        # store): an all-seen batch returns without scanning text bytes
        # count BEFORE checkpointing — the steady-state n == 0 path paid
        # an eager checkpoint of an empty frame as an extra blocking job
        # (see the image twin for the full note)
        new_ids = (batch.select(id_col)
                   .join(existing, id_col, "left_anti"))
        if new_ids.count() == 0:
            return 0
        new_ids = new_ids.localCheckpoint(eager=True)
        new = batch.join(new_ids, id_col, "left_semi")
    except AnalysisException as exc:
        if not storage.is_path_missing(exc):   # first write ONLY
            raise
        first = True
    out = _sig_frame(new, text_col, id_col)
    n = out.count()
    if n:
        _append_store_rows(spark, out, root, n, first)
    return n


def _band_index(sig: DataFrame, id_col: str) -> DataFrame:
    rows = _NUM_HASHES // _BANDS
    keys = [F.struct(F.lit(b).alias("band"),
                     F.concat_ws("_", *[
                         F.element_at("_sig", b * rows + r + 1).cast("string")
                         for r in range(rows)]).alias("key"))
            for b in range(_BANDS)]
    return sig.select(F.col(id_col), F.col("_sig"),
                      F.explode(F.array(*keys)).alias("_b"))


def lsh_pairs_against_store(spark: SparkSession, batch: DataFrame,
                            path: str, text_col: str = "text",
                            id_col: str = "doc_id",
                            threshold: float = 0.5,
                            max_candidate_mass: int | str | None = "auto",
                            ) -> DataFrame:
    """Near-dup pairs between ``batch`` docs and the WHOLE store
    (which includes the batch after ``update_signature_store``) without
    re-signing the corpus: batch-side signatures are read back from the
    store (cheap id semi-join), band keys joined store-side, candidates
    verified on stored signatures. Output: ``a_id, b_id, jaccard_est``
    with a < b; store-side work scales with matching band buckets, not
    corpus size.

    ``max_candidate_mass`` — the pre-flight the image twin
    (:func:`ahash_pairs_against_store`) always had, now on the text
    path too: price Σ batch-bucket × store-bucket products BEFORE the
    join and raise past the budget, so a batch whose minhash band keys
    are degenerate against the store (near-constant boilerplate: one
    bucket holding most of the corpus) fail-fasts instead of exploding
    toward batch × corpus candidate rows. ``"auto"`` budgets
    64·bands·|batch| (minhash band keys are 4×32-bit concatenations —
    structural random collisions are negligible, unlike the packed-
    hamming engine's narrow keys); pass an int for an explicit budget
    or None to skip the pre-flight."""
    # ONE materialized store scan: the batch semi-join, the store band
    # index and BOTH verification sides read it (4 plan executions of
    # the many-small-files scan otherwise). Project to the columns the
    # pair path reads BEFORE checkpointing — mirroring the ahash twin —
    # so the checkpoint blocks scale with (id, signature), not with
    # whatever else the store carries (r7 ADVICE: the unprojected
    # checkpoint defeated column pruning and pinned the layout column).
    store = spark.read.parquet(resolve_signature_root(spark, path)) \
        .select(id_col, "_sig").localCheckpoint(eager=True)
    # batch-sized, but each EVALUATION scans the corpus-sized store
    # blocks for the semi-join — and the mass pre-flight's bucket
    # counts, its key set and the candidate join each held their own
    # copy of that plan (3-4 corpus passes per call). Checkpoint it
    # once; on the auto path the checkpoint is LAZY with the budget's
    # batch_n count as the materializing action (one blocking job, the
    # ahash twin's r12 shape). max_candidate_mass=None keeps the bare
    # plan: the candidate join is then its only consumer.
    bsig = store.join(batch.select(id_col), id_col, "left_semi")
    if max_candidate_mass is not None:
        bsig = bsig.localCheckpoint(eager=max_candidate_mass != "auto")
    bidx = _band_index(bsig, id_col)
    sidx = _band_index(store, id_col)
    if max_candidate_mass is not None:
        from .dedup import MASS_BUDGET_FACTOR
        gate = False
        if max_candidate_mass == "auto":
            batch_n = max(int(bsig.count()), 1)
            max_candidate_mass = MASS_BUDGET_FACTOR * _BANDS * batch_n
            gate = batch_n * _BANDS <= 1_000_000
        bc = bidx.groupBy("_b").agg(F.count("*").alias("_bn"))
        bkeys = bidx.select("_b").distinct()
        if gate:    # bounded by the auto path's measured batch size
            bkeys = F.broadcast(bkeys)
        sc = (sidx.select("_b").join(bkeys, "_b", "left_semi")
              .groupBy("_b").agg(F.count("*").alias("_sn")))
        mass = (bc.join(sc, "_b")
                .agg(F.sum(F.col("_bn") * F.col("_sn")))
                .collect()[0][0]) or 0
        if mass > max_candidate_mass:
            raise RuntimeError(
                f"lsh_pairs_against_store: candidate mass {mass} "
                f"(Σ batch×store bucket products) exceeds "
                f"max_candidate_mass={max_candidate_mass}; the store's "
                "band buckets are degenerate for this batch — raise "
                "the threshold/bands or pre-cluster before pairing")
    cand = (bidx.alias("a").join(sidx.alias("b"),
                                 F.col("a._b") == F.col("b._b"))
            .where(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
            .select(F.least(f"a.{id_col}", f"b.{id_col}").alias("a_id"),
                    F.greatest(f"a.{id_col}", f"b.{id_col}").alias("b_id"))
            .distinct())
    sa = store.select(F.col(id_col).alias("a_id"), F.col("_sig").alias("_sa"))
    sb = store.select(F.col(id_col).alias("b_id"), F.col("_sig").alias("_sb"))
    agree = F.aggregate(F.zip_with("_sa", "_sb",
                                   lambda x, y: (x == y).cast("int")),
                        F.lit(0), lambda acc, v: acc + v)
    est = agree.cast("double") / F.lit(float(_NUM_HASHES))
    return (cand.join(sa, "a_id").join(sb, "b_id")
            .withColumn("jaccard_est", est)
            .where(F.col("jaccard_est") >= threshold)
            .select("a_id", "b_id", "jaccard_est"))


# --------------------------------------------------------------------------
# Image twin: materialized aHash store for incremental IMAGE dedup.
# Same contract as the MinHash store — sign each image once, band-join
# new batches against the stored signatures, never re-hash the corpus.

_AHASH_BANDS = 8
_AHASH_MAX_HAMMING = 7  # <= bands - 1: pigeonhole-exact candidates


def _check_ahash_geometry(nbits: int) -> None:
    """Fail a bad geometry at WRITE time, before it persists: the pair
    readers band into ``_AHASH_BANDS`` keys, so every width this store
    accepts must band cleanly (wide keys must not straddle words —
    e.g. grid=24 → 576 bits → 72-bit keys would)."""
    if nbits % _AHASH_BANDS != 0:
        raise ValueError(f"nbits={nbits} not divisible by "
                         f"{_AHASH_BANDS} bands")
    if nbits > 64:
        if nbits % 64 != 0:
            raise ValueError(f"wide store needs nbits % 64 == 0, "
                             f"got {nbits}")
        w = nbits // _AHASH_BANDS
        if not (w <= 64 and 64 % w == 0) and w % 64 != 0:
            raise ValueError(
                f"band width {w} (nbits={nbits} / {_AHASH_BANDS} bands) "
                "must divide 64 or be a multiple of 64 — keys would "
                "straddle a word boundary")


def _check_store_layout(path: str, nbits: int, stats: list) -> None:
    """The store being appended to must hold ONE geometry, this one —
    appending a second width would poison every later read with no
    repair path short of re-decoding the corpus. ``stats`` are the
    projection's per-``(_nbits, tombstone)`` counts, tombstones included
    (an all-tombstone grid-A store must still refuse grid-B rows)."""
    seen = sorted({s[0] for s in stats})
    if seen and (len(seen) != 1 or seen[0] != nbits):
        raise ValueError(
            f"store at {path} holds {seen}-bit signatures; "
            f"refusing to append {nbits}-bit rows — one store, one "
            "geometry")


def _read_projection(spark: SparkSession, root: str, id_col: str):
    """``(frame, stats)`` of the image store's live generation ``root``:
    ``frame`` is the ``(id_col, ahash64|ahash_w, _nbits)`` projection,
    localCheckpointed; ``stats`` its ``(_nbits, is_tombstone, count)``
    rows. The checkpoint is lazy and the stats aggregation is its
    materializing action, so both cost ONE job (plus the parquet schema
    job). A checkpoint, not a cached plan: a store append triggers
    Spark's recache of any cached plan reading the store path, which
    would recompute the updater's anti-join against the post-write
    store. Raises PATH_NOT_FOUND for a missing store, and ValueError for
    a dir that is not a packed image signature store."""
    raw = spark.read.parquet(root)
    if "_nbits" not in raw.columns:
        raise ValueError(
            f"store at {root} has no _nbits column — it is not a packed "
            "image signature store; rebuild it from payloads once with "
            "update_image_signature_store on an empty path")
    hcol = "ahash64" if "ahash64" in raw.columns else "ahash_w"
    frame = raw.select(id_col, hcol, "_nbits").localCheckpoint(eager=False)
    stats = [(r["_nbits"], r["_tomb"], r["count"]) for r in
             frame.groupBy("_nbits", F.col(hcol).isNull().alias("_tomb"))
             .count().collect()]
    return frame, stats


def _projection(spark: SparkSession, path: str, id_col: str,
                fresh: bool = False):
    """``(root, frame, stats)`` of the live generation (see
    :func:`_read_projection`), memoized on the generation dir and its
    file listing. ``fresh`` always reads and memoizes the read — the
    updater's rule, so a batch never runs off an earlier batch's read;
    readers reuse the memoized read while the listing is unchanged."""
    root = resolve_signature_root(spark, path)
    key = ("sigstore.image", root, id_col, storage.listing(spark, root))

    def build():
        return (root, *_read_projection(spark, root, id_col))

    return memo.put(spark, key, build()) if fresh \
        else memo.get(spark, key, build)


def update_image_signature_store(spark: SparkSession, batch: DataFrame,
                                 path: str, width: int = 16, grid: int = 8,
                                 payload_col: str = "payload",
                                 id_col: str = "media_id") -> int:
    """aHash-sign the batch's images NOT already in the store and append
    them. Layout: ``(id_col, ahash64 BIGINT, _nbits, _pp)`` for
    ``grid² <= 64``, or ``(id_col, ahash_w ARRAY<BIGINT>, _nbits, _pp)``
    for wide signatures (``grid=16`` → 256-bit) — the hash is PACKED
    (pack_bits_expr / pack_bits_words_expr) so the store pays ~8 bytes
    per 64 bits instead of a char per bit and downstream joins verify
    with ``bit_count``; ``_nbits = grid²`` rides along (RLE ≈ free) so
    the pair reader derives band geometry AND layout from the DATA, not
    a constant that could drift from the writer's grid (mixed widths in
    one store raise at read). ``_pp`` is the band-0 low byte.
    Idempotent per image id; decode runs once per image ever: the
    stored-id anti-join runs here, on id columns only, so callers hand
    over the whole batch and a replayed batch returns 0 before any
    decode. Returns the number of newly signed images.

    Ids whose payload CANNOT be signed (shorter than ``width²`` bytes —
    the rows raw8_ahash drops) are recorded as TOMBSTONE rows (NULL
    hash, ``_pp = -1``) so "decode runs once per image ever" holds for
    them too: without the tombstone every later batch containing the id
    anti-joins it back as "new" and re-runs the decode forever
    (measured at sf0.1: 210 of the 500-image warm batch were sub-width,
    ~1.2 s of re-decode per warm update bought nothing). Readers that
    want SIGNED ids must filter ``ahash64/ahash_w IS NOT NULL``
    (:func:`signed_image_ids`); ``ahash_pairs_against_store`` does so
    internally.

    The update always reads the store afresh — one materialized
    projection serves the geometry audit and the seen-id anti-join —
    and memoizes that read, so the batch's following
    :func:`signed_image_ids` / :func:`ahash_pairs_against_store` calls
    reuse it when this update appended nothing (see the module
    docstring)."""
    from .multimodal import pack_bits_expr, pack_bits_words_expr, raw8_ahash
    nbits = grid * grid
    _check_ahash_geometry(nbits)
    # one-signature-per-id invariant vs intra-batch duplicate ids —
    # same guard as update_signature_store (the anti-join only screens
    # against the STORE)
    batch = batch.dropDuplicates([id_col])
    new, first = batch, False
    n_in = None          # new-id count, when the anti-join derives it
    try:
        root, existing, stats = _projection(spark, path, id_col,
                                            fresh=True)
        _check_store_layout(path, nbits, stats)
        # resolve WHICH ids are new on id columns alone, so the
        # steady-state all-seen batch never touches the payload
        # bytes: the decode plan below would otherwise scan the
        # batch's payload column just to anti-join every row away.
        # Count BEFORE checkpointing (r11): the steady-state path is
        # n == 0, where an eager checkpoint of the empty anti-join
        # was a second driver-blocking job bought for nothing; only
        # a batch that actually carries new ids pays the recompute
        # (cold/first-run only, and the anti-join reads the
        # checkpointed store projection either way).
        new_ids = (batch.select(id_col)
                   .join(existing.select(id_col), id_col, "left_anti"))
        n_in = new_ids.count()
        if n_in == 0:
            return 0
        new_ids = new_ids.localCheckpoint(eager=True)
        new = batch.join(new_ids, id_col, "left_semi")
    except AnalysisException as exc:
        if not storage.is_path_missing(exc):   # first write ONLY
            raise
        root, first = resolve_signature_root(spark, path), True
    raw = raw8_ahash(new, width=width, grid=grid, payload_col=payload_col,
                     id_col=id_col)
    if nbits <= 64:
        w = nbits // _AHASH_BANDS
        sig = (raw.select(F.col(id_col),
                          pack_bits_expr("ahash", nbits).alias("ahash64"))
               .withColumn("_nbits", F.lit(nbits))
               .withColumn("_pp", F.shiftrightunsigned("ahash64", 0)
                           .bitwiseAND(F.lit((1 << w) - 1)).cast("int")))
    else:
        # wide layout: array-of-words column; partition by the first
        # word's low byte (256 partitions — layout only, the 32-bit
        # band keys themselves are far more selective than any
        # practical partition count)
        sig = (raw.select(F.col(id_col),
                          pack_bits_words_expr("ahash", nbits)
                          .alias("ahash_w"))
               .withColumn("_nbits", F.lit(nbits))
               .withColumn("_pp", F.element_at("ahash_w", 1)
                           .bitwiseAND(F.lit(255)).cast("int")))
    # materialize ONCE before count+write: without this the raw8_ahash
    # mapInPandas decode executes twice per batch (count job + write
    # job). Same rationale as ivfstore.update_ivf_index; localCheckpoint
    # rather than persist so nothing pins the session cache registry.
    sig = sig.localCheckpoint(eager=True)
    n = sig.count()
    if n_in is None:
        # first write: there was no anti-join to count the incoming
        # ids — one id-column count (cold path only; the steady-state
        # all-seen update returned long before here)
        n_in = new.select(id_col).count()
    n_undec = n_in - n
    out = sig
    if n_undec:
        # tombstone the unsignable ids (see docstring): NULL hash in the
        # store's own layout column, geometry stamp kept uniform, parked
        # under _pp = -1. The anti-join is batch-sized against the
        # checkpointed sig frame and runs inside the write job.
        hash_name, hash_type = (("ahash64", "long") if nbits <= 64
                                else ("ahash_w", "array<bigint>"))
        undec = (new.select(id_col)
                 .join(sig.select(id_col), id_col, "left_anti")
                 .select(F.col(id_col),
                         F.lit(None).cast(hash_type).alias(hash_name),
                         F.lit(nbits).alias("_nbits"),
                         F.lit(-1).cast("int").alias("_pp")))
        out = sig.unionByName(undec)
    if n or n_undec:
        _append_store_rows(spark, out, root, n + n_undec, first)
    return n


def signed_image_ids(spark: SparkSession, path: str,
                     id_col: str = "media_id") -> DataFrame:
    """Ids holding an actual signature in the image store — excludes the
    undecodable-id tombstones ``update_image_signature_store`` records
    (NULL hash rows). Use this, not a raw store read, wherever "is this
    id signed" is the question (e.g. restricting a dedup batch to
    pairable ids); a raw read answers "was this id ever PRESENTED",
    which is what the updater's own anti-join wants. Reads the store's
    memoized projection (module docstring)."""
    _, frame, _ = _projection(spark, path, id_col)
    return frame.where(F.col(frame.columns[1]).isNotNull()).select(id_col)


def ahash_pairs_against_store(spark: SparkSession, batch: DataFrame,
                              path: str,
                              id_col: str = "media_id",
                              max_candidate_mass: int | str | None = "auto",
                              ) -> DataFrame:
    """Near-dup image pairs between ``batch`` ids and the WHOLE store
    (batch included, after ``update_image_signature_store``) without
    re-decoding any payload: batch signatures come back from the store
    by id semi-join, band keys (``shiftrightunsigned & mask`` over the
    packed BIGINT, or per-word for wide signatures) joined store-side,
    candidates verified with ``bit_count(a ^ b)``. Band geometry comes
    from the store's own ``_nbits`` column (one tiny single-column scan,
    RLE-compressed) — a writer-side grid change can never silently
    misalign the reader's band keys.
    Output: ``a_id, b_id, hamming`` with a < b, hamming ≤ 7 —
    pigeonhole-complete, and store-side cost scales with matching band
    buckets, not corpus size.

    ``max_candidate_mass``: fail-fast against a store whose band buckets
    are degenerate for this batch (near-constant signatures). The
    default ``"auto"`` budgets a linear batch term plus the structural
    batch×store random-collision expectation
    (``FACTOR·bands·B + min(SLACK·bands·B·N/2^w, CAP·bands·B)`` — see
    ``dedup.auto_mass_budget``'s rationale; the cap keeps a narrow
    store from owing each batch hash unbounded comparisons just
    because the mass is "inherent"), and prices the REAL join —
    Σ |batch bucket| × |store bucket| over matching (band, key)
    buckets, one small aggregation pass — before shuffling any
    candidate. Pass an int for an explicit budget or None to skip (e.g.
    a tight streaming loop that already pre-flighted the store)."""
    # ONE store read per batch: the geometry audit, store_n, the batch
    # semi-join, the mass pre-flight's store bucket counts and the real
    # join's store side all read the memoized projection — the one the
    # batch's update just took when it appended nothing, else a fresh
    # one whose stats job also serves the audit and the row count
    _, raw_all, stats = _projection(spark, path, id_col)
    # drop undecodable-id tombstones (NULL hash — see the updater's
    # docstring): they exist so updates never re-decode, and must be
    # invisible to pairing — the geometry audit, store_n, and both join
    # sides below therefore read the filtered frame
    raw = raw_all.where(F.col(raw_all.columns[1]).isNotNull())
    signed = [st for st in stats if not st[1]]
    nbits_seen = sorted({st[0] for st in signed})
    store_rows = sum(st[2] for st in signed)
    if not nbits_seen:
        if stats:
            # every row is a tombstone: a VALID store that has signed
            # nothing pairable yet (e.g. an all-sub-width first batch) —
            # zero pairs, not an error
            idt = dict(raw_all.dtypes)[id_col]
            return spark.createDataFrame(
                [], f"a_id {idt}, b_id {idt}, hamming long")
        raise ValueError(
            f"signature store at {path} is empty — run "
            "update_image_signature_store on the batch first (the pair "
            "reader joins batch signatures back from the store)")
    if len(nbits_seen) != 1:
        raise ValueError(
            f"signature store at {path} holds mixed hash widths "
            f"{sorted(nbits_seen)} — one store, one geometry")
    nbits = nbits_seen[0]
    w = nbits // _AHASH_BANDS
    hash_col = "ahash64" if nbits <= 64 else "ahash_w"
    store = raw.select(id_col, hash_col)
    # batch-sized: materialize once — the mass pre-flight's batch_n and
    # bucket counts AND the real join's batch side all read it, which
    # otherwise re-runs the store-scan + semi-join per consumer. On the
    # auto path the checkpoint is LAZY: the budget's batch_n count just
    # below is its materializing action, so checkpoint + count cost ONE
    # blocking job, not two (r12 — the warm twins' last fusable
    # pre-flight job). A caller-supplied int budget never counts, so
    # there the checkpoint stays eager; max_candidate_mass=None has a
    # single consumer (the pair join's batch side) and skips the
    # checkpoint entirely.
    bsig = store.join(batch.select(id_col), id_col, "left_semi")
    if max_candidate_mass is not None:
        bsig = bsig.localCheckpoint(eager=max_candidate_mass != "auto")

    if nbits <= 64:
        mask = (1 << w) - 1
        keys = [F.struct(
            F.lit(b).alias("b"),
            F.array(F.shiftrightunsigned(F.col(hash_col), b * w)
                    .bitwiseAND(F.lit(mask))).alias("k"))
            for b in range(_AHASH_BANDS)]
        ham = F.bit_count(F.col("x_hash").bitwiseXOR(F.col("y_hash"))) \
            .cast("long")
    else:
        # wide layout: keys never straddle words (w=32 for 256-bit)
        mask = (1 << w) - 1   # unused when w == 64 (no AND needed)
        keys = []
        for b in range(_AHASH_BANDS):
            wi, off = (b * w) // 64, (b * w) % 64
            k = F.shiftrightunsigned(F.element_at(hash_col, wi + 1), off)
            if w < 64:
                k = k.bitwiseAND(F.lit(mask))
            keys.append(F.struct(F.lit(b).alias("b"), F.array(k).alias("k")))
        ham = F.aggregate(
            F.zip_with("x_hash", "y_hash",
                       lambda x, y: F.bit_count(x.bitwiseXOR(y))
                       .cast("long")),
            F.lit(0).cast("long"), lambda acc, v: acc + v)

    def _idx(df):
        return df.select(
            F.col(id_col), F.col(hash_col),
            F.explode(F.array(*keys)).alias("_bk")) \
            .select(F.col(id_col), hash_col,
                    F.col("_bk.b").alias("_b"), F.col("_bk.k").alias("_k"))

    a = _idx(bsig).select(F.col(id_col).alias("x_id"),
                          F.col(hash_col).alias("x_hash"), "_b", "_k")
    b = _idx(store).select(F.col(id_col).alias("y_id"),
                           F.col(hash_col).alias("y_hash"), "_b", "_k")

    if max_candidate_mass is not None:
        batch_n = None
        if max_candidate_mass == "auto":
            # budget = linear term in the BATCH plus the structural
            # batch×store random-collision expectation (bands·B·N/2^w) ×
            # slack — without the second term a healthy store past
            # ~2^w·FACTOR distinct hashes would be refused (r5
            # self-review). store_n is a parquet metadata-cheap count;
            # batch_n a pruned semi-join count. Pass an int to skip both.
            from .dedup import (MASS_BUDGET_FACTOR, MASS_SLACK_FACTOR,
                                STRUCTURAL_CAP_PER_HASH)
            batch_n = max(int(bsig.count()), 1)
            store_n = max(int(store_rows), 1)
            # structural admission capped at CAP·bands·B, same policy
            # as dedup.auto_mass_budget: a 64-bit store past ~CAP·2^w
            # rows owes each batch hash unboundedly many comparisons —
            # refuse toward a wider geometry instead of admitting
            # store-quadratic work because it is "inherent"
            structural = min(
                (MASS_SLACK_FACTOR * _AHASH_BANDS * batch_n * store_n) >> w,
                STRUCTURAL_CAP_PER_HASH * _AHASH_BANDS * batch_n)
            max_candidate_mass = (
                MASS_BUDGET_FACTOR * _AHASH_BANDS * batch_n + structural)
        bc = a.groupBy("_b", "_k").agg(F.count("*").alias("_bn"))
        # only buckets MATCHING a batch key contribute mass (the join
        # below is on (_b,_k)), so pre-filter the store index with a
        # semi-join on the batch's keys before counting — the store-side
        # pre-flight aggregate is then proportional to matching rows,
        # not to the full store band index (r8: the full-store groupBy
        # was the incr row's largest corpus-linear term after the
        # signature scan itself). The broadcast hint is GATED on the
        # batch size when known (auto path): up to bands×batch distinct
        # keys ship to the driver and every executor, so an unbounded
        # hint turns a large backfill batch into a driver OOM where the
        # unhinted plan merely ran slower (r8 ADVICE, low); past the
        # gate — or when the caller passed an int budget and batch_n is
        # unknown — AQE picks the strategy from measured sizes.
        batch_keys = a.select("_b", "_k").distinct()
        if batch_n is not None and batch_n * _AHASH_BANDS <= 1_000_000:
            batch_keys = F.broadcast(batch_keys)
        sc = (b.join(batch_keys, ["_b", "_k"], "left_semi")
              .groupBy("_b", "_k").agg(F.count("*").alias("_sn")))
        mass = (bc.join(sc, ["_b", "_k"])
                .agg(F.sum(F.col("_bn") * F.col("_sn")))
                .collect()[0][0]) or 0
        if mass > max_candidate_mass:
            raise RuntimeError(
                f"ahash_pairs_against_store: candidate mass {mass} "
                f"(Σ batch×store bucket products) exceeds "
                f"max_candidate_mass={max_candidate_mass}; the store's "
                "band buckets are degenerate for this batch — widen the "
                "signature (grid=16) or pre-cluster before pairing")

    # verify BEFORE the dedup exchange (cheap bit_count on the join
    # output in-stage) so only true pairs reach the distinct
    return (a.join(b, on=["_b", "_k"])
            .where(F.col("x_id") != F.col("y_id"))
            .withColumn("hamming", ham)
            .where(F.col("hamming") <= _AHASH_MAX_HAMMING)
            .select(F.least("x_id", "y_id").alias("a_id"),
                    F.greatest("x_id", "y_id").alias("b_id"), "hamming")
            .distinct())
