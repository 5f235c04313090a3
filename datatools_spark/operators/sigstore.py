"""Materialized signature store — incremental corpus dedup.

Closes SCALE.md's declared gap: at 100 TB you do not re-sign the corpus
per dedup run; signatures live as a parquet table and each ingest batch
signs ONLY its new ids. The expensive part of near-dup detection
(shingle explode + k hash mins per document, or a payload decode per
image) becomes a one-time cost per id instead of a per-run cost over
the corpus.

One store, two signature codecs. Both kinds share the store's read,
its updater and its banded pair path; a ``_Codec`` holds the little
that differs — how a batch is signed, the signature column, the band
keys and their width, the similarity column and its keep rule:

- text (``update_signature_store`` / ``lsh_pairs_against_store``):
  16 MinHash values as ``_sig array<bigint>``, 4 bands of 4 hashes,
  pairs at estimated Jaccard ``>= threshold``;
- image (``update_image_signature_store`` /
  ``ahash_pairs_against_store`` / ``signed_image_ids``): packed aHash
  bits as ``ahash64 BIGINT`` (or ``ahash_w array<bigint>`` past 64
  bits) with the geometry stamp ``_nbits``, 8 bands, pairs at hamming
  ``<= 7``.

Layout: ``(id_col, <signature>, [_nbits,] _pp)`` in the live generation
(below), ``_pp`` being the band-0 prefix bucket as a plain column. One
row per id ever presented: the updater anti-joins the batch's ids
against the store before signing, and an id its codec cannot sign
(a doc with no shingles, a payload shorter than the crop) is recorded
as a TOMBSTONE row (NULL signature, ``_pp = -1``) so no later batch
signs it again. Pairing skips tombstones.

Typical loop:
    update_signature_store(spark, new_docs, path)      # sign only new
    pairs = lsh_pairs_against_store(spark, new_docs, path)
    # → near-dup pairs of new batch vs (corpus + itself); feed to
    #   graph.connected_components / retention policy

Every store is generational from its first write: the table lives in
``{path}/gen-N`` dirs made visible by a ``_COMMIT`` marker (the
``storage`` protocol). The first update writes and commits ``gen-000000``;
later updates append flat files into the live generation, and
``compact_signature_store`` rewrites it into right-sized files in the
next generation (crash leaves readers on the old one, previous
generation retained on retire). All store functions resolve the live
generation per call.

Readers of either kind share one materialized projection of the live
generation, ``(id, signature[, _nbits])`` plus its per-geometry row
counts, through the session memo (``operators.memo``), keyed on the
kind, the generation dir and its file listing. Each kind's projection
refuses a generation that lacks its own signature column, so one kind
never appends into the other's store. An update — a batch's first
touch of the store — always takes a fresh read and memoizes it; the
batch's pair call (and ``signed_image_ids``) reuse that read while the
listing is unchanged. Any append or compaction changes the listing, so
the next reader reads again: one store read per batch, and no caller
ever holds or invalidates a handle.
"""

from __future__ import annotations

import operator
from typing import Callable, NamedTuple

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from . import memo, storage
from .dedup import (MASS_BUDGET_FACTOR, MASS_SLACK_FACTOR,
                    STRUCTURAL_CAP_PER_HASH, minhash_signature)

__all__ = ["update_signature_store", "lsh_pairs_against_store",
           "update_image_signature_store", "ahash_pairs_against_store",
           "compact_signature_store", "resolve_signature_root",
           "signed_image_ids"]

_NUM_HASHES = 16
_BANDS = 4
_PARTS = 16  # text _pp fan-out (band-0 prefix buckets)

_AHASH_BANDS = 8
_AHASH_MAX_HAMMING = 7  # <= bands - 1: pigeonhole-exact candidates

# target rows per store data file (~128 MB of packed signature rows at
# ~32 B/row — guide §6's output-file sizing band). Appends coalesce to
# ceil(n/_ROWS_PER_FILE) files: 1 file per update at batch scale,
# growing with genuinely large backfills.
_ROWS_PER_FILE = 4_000_000


class _Codec(NamedTuple):
    """What one signature kind owns; everything else is shared."""
    name: str            # memo key and messages
    mark: str            # column every generation of this kind carries
    hash_cols: tuple     # the signature column, one name per layout
    stamps: tuple        # layout columns stamping the geometry
    geometry: Callable[[], Column]  # a projection row's geometry
    sign: Callable       # (new, id_col, **opts) -> ((id, hash), _pp)
    bands: Callable      # (geometry, hash col) -> (keys, key bits, sim)
    sim: str             # "<name> <type>" of the similarity column
    keep: Callable       # (sim, threshold) -> the pair's keep predicate
    updater: str         # the public updater, for messages


def _minhash_sign(new: DataFrame, id_col: str, text_col: str):
    sig = minhash_signature(new, text_col, id_col, _NUM_HASHES)
    arr = F.array(*[F.col(f"mh_{i}") for i in range(_NUM_HASHES)])
    return (sig.select(F.col(id_col), arr.alias("_sig")),
            F.element_at("_sig", 1) % _PARTS)


def _minhash_bands(num_hashes: int, h: str):
    """Band b is the array of hashes [b·r, (b+1)·r) — r 32-bit minhash
    values, so 32·r-bit keys; similarity is the agreeing fraction."""
    rows = num_hashes // _BANDS
    agree = F.aggregate(F.zip_with("x_hash", "y_hash",
                                   lambda x, y: (x == y).cast("int")),
                        F.lit(0), lambda acc, v: acc + v)
    return ([F.slice(h, b * rows + 1, rows) for b in range(_BANDS)],
            32 * rows, agree.cast("double") / F.lit(float(num_hashes)))


def _ahash_sign(new: DataFrame, id_col: str, width: int, grid: int,
                payload_col: str):
    from .multimodal import pack_bits_expr, pack_bits_words_expr, raw8_ahash
    nbits = grid * grid
    raw = raw8_ahash(new, width=width, grid=grid, payload_col=payload_col,
                     id_col=id_col)
    if nbits <= 64:
        mask = (1 << (nbits // _AHASH_BANDS)) - 1
        return (raw.select(F.col(id_col), pack_bits_expr("ahash", nbits)
                           .alias("ahash64")),
                F.col("ahash64").bitwiseAND(F.lit(mask)))
    # wide layout: array-of-words column; _pp is the first word's low
    # byte (layout only — the 32-bit band keys are far more selective)
    return (raw.select(F.col(id_col), pack_bits_words_expr("ahash", nbits)
                       .alias("ahash_w")),
            F.element_at("ahash_w", 1).bitwiseAND(F.lit(255)))


def _ahash_bands(nbits: int, h: str):
    """8 bands of w = nbits/8 bits, shifted out of the packed word (keys
    never straddle words — ``_check_ahash_geometry``); similarity is
    the hamming distance, ``bit_count`` of the XOR."""
    w = nbits // _AHASH_BANDS
    mask = (1 << w) - 1   # unused when w == 64 (no AND needed)
    if nbits <= 64:
        keys = [F.shiftrightunsigned(F.col(h), b * w)
                .bitwiseAND(F.lit(mask))
                for b in range(_AHASH_BANDS)]
        ham = F.bit_count(F.col("x_hash").bitwiseXOR(F.col("y_hash"))) \
            .cast("long")
    else:
        keys = []
        for b in range(_AHASH_BANDS):
            wi, off = divmod(b * w, 64)
            k = F.shiftrightunsigned(F.element_at(h, wi + 1), off)
            keys.append(k.bitwiseAND(F.lit(mask)) if w < 64 else k)
        ham = F.aggregate(
            F.zip_with("x_hash", "y_hash",
                       lambda x, y: F.bit_count(x.bitwiseXOR(y))
                       .cast("long")),
            F.lit(0).cast("long"), lambda acc, v: acc + v)
    return [F.array(k) for k in keys], w, ham


_TEXT = _Codec(name="minhash text", mark="_sig", hash_cols=("_sig",),
               stamps=(), geometry=lambda: F.lit(_NUM_HASHES),
               sign=_minhash_sign, bands=_minhash_bands,
               sim="jaccard_est double", keep=operator.ge,
               updater="update_signature_store")
_IMAGE = _Codec(name="packed image", mark="_nbits",
                hash_cols=("ahash64", "ahash_w"), stamps=("_nbits",),
                geometry=lambda: F.col("_nbits"), sign=_ahash_sign,
                bands=_ahash_bands, sim="hamming long", keep=operator.le,
                updater="update_image_signature_store")


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


def resolve_signature_root(spark: SparkSession, path: str) -> str:
    """Directory holding the live signature table: the latest committed
    ``gen-N`` under ``path``. A store with no committed generation
    resolves to the (absent) generation its first update will write,
    so a read fails with PATH_NOT_FOUND as for a missing store. Readers
    resolve once per call, so a compaction committed mid-session is
    picked up on the next call."""
    return storage.live_dir(
        storage.tree(spark, path, only=storage.GEN.marker), storage.GEN)


def compact_signature_store(spark: SparkSession, path: str) -> dict:
    """Rewrite the store into right-sized FLAT files
    (ceil(rows/_ROWS_PER_FILE)) in a fresh committed generation. Every
    ``update_*_signature_store`` call appends at least one file, so a
    long-running ingest loop (one update per micro-batch) accrues files
    without bound and every later store scan pays per-file open/schedule
    cost — the tiny-file decay every append-only parquet layout suffers;
    this is the maintenance op that bounds it (Delta/Iceberg
    ``OPTIMIZE``, re-expressed on the plain-parquet store).

    Crash-safe, never in place: the compacted table lands in the next
    ``gen-N`` dir and becomes visible only with its ``_COMMIT`` marker,
    written AFTER a read-back row-count equality check against the
    source; a crash at any point leaves readers on the old generation.
    Single writer assumed (the stores' standing contract).
    Returns ``{"rows", "files_before", "files_after", "generation"}``.
    """
    t = storage.tree(spark, path, only=storage.GEN.marker)
    root = storage.live_dir(t, storage.GEN)
    src = storage.read_parquet(spark, root)
    files_before = len(storage.data_files(storage.tree(spark, root)))
    gen = storage.GEN.dir(path, storage.next_number(t, storage.GEN))
    n_src = src.count()
    nf = max(1, -(-int(n_src) // _ROWS_PER_FILE))
    src.coalesce(nf).write.mode("overwrite").parquet(gen)
    # equality gate BEFORE the commit point: a short write must never
    # become the live store
    n_new = storage.read_parquet(spark, gen).count()
    if n_src != n_new:
        raise RuntimeError(
            f"compact_signature_store: compacted generation holds "
            f"{n_new} rows, source holds {n_src} — refusing to commit "
            f"(orphan left at {gen} for inspection)")
    storage.commit(spark, gen, storage.GEN.marker)
    storage.retire(spark, path, storage.GEN)
    return {"rows": int(n_src), "files_before": files_before,
            "files_after": len(storage.data_files(storage.tree(spark, gen))),
            "generation": gen.rsplit("/", 1)[-1]}


def _projection(spark: SparkSession, codec: _Codec, path: str,
                id_col: str, fresh: bool = False):
    """``(root, frame, stats)`` of the live generation ``root``:
    ``frame`` is the ``(id_col, signature, *stamps)`` projection,
    localCheckpointed; ``stats`` its ``(geometry, is_tombstone, count)``
    rows. The checkpoint is lazy and the stats aggregation is its
    materializing action, so both cost ONE job (the schema comes from a
    footer read, :func:`storage.read_parquet`). A checkpoint, not a cached plan: a store append triggers
    Spark's recache of any cached plan reading the store path, which
    would recompute the updater's anti-join against the post-write
    store. Raises PATH_NOT_FOUND for a missing store, and ValueError for
    a generation that is not a store of this kind.

    Memoized on the kind, the generation dir and its file listing.
    ``fresh`` always reads and memoizes the read — the updater's rule,
    so a batch never runs off an earlier batch's read; readers reuse the
    memoized read while the listing is unchanged."""
    root = resolve_signature_root(spark, path)
    key = ("sigstore", codec.name, root, id_col,
           storage.listing(storage.tree(spark, root)))

    def build():
        raw = storage.read_parquet(spark, root)
        if codec.mark not in raw.columns:
            raise ValueError(
                f"store at {root} has no {codec.mark} column — it is not "
                f"a {codec.name} signature store; rebuild it once with "
                f"{codec.updater} on an empty path")
        h = next(c for c in codec.hash_cols if c in raw.columns)
        frame = raw.select(id_col, h, *codec.stamps) \
            .localCheckpoint(eager=False)
        stats = [tuple(r) for r in frame.groupBy(
            codec.geometry().alias("_g"), F.col(h).isNull().alias("_tomb"))
            .count().collect()]
        return root, frame, stats

    return memo.put(spark, key, build()) if fresh \
        else memo.get(spark, key, build)


def _check_store_layout(path: str, geometry: int, stats: list) -> None:
    """The store being appended to must hold ONE geometry, this one —
    appending a second width would poison every later read with no
    repair path short of re-signing the corpus. ``stats`` are the
    projection's per-``(geometry, tombstone)`` counts, tombstones
    included (an all-tombstone grid-A store must still refuse grid-B
    rows)."""
    seen = sorted({s[0] for s in stats})
    if seen and seen != [geometry]:
        raise ValueError(
            f"store at {path} holds signatures of geometry {seen}; "
            f"refusing to append geometry-{geometry} rows — one store, "
            "one geometry")


def _update(spark: SparkSession, codec: _Codec, batch: DataFrame,
            path: str, id_col: str, geometry: int, **opts) -> int:
    """Sign the batch's ids NOT already in the store with ``codec`` and
    append them, unsignable ids as tombstones. Returns the number of
    newly signed ids."""
    # intra-batch dedup: the store's invariant is ONE row per id, and
    # the anti-join only screens against the STORE — a batch assembled
    # from a union carrying the same id twice would append two rows
    # that no later update can ever remove. One batch-sized shuffle; id
    # is assumed to identify content, so which duplicate survives is
    # immaterial.
    batch = batch.dropDuplicates([id_col])
    new, first = batch, False
    try:
        root, existing, stats = _projection(spark, codec, path, id_col,
                                            fresh=True)
        _check_store_layout(path, geometry, stats)
        # resolve WHICH ids are new on id columns alone, so the
        # steady-state all-seen batch never touches the text or payload
        # bytes. Count BEFORE checkpointing (r11): the steady-state path
        # is n == 0, where an eager checkpoint of the empty anti-join
        # was a second driver-blocking job bought for nothing.
        new_ids = (batch.select(id_col)
                   .join(existing.select(id_col), id_col, "left_anti"))
        if new_ids.count() == 0:
            return 0
        new = batch.join(new_ids.localCheckpoint(eager=True), id_col,
                         "left_semi")
    except AnalysisException as exc:
        if not storage.is_path_missing(exc):   # first write ONLY
            raise
        root, first = resolve_signature_root(spark, path), True
    signed, pp = codec.sign(new, id_col, **opts)
    h = signed.columns[1]
    # every new id gets a row: its signature, or a tombstone (NULL
    # signature, _pp = -1) when the codec could not sign it — without
    # the tombstone every later batch carrying the id anti-joins it back
    # as "new" and signs it again, forever. Materialized ONCE before the
    # count and the write, so the signing (shingle aggregation or
    # payload decode) runs once per batch; localCheckpoint rather than
    # persist so nothing pins the session cache registry.
    out = (new.select(id_col).join(signed, id_col, "left")
           .select(id_col, h,
                   *[F.lit(geometry).alias(c) for c in codec.stamps],
                   F.when(F.col(h).isNull(), -1).otherwise(pp)
                   .cast("int").alias("_pp"))
           .localCheckpoint(eager=True))
    n, rows = out.agg(F.count(h), F.count("*")).first()
    if rows:
        _append_store_rows(spark, out, root, rows, first)
    return n


def _pairs(spark: SparkSession, codec: _Codec, batch: DataFrame,
           path: str, id_col: str, threshold: float,
           max_candidate_mass: int | str | None) -> DataFrame:
    """Near-dup pairs between ``batch`` ids and the whole store of
    ``codec``'s kind, read from the memoized projection: batch
    signatures come back by id semi-join, band keys join store-side,
    candidates are verified in-join before the dedup exchange. Output:
    ``a_id, b_id, <sim>`` with a < b, kept by ``codec.keep(sim,
    threshold)``; tombstones never pair."""
    _, raw, stats = _projection(spark, codec, path, id_col)
    h = raw.columns[1]
    sim_name = codec.sim.split()[0]
    signed = [st for st in stats if not st[1]]
    geoms = sorted({st[0] for st in signed})
    if not geoms:
        if stats:
            # every row is a tombstone: a VALID store that has signed
            # nothing pairable yet — zero pairs, not an error
            idt = dict(raw.dtypes)[id_col]
            return local_frame(spark, [],
                               f"a_id {idt}, b_id {idt}, {codec.sim}")
        raise ValueError(
            f"signature store at {path} is empty — run {codec.updater} "
            "on the batch first (the pair reader joins batch signatures "
            "back from the store)")
    if len(geoms) != 1:
        raise ValueError(
            f"signature store at {path} holds mixed geometries {geoms} "
            "— one store, one geometry")
    keys, w, sim = codec.bands(geoms[0], h)
    bands = len(keys)
    store = raw.where(F.col(h).isNotNull()).select(id_col, h)
    # batch-sized: materialize once — the mass pre-flight's batch_n and
    # bucket counts AND the real join's batch side all read it, which
    # otherwise re-runs the semi-join per consumer. On the auto path the
    # checkpoint is LAZY: the budget's batch_n count just below is its
    # materializing action, so checkpoint + count cost ONE blocking job
    # (r12). A caller-supplied int budget never counts, so there the
    # checkpoint stays eager; max_candidate_mass=None has a single
    # consumer (the pair join's batch side) and skips the checkpoint.
    bsig = store.join(batch.select(id_col), id_col, "left_semi")
    if max_candidate_mass is not None:
        bsig = bsig.localCheckpoint(eager=max_candidate_mass != "auto")
    bkeys = F.explode(F.array(*[F.struct(F.lit(b).alias("b"),
                                         k.alias("k"))
                                for b, k in enumerate(keys)]))

    def _idx(df, side):
        return df.select(F.col(id_col), F.col(h), bkeys.alias("_bk")) \
            .select(F.col(id_col).alias(f"{side}_id"),
                    F.col(h).alias(f"{side}_hash"),
                    F.col("_bk.b").alias("_b"), F.col("_bk.k").alias("_k"))

    a, b = _idx(bsig, "x"), _idx(store, "y")
    if max_candidate_mass is not None:
        batch_n = None
        if max_candidate_mass == "auto":
            # budget = linear term in the BATCH plus the structural
            # batch×store random-collision expectation (bands·B·N/2^w) ×
            # slack, capped at CAP·bands·B (dedup.auto_mass_budget's
            # policy): without the second term a healthy narrow-key
            # store past ~2^w·FACTOR distinct hashes would be refused;
            # uncapped, it admits store-quadratic work. For 128-bit
            # text keys the term is 0 and the budget is FACTOR·bands·B.
            batch_n = max(int(bsig.count()), 1)
            store_n = max(sum(st[2] for st in signed), 1)
            structural = min(
                (MASS_SLACK_FACTOR * bands * batch_n * store_n) >> w,
                STRUCTURAL_CAP_PER_HASH * bands * batch_n)
            max_candidate_mass = (
                MASS_BUDGET_FACTOR * bands * batch_n + structural)
        bc = a.groupBy("_b", "_k").agg(F.count("*").alias("_bn"))
        # only buckets MATCHING a batch key contribute mass, so the
        # store index is semi-joined on the batch's keys before counting
        # (r8: the full-store groupBy was the largest corpus-linear term
        # after the signature scan). The broadcast hint is GATED on the
        # batch size when known (auto path): up to bands×batch distinct
        # keys ship to the driver and every executor, so an unbounded
        # hint turns a large backfill batch into a driver OOM (r8
        # ADVICE); past the gate — or with an int budget, where batch_n
        # is unknown — AQE picks the strategy from measured sizes.
        batch_keys = a.select("_b", "_k").distinct()
        if batch_n is not None and batch_n * bands <= 1_000_000:
            batch_keys = F.broadcast(batch_keys)
        sc = (b.join(batch_keys, ["_b", "_k"], "left_semi")
              .groupBy("_b", "_k").agg(F.count("*").alias("_sn")))
        mass = (bc.join(sc, ["_b", "_k"])
                .agg(F.sum(F.col("_bn") * F.col("_sn")))
                .collect()[0][0]) or 0
        if mass > max_candidate_mass:
            raise RuntimeError(
                f"{codec.name} pairs against {path}: candidate mass "
                f"{mass} (Σ batch×store bucket products) exceeds "
                f"max_candidate_mass={max_candidate_mass}; the store's "
                "band buckets are degenerate for this batch — widen the "
                "signature or pre-cluster before pairing")

    # verify BEFORE the dedup exchange (cheap in-stage similarity on
    # the join output) so only true pairs reach the distinct
    return (a.join(b, on=["_b", "_k"])
            .where(F.col("x_id") != F.col("y_id"))
            .withColumn(sim_name, sim)
            .where(codec.keep(F.col(sim_name), threshold))
            .select(F.least("x_id", "y_id").alias("a_id"),
                    F.greatest("x_id", "y_id").alias("b_id"), sim_name)
            .distinct())


def update_signature_store(spark: SparkSession, batch: DataFrame,
                           path: str, text_col: str = "text",
                           id_col: str = "doc_id") -> int:
    """MinHash-sign the batch's docs NOT already in the store and append
    them. Returns the number of newly signed docs. Idempotent: re-running
    the same batch appends nothing. A doc MinHash cannot sign (no
    shingles: NULL, empty or under 3 words) is stored as a tombstone, so
    a replayed batch carrying it returns 0 without signing again."""
    return _update(spark, _TEXT, batch, path, id_col, _NUM_HASHES,
                   text_col=text_col)


def lsh_pairs_against_store(spark: SparkSession, batch: DataFrame,
                            path: str, id_col: str = "doc_id",
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

    ``max_candidate_mass``: price Σ batch-bucket × store-bucket products
    BEFORE the join and raise past the budget, so a batch whose band
    keys are degenerate against the store (near-constant boilerplate:
    one bucket holding most of the corpus) fail-fasts instead of
    exploding toward batch × corpus candidate rows. ``"auto"`` budgets
    64·bands·|batch| (band keys are 4×32-bit minhash arrays — structural
    random collisions are negligible, unlike the packed-hamming
    engine's narrow keys); pass an int for an explicit budget or None to
    skip the pre-flight."""
    return _pairs(spark, _TEXT, batch, path, id_col, threshold,
                  max_candidate_mass)


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
    a constant that could drift from the writer's grid (a second width
    is refused at write, mixed widths raise at read). ``_pp`` is the
    band-0 low byte. Idempotent per image id; decode runs once per
    image ever: the stored-id anti-join runs on id columns only, so
    callers hand over the whole batch and a replayed batch returns 0
    before any decode. Returns the number of newly signed images.

    Ids whose payload CANNOT be signed (shorter than ``width²`` bytes —
    the rows raw8_ahash drops) are tombstoned (module docstring;
    measured at sf0.1: 210 of the 500-image warm batch were sub-width,
    ~1.2 s of re-decode per warm update without the tombstone). Readers
    that want SIGNED ids use :func:`signed_image_ids`;
    ``ahash_pairs_against_store`` skips tombstones itself."""
    _check_ahash_geometry(grid * grid)
    return _update(spark, _IMAGE, batch, path, id_col, grid * grid,
                   width=width, grid=grid, payload_col=payload_col)


def signed_image_ids(spark: SparkSession, path: str,
                     id_col: str = "media_id") -> DataFrame:
    """Ids holding an actual signature in the image store — excludes the
    undecodable-id tombstones ``update_image_signature_store`` records
    (NULL hash rows). Use this, not a raw store read, wherever "is this
    id signed" is the question (e.g. restricting a dedup batch to
    pairable ids); a raw read answers "was this id ever PRESENTED",
    which is what the updater's own anti-join wants. Reads the store's
    memoized projection (module docstring)."""
    _, frame, _ = _projection(spark, _IMAGE, path, id_col)
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
    from the store's own ``_nbits`` column — a writer-side grid change
    can never silently misalign the reader's band keys.
    Output: ``a_id, b_id, hamming`` with a < b, hamming ≤ 7 —
    pigeonhole-complete, and store-side cost scales with matching band
    buckets, not corpus size.

    ``max_candidate_mass``: fail-fast against a store whose band buckets
    are degenerate for this batch (near-constant signatures). The
    default ``"auto"`` budgets a linear batch term plus the structural
    batch×store random-collision expectation
    (``FACTOR·bands·B + min(SLACK·bands·B·N/2^w, CAP·bands·B)`` — see
    ``dedup.auto_mass_budget``'s rationale), and prices the REAL join —
    Σ |batch bucket| × |store bucket| over matching (band, key)
    buckets, one small aggregation pass — before shuffling any
    candidate. Pass an int for an explicit budget or None to skip (e.g.
    a tight streaming loop that already pre-flighted the store)."""
    return _pairs(spark, _IMAGE, batch, path, id_col, _AHASH_MAX_HAMMING,
                  max_candidate_mass)
