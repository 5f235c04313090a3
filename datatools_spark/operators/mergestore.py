"""Copy-on-write MERGE (upsert / delete) over a parquet store
(engine add; no reference analogue — the reference mutates pandas
frames in RAM. A 100 TB lake is immutable files, and "update these
5 M rows" must not rewrite 100 TB).

What Delta/Iceberg ``MERGE INTO`` gives managed tables, as plain
DataFrames over a directory layout this module owns:

- ``{root}/gen-<n>/``      data files written by generation n
  (gen-0 is the initial load; each merge adds one generation)
- ``{root}/_stats/gen-<n>`` per-file key min/max + row counts for the
  files that generation wrote (the skipping-manifest shape of
  skipping.py, maintained INCREMENTALLY — each merge stats only the
  bytes it wrote)
- ``{root}/_log/gen-<n>``   the generation's COMMIT record: the source
  file paths it tombstoned (possibly zero rows). A generation is
  visible to readers only once its log exists, and the log is written
  LAST — so a crash mid-merge leaves an invisible orphan directory,
  never a reader that double-counts rewritten rows.

The copy-on-write contract: a merge rewrites ONLY the files whose
[key_min, key_max] box can contain an update key. Candidate selection
is a broadcast range-join of the metadata-sized live manifest against
the batch-sized distinct update keys — zero data IO; then the touched
files are read, matched rows are anti-joined out, and survivors plus
the update batch become the new generation. Cost is O(touched bytes +
batch), not O(table) — on a store laid out by key (writers naturally
append key-clustered batches; partitioning.py's Z-order tightens the
boxes further) the touched set is a sliver of the table.

Matched/inserted/deleted counts are derived from MANIFEST arithmetic
(touched-file row counts vs the new generation's stats), not from
extra scans: the merge itself is the only pass over the touched bytes.

Under many small merges the store accretes small files; the live
manifest (:func:`merge_store_stats`) feeds ``skipping.plan_compaction``
unchanged — the same maintenance pass Delta users run as ``OPTIMIZE``.

SINGLE WRITER: there is no optimistic-concurrency loop (Delta's
conflict detection needs an atomic log commit this layout does not
have). Two concurrent merges race to the same generation number; the
loser's ``errorifexists`` data write fails BEFORE it records stats,
changes, or a commit, so the store stays consistent and the loser can
simply retry — but serialize writers by construction (the streaming
loop is one) rather than leaning on the race.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from . import storage
from .skipping import build_file_stats

__all__ = ["init_merge_store", "merge_into", "read_merge_store",
           "merge_store_stats", "merge_store_live_files",
           "vacuum_merge_store", "checkpoint_merge_store",
           "read_change_feed",
           "init_feed_rollup", "refresh_feed_rollup", "read_feed_rollup"]

_GEN = "gen-"
_CKPT = "_ckpt"          # consolidated live-manifest snapshots
_ROSTER = "_ckpt_roster"  # committed-generation roster ≤ each snapshot


# every numbered dir of the store (data, _log, _stats, _ckpt,
# _ckpt_roster) is gen-<n>; log and checkpoint records commit with the
# _SUCCESS marker
_GENS = storage.Layout(_GEN, "_SUCCESS")
# the metadata dirs a store call walks (:func:`_walk`); the data dirs'
# files are named by the manifest, and a generation's _changes are
# walked by the change feed alone
_META = frozenset({"_log", "_stats", _CKPT, _ROSTER, "_vacuum"})


def _walk(spark: SparkSession, root: str) -> storage.Tree:
    """One walk of the store root: its gen-<n> dirs, not their files,
    and every metadata dir with all it holds."""
    return storage.tree(spark, root, into=_META)


def _committed_gens(t: storage.Tree) -> list[int]:
    """Generations visible to readers, read from a walk ``t`` of the
    store root: data dir AND a COMPLETE commit record exist.
    Completeness is the log's _SUCCESS marker (written last, by
    :func:`_commit`) AND a data file beside it, both found by the walk —
    bare directory existence is NOT commit: Spark creates the output
    dir at job start, so a crash mid-log-write would otherwise leave a
    generation whose data is reader-visible while its tombstones are
    lost, and every rewritten row double-counts forever (the exact
    failure the module contract rules out). Orphan data dirs (crash
    before the log write starts) are likewise invisible."""
    logs = f"{t.root}/_log"
    done = {g for g in storage.committed(t, _GENS, logs)
            if storage.data_files(t, _GENS.dir(logs, g))}
    return [g for g in storage.numbers(t, _GENS) if g in done]


def _commit(spark: SparkSession, root: str, gen: int,
            tombstones: list[str]) -> None:
    """The commit point: tombstoned source paths (possibly none) land at
    ``_log/gen-<n>``; the generation becomes visible when the log's
    _SUCCESS marker is written after them."""
    df = local_frame(spark, [(f,) for f in tombstones], "file string")
    log = _GENS.dir(f"{root}/_log", gen)
    storage.write_unmarked(df.coalesce(1), log)
    storage.commit(spark, log, _GENS.marker)


def _with_data(t: storage.Tree, sub: str, gens) -> list[str]:
    """The ``{sub}/gen-<g>`` dirs of ``gens`` that hold a data file."""
    paths = [f"{t.root}/{sub}/{_GEN}{g}" for g in gens]
    return [p for p in paths if storage.data_files(t, p)]


def _tombstoned(spark: SparkSession, t: storage.Tree,
                gens: list[int]) -> DataFrame:
    paths = _with_data(t, "_log", gens)
    if not paths:
        return local_frame(spark, [], "file string")
    return storage.read_parquet(spark, *paths).select("file")


def _checkpoint(t: storage.Tree) -> int | None:
    """The latest committed checkpoint generation."""
    return storage.latest(t, _GENS, f"{t.root}/{_CKPT}")


def _latest_gen(t: storage.Tree) -> int | None:
    """Latest committed generation, whether its own log still exists or
    it has been consolidated into a checkpoint."""
    ck = _checkpoint(t)
    cands = _committed_gens(t) + ([ck] if ck is not None else [])
    return max(cands) if cands else None


def _vacuum_watermark(spark: SparkSession, t: storage.Tree) -> int:
    """Lowest generation still time-travel-readable (0 until a vacuum
    or checkpoint physically reclaims history). A committed checkpoint
    at gen n IS a watermark record (its snapshot replaced the history
    below it), so checkpoints don't append to ``_vacuum`` — a
    1e3-batch auto-checkpoint loop would otherwise accrete one tiny
    parquet file per batch here and every read would reopen them all."""
    ck = _checkpoint(t)
    wm = ck if ck is not None else 0
    p = f"{t.root}/_vacuum"
    if storage.data_files(t, p):
        wm = max(wm, int(storage.read_parquet(spark, p)
                         .agg(F.max("min_readable_gen")).collect()[0][0]))
    return wm


def merge_store_stats(spark: SparkSession, root: str,
                      at_generation: int | None = None) -> DataFrame:
    """The skipping manifest: union of every committed generation's
    per-file stats, minus tombstoned files. Metadata-sized (one row per
    live file); feeds ``skipping.prune_files`` / ``plan_compaction``
    directly. ``at_generation`` TIME-TRAVELS: stats and tombstones are
    both truncated to generations ≤ it, which reconstructs that commit's
    exact state (a file tombstoned later is live again; a file written
    later never existed)."""
    return _stats(spark, _walk(spark, root), at_generation)


def _stats(spark: SparkSession, t: storage.Tree,
           at_generation: int | None) -> DataFrame:
    """:func:`merge_store_stats` from a walk ``t`` of the store root."""
    root = t.root
    gens = _committed_gens(t)
    ck = _checkpoint(t)
    latest = _latest_gen(t)
    if at_generation is not None:
        wm = _vacuum_watermark(spark, t)
        if at_generation < wm:
            raise ValueError(
                f"merge store at {root}: generation {at_generation} was "
                f"vacuumed (min readable generation is {wm}) — its "
                "tombstoned files are physically gone")
        if latest is not None and at_generation > latest:
            raise ValueError(
                f"merge store at {root}: generation {at_generation} does "
                f"not exist yet (latest committed is {latest})")
        gens = [g for g in gens if g <= at_generation]
    stats = None
    if ck is not None and (at_generation is None or ck <= at_generation):
        # checkpointed store: the snapshot IS the exact live state at
        # generation ck, so only post-checkpoint deltas (stats +
        # tombstones) apply on top — per-read metadata cost is bounded
        # by the retain window, not the store's lifetime gen count
        gens = [g for g in gens if g > ck]
        stats = storage.read_parquet(spark, f"{root}/{_CKPT}/{_GEN}{ck}")
    paths = _with_data(t, "_stats", gens)
    if paths:
        delta = storage.read_parquet(spark, *paths)
        stats = delta if stats is None else stats.unionByName(delta)
    if stats is None:
        raise ValueError(f"merge store at {root} has no committed "
                         "generations — init_merge_store first")
    return stats.join(_tombstoned(spark, t, gens), "file", "left_anti")


def merge_store_live_files(spark: SparkSession, root: str,
                           at_generation: int | None = None) -> list[str]:
    """Live data file paths (the legitimate metadata-sized collect —
    it feeds the reader's path list, like a catalog partition listing)."""
    return _live_files(spark, _walk(spark, root), at_generation)


def _live_files(spark: SparkSession, t: storage.Tree,
                at_generation: int | None) -> list[str]:
    return sorted(r["file"] for r in _stats(spark, t, at_generation)
                  .select("file").collect())


def read_merge_store(spark: SparkSession, root: str,
                     at_generation: int | None = None) -> DataFrame:
    """Table contents as of ``at_generation`` (default: current):
    exactly that commit's live files, by explicit path list — no
    directory glob, so orphan and tombstoned files are never scanned.
    Time travel is free metadata work because data files are immutable;
    it reaches back to the last :func:`vacuum_merge_store` watermark."""
    return _read(spark, _walk(spark, root), at_generation)


def _read(spark: SparkSession, t: storage.Tree,
          at_generation: int | None) -> DataFrame:
    """:func:`read_merge_store` from a walk ``t`` of the store root."""
    files = _live_files(spark, t, at_generation)
    if files:
        return storage.read_parquet(spark, *files)
    # fully-deleted store: recover the schema from any tombstoned file
    # that vacuum hasn't reclaimed yet, walking its gen-<n> dir
    dead = {r["file"] for r in
            _tombstoned(spark, t, _committed_gens(t)).collect()}
    for d in sorted({f.rsplit("/", 1)[0] for f in dead}):
        found = sorted(dead & storage.tree(spark, d).files.keys())
        if found:
            return storage.read_parquet(spark, found[0]).where(F.lit(False))
    raise ValueError(f"merge store at {t.root} is empty and every "
                     "historical file was vacuumed — nothing to "
                     "infer a schema from")


def vacuum_merge_store(spark: SparkSession, root: str,
                       retain_generations: int = 2) -> dict:
    """Physically delete files whose tombstone is old enough that no
    retained time-travel read can reach them — the ``VACUUM`` pass.

    A file tombstoned at generation n is invisible to every read at
    generation ≥ n, so deleting all files tombstoned at generations
    ≤ watermark (latest − ``retain_generations``) preserves every read
    at or above the watermark; reads below it are refused thereafter
    (the watermark is recorded at ``{root}/_vacuum`` and checked by the
    readers). Idempotent: re-running deletes nothing new and never
    raises on already-gone files. The current table is NEVER touched —
    only tombstoned (dead) files are candidates, and ``_changes``
    feeds are always retained (they are copies, not references — the
    IVM log survives history reclamation). Returns
    ``{"watermark", "files_deleted", "files_retained_dead"}``."""
    t = _walk(spark, root)
    latest = _latest_gen(t)
    if latest is None:
        raise ValueError(f"merge store at {root} has no committed "
                         "generations — nothing to vacuum")
    gens = _committed_gens(t)
    wm = max(0, latest - retain_generations)
    dead_old = [r["file"] for r in _tombstoned(
        spark, t, [g for g in gens if g <= wm]).collect()]
    dead_all = _tombstoned(spark, t, gens).count()
    deleted = storage.delete(spark, *sorted(dead_old))
    (local_frame(spark, [(wm,)], "min_readable_gen long")
     .coalesce(1).write.mode("append").parquet(f"{root}/_vacuum"))
    return {"watermark": wm, "files_deleted": deleted,
            "files_retained_dead": int(dead_all - len(dead_old))}


def checkpoint_merge_store(spark: SparkSession, root: str,
                           retain_generations: int = 2,
                           min_advance: int = 1) -> dict:
    """Consolidate history below ``latest − retain_generations`` into a
    manifest CHECKPOINT, then reclaim it — the maintenance pass that
    bounds a long-running store's metadata AND storage (r9 VERDICT #5:
    a streaming CDC loop burns a generation per batch; without this,
    per-merge manifest assembly unions one stats dir per lifetime
    generation and dead files accumulate until a manual vacuum).

    At watermark ``wm``: (1) write the committed-generation roster
    ≤ wm to ``_ckpt_roster/gen-<wm>`` (change-feed reads stay valid for
    consolidated generations — ``_changes`` is data, never reclaimed);
    (2) write the exact live manifest at wm to ``_ckpt/gen-<wm>`` —
    its _SUCCESS is the commit point; (3) physically delete files
    tombstoned at generations ≤ wm and record the vacuum watermark
    (reads below wm are refused, same contract as
    :func:`vacuum_merge_store`); (4) delete the consolidated
    ``_stats``/``_log`` dirs ≤ wm, drained (file-less) data dirs < the
    latest generation, and superseded older checkpoints. A crash
    between (2) and (4) leaves both representations present — readers
    prefer the checkpoint and ignore covered deltas, and the next run
    finishes the cleanup (idempotent).

    Time travel keeps working for generations in [wm, latest]; the
    checkpoint is byte-equal to the manifest it replaces (test-pinned).
    ``retain_generations >= 1`` so the latest generation's own log is
    never consolidated (generation numbering and in-flight readers
    key off it). Returns ``{"watermark", "files_deleted",
    "gens_consolidated"}`` (watermark None = nothing to do)."""
    if retain_generations < 1:
        raise ValueError("checkpoint_merge_store: retain_generations "
                         "must be >= 1 — consolidating the latest "
                         "generation itself would regress numbering")
    t = _walk(spark, root)
    latest = _latest_gen(t)
    if latest is None:
        raise ValueError(f"merge store at {root} has no committed "
                         "generations — nothing to checkpoint")
    ck_old = _checkpoint(t)
    wm = latest - retain_generations
    # min_advance amortizes the pass for per-batch callers: merge_into
    # passes retain_generations here, so a merge loop consolidates once
    # per retain window instead of every batch (metadata dirs stay
    # bounded by ~2×retain either way)
    floor = (ck_old if ck_old is not None else -1) + max(1, min_advance)
    if wm < 0 or wm < floor:
        return {"watermark": None, "files_deleted": 0,
                "gens_consolidated": 0}
    covered = [g for g in _committed_gens(t) if g <= wm]
    # debris from a crashed prior attempt at this watermark: the
    # checkpoint was never committed (ck_old < wm), so anything already
    # at gen-<wm> is invisible garbage blocking errorifexists
    ck_dir = f"{root}/{_CKPT}/{_GEN}{wm}"
    storage.delete(spark, ck_dir, f"{root}/{_ROSTER}/{_GEN}{wm}")
    # roster BEFORE manifest: a committed checkpoint must always be able
    # to answer "was generation g <= wm committed" for the change feed
    roster = sorted(set(covered) | set(_roster_gens(spark, t, ck_old)))
    (local_frame(spark, [(g,) for g in roster], "gen long")
     .coalesce(1).write.mode("errorifexists")
     .parquet(f"{root}/{_ROSTER}/{_GEN}{wm}"))
    # the walk predates the debris delete and the roster write, neither
    # of which a manifest read looks at
    snapshot = _stats(spark, t, wm)
    storage.write_unmarked(snapshot.coalesce(1), ck_dir, "errorifexists")
    if not storage.data_files(storage.tree(spark, ck_dir)):
        # a checkpoint without payload must never commit: the cleanup
        # below would delete the only remaining representation
        raise RuntimeError(
            f"checkpoint_merge_store: snapshot write at {ck_dir} "
            "produced no parquet part files — refusing to reclaim the "
            "history it was meant to replace")
    storage.commit(spark, ck_dir, _GENS.marker)

    # physically reclaim dead files <= wm (the vacuum semantics)
    dead_old = [r["file"] for r in _tombstoned(
        spark, t, covered).collect()]
    deleted = storage.delete(spark, *sorted(dead_old))
    # no _vacuum append: the committed checkpoint at wm IS the
    # watermark record (_vacuum_watermark reads it) — appending here
    # would accrete one parquet file per auto-checkpointing batch

    # metadata cleanup — everything below is covered by the committed
    # checkpoint, so deletion order no longer matters. The reclaim just
    # drained data dirs, so each one at or below wm is walked now.
    stale = [f"{root}/{sub}/{_GEN}{g}" for g in covered
             for sub in ("_stats", "_log")]
    # drained data dirs: only generations the committed checkpoint
    # covers (g <= wm). An all-delete merge legitimately commits an
    # EMPTY generation (no parquet files, only _log tombstones); above
    # the watermark its presence is what keeps _committed_gens applying
    # its tombstones — deleting it would resurrect rows.
    stale += [d for d in (f"{root}/{_GEN}{g}"
                          for g in storage.numbers(t, _GENS) if g <= wm)
              if not storage.data_files(storage.tree(spark, d))]
    stale += [f"{root}/{sub}/{_GEN}{old}" for sub in (_CKPT, _ROSTER)
              for old in storage.numbers(t, _GENS, f"{root}/{sub}")
              if old < wm]
    storage.delete(spark, *stale)
    return {"watermark": wm, "files_deleted": deleted,
            "gens_consolidated": len(covered)}


def _roster_gens(spark: SparkSession, t: storage.Tree,
                 ck: int | None) -> list[int]:
    """Committed generations consolidated into checkpoint ``ck`` (empty
    when no checkpoint)."""
    if ck is None:
        return []
    p = f"{t.root}/{_ROSTER}/{_GEN}{ck}"
    if not storage.data_files(t, p):
        return []
    return sorted(int(r["gen"])
                  for r in storage.read_parquet(spark, p).collect())


def init_merge_store(spark: SparkSession, df: DataFrame, root: str,
                     key_cols: list[str]) -> int:
    """Write ``df`` as generation 0 and stat its files on ``key_cols``.
    Refuses a root that already holds a committed generation (same
    contract as ``apply_compaction``: mixing runs corrupts the log's
    meaning). An uncommitted generation 0 — left by a failed or crashed
    init — is deleted first, so the init can simply be retried.
    Returns the number of data files written."""
    if _latest_gen(_walk(spark, root)) is not None:
        raise ValueError(f"init_merge_store: {root} already holds "
                         "generations — point each store at a fresh root")
    _check_keys(df, key_cols, "init_merge_store")
    gen_dir = f"{root}/{_GEN}0"
    storage.delete(spark, gen_dir, f"{root}/_stats/{_GEN}0",
                   f"{root}/_log/{_GEN}0")
    df.write.mode("errorifexists").parquet(gen_dir)
    files = storage.data_files(storage.tree(spark, gen_dir))
    if not files:
        raise ValueError("init_merge_store: the frame wrote no data "
                         "files — an empty store has no key types to "
                         "manifest; load at least one row")
    # Key hygiene, enforced at the door: merge_into's manifest-arithmetic
    # counters assume ONE store row per key (rows_inserted goes negative
    # when an update key matches several), and a NULL key can never be
    # matched by an equality MERGE — the same two rules every update
    # batch already gets. Checked as a key-column-pruned read-back of
    # the bytes just written (cheaper than re-running the caller's input
    # plan), and BEFORE the commit: a failed check leaves an orphan
    # generation readers never see.
    anynull = F.greatest(*[F.col(k).isNull() for k in key_cols]) \
        if len(key_cols) > 1 else F.col(key_cols[0]).isNull()
    chk = (storage.read_parquet(spark, gen_dir).select(*key_cols)
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.when(anynull, 1).otherwise(0)).alias("nn"),
                F.count_distinct(*[F.col(k) for k in key_cols])
                .alias("nk")).first())
    if chk["nn"]:
        raise ValueError("init_merge_store: null key values in the "
                         "initial load — equality MERGE can never match "
                         "them")
    if chk["nk"] < chk["n"]:
        raise ValueError(
            f"init_merge_store: initial load has {chk['n'] - chk['nk']} "
            "duplicate-key rows — merge_into's matched/inserted counters "
            "assume one store row per key; dedup the load first")
    build_file_stats(spark, gen_dir, key_cols).coalesce(1) \
        .write.mode("overwrite").parquet(f"{root}/_stats/{_GEN}0")
    _commit(spark, root, 0, [])
    return len(files)


def _check_keys(df: DataFrame, key_cols: list[str], who: str) -> None:
    missing = [k for k in key_cols if k not in df.columns]
    if missing:
        raise ValueError(f"{who}: key columns {missing} not in frame "
                         f"columns {df.columns}")


def read_change_feed(spark: SparkSession, root: str,
                     from_generation: int = 1,
                     to_generation: int | None = None) -> DataFrame:
    """Row-level changes across a committed generation range — the
    Delta/Iceberg CHANGE DATA FEED: store-schema rows plus
    ``_change_type`` (``insert`` / ``update_preimage`` /
    ``update_postimage`` / ``delete``) and ``_generation``. Feeds
    incremental view maintenance: a downstream aggregate folds in
    post-images/inserts and retracts pre-images/deletes without
    rescanning the table (equivalence pinned in
    tests/test_mergestore.py). Only merges run with
    ``change_feed=True`` record changes; a generation in range without
    them RAISES — silently skipping a gap would hand consumers a
    feed that no longer reconciles to the table."""
    return _change_feed(spark, _walk(spark, root), from_generation,
                        to_generation)


def _change_feed(spark: SparkSession, t: storage.Tree, from_generation: int,
                 to_generation: int | None) -> DataFrame:
    """:func:`read_change_feed` from a walk ``t`` of the store root."""
    root = t.root
    # committed set = live logs ∪ the checkpoint roster: consolidation
    # removes a generation's log but its _changes are data (never
    # reclaimed), and the roster preserves which gens ≤ ckpt were
    # actually committed (an orphaned crash dir must stay invisible)
    committed = sorted(set(_committed_gens(t))
                       | set(_roster_gens(spark, t, _checkpoint(t))))
    gens = [g for g in committed
            if g >= max(1, from_generation)
            and (to_generation is None or g <= to_generation)]
    if to_generation is not None:
        if not committed or to_generation > committed[-1]:
            raise ValueError(
                f"merge store at {root}: change feed requested through "
                f"generation {to_generation}, but latest committed is "
                f"{committed[-1] if committed else 'none'}")
    missing = [g for g in gens if not storage.data_files(
        storage.tree(spark, f"{root}/_changes/{_GEN}{g}"))]
    if missing:
        raise ValueError(
            f"merge store at {root}: generations {missing} have no "
            "change feed (merge_into ran with change_feed=False) — a "
            "gapped feed cannot reconcile; recompute the view instead")
    if not gens:
        raise ValueError(f"merge store at {root}: no committed "
                         "generations in the requested feed range")
    parts = [storage.read_parquet(spark, f"{root}/_changes/{_GEN}{g}")
             .withColumn("_generation", F.lit(g)) for g in gens]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def merge_into(spark: SparkSession, root: str, updates: DataFrame,
               key_cols: list[str],
               when_matched: str = "update",
               change_feed: bool = False,
               retain_generations: int | None = None) -> dict:
    """Copy-on-write MERGE of ``updates`` into the store.

    ``when_matched="update"`` — upsert: store rows matching an update
    key (equality on every key column) are replaced by the update row;
    unmatched update rows are inserted. ``updates`` must carry the full
    store schema and be unique on the key (a MERGE with two sources for
    one target row is non-deterministic — Delta raises here too).

    ``when_matched="delete"`` — matching store rows are removed;
    ``updates`` needs only the key columns; unmatched keys are ignored.

    ``change_feed=True`` additionally records the generation's
    row-level changes (pre-images, post-images, inserts, deletes) under
    ``{root}/_changes`` for :func:`read_change_feed` — one extra pass
    over the TOUCHED rows only (they are localCheckpointed so the
    files are still read once).

    Only files whose per-column [min, max] key box can contain an
    update key are rewritten (broadcast range-semi-join of the
    metadata manifest against the distinct batch keys — zero data IO to
    plan). Returns ``{"generation", "files_rewritten",
    "files_live_before", "rows_matched", "rows_inserted",
    "rows_deleted"}``; the row counts come from manifest arithmetic,
    not extra table scans.

    ``retain_generations``: the auto-maintenance policy (r9 VERDICT
    #5). When set (≥ 1), each committing merge finishes by running
    :func:`checkpoint_merge_store` at that retention, so a long-running
    writer (the streaming CDC loop burns a generation per batch) holds
    its generation count, manifest-assembly cost, and dead-file storage
    FLAT instead of growing per lifetime batch. Time travel stays
    available for the retained window; older reads are refused at the
    recorded vacuum watermark.
    """
    if when_matched not in ("update", "delete"):
        raise ValueError(f"when_matched must be 'update' or 'delete', "
                         f"got {when_matched!r}")
    if retain_generations is not None and retain_generations < 1:
        # validate BEFORE the merge: failing in the post-commit
        # maintenance hook would leave the caller unsure whether the
        # merge itself landed (it would have)
        raise ValueError("merge_into: retain_generations must be >= 1 "
                         "(the latest generation is never consolidated)")
    _check_keys(updates, key_cols, "merge_into")
    t = _walk(spark, root)
    stats = _stats(spark, t, None)
    first = stats.select("file").limit(1).collect()
    if first:   # schema from one live file — no second manifest assembly
        store_cols = storage.read_parquet(spark, first[0]["file"]).columns
    else:       # fully-deleted store: schema via the dead-file fallback
        store_cols = _read(spark, t, None).columns
    if when_matched == "update" and set(updates.columns) != set(store_cols):
        raise ValueError(
            f"merge_into(update): updates columns {sorted(updates.columns)} "
            f"must equal store columns {sorted(store_cols)}")

    u = updates if when_matched == "update" \
        else updates.select(*key_cols)
    # one pass over the batch-sized frame for all three key-hygiene
    # facts: total rows, null-key rows, distinct keys
    anynull = F.greatest(*[F.col(k).isNull() for k in key_cols]) \
        if len(key_cols) > 1 else F.col(key_cols[0]).isNull()
    envelope = [a for k in key_cols
                for a in (F.min(k).alias(f"_lo_{k}"),
                          F.max(k).alias(f"_hi_{k}"))]
    chk = u.agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.when(anynull, 1).otherwise(0)).alias("nn"),
                F.count_distinct(*[F.col(k) for k in key_cols])
                .alias("nk"), *envelope).first()
    if chk["nn"]:
        raise ValueError("merge_into: null key values in the update "
                         "batch — equality MERGE cannot match them")
    if when_matched == "update" and chk["nk"] < chk["n"]:
        raise ValueError("merge_into: update batch has duplicate keys — "
                         "the replacement row would be non-deterministic")
    keys = u.select(*key_cols).distinct()

    # candidate files: every key column's value inside the file's box.
    # The per-key test is a broadcast nested-loop semi-join (non-equi),
    # so pre-filter the manifest with the BATCH ENVELOPE first (global
    # min/max per key, free from the hygiene aggregation): the NLJ then
    # runs over envelope-overlapping files × keys, not all files × keys.
    boxed = stats
    for k in key_cols:
        boxed = boxed.where(
            (F.col(f"{k}_min") <= F.lit(chk[f"_hi_{k}"]))
            & (F.col(f"{k}_max") >= F.lit(chk[f"_lo_{k}"]))
            & F.col(f"{k}_min").isNotNull())
    cond = None
    for k in key_cols:
        c = (boxed[f"{k}_min"] <= keys[k]) & (keys[k] <= boxed[f"{k}_max"])
        cond = c if cond is None else (cond & c)
    cand_rows = (boxed.join(F.broadcast(keys), cond, "left_semi")
                 .select("file", "n_rows").collect())
    cand_files = sorted(r["file"] for r in cand_rows)
    touched_rows = sum(int(r["n_rows"]) for r in cand_rows)
    files_live_before = stats.count()

    ck_anchor = _checkpoint(t)
    gen = max(storage.next_number(t, _GENS),
              storage.next_number(t, _GENS, f"{root}/_log"),
              ck_anchor + 1 if ck_anchor is not None else 0)
    gen_dir = f"{root}/{_GEN}{gen}"

    u_count = int(chk["n"]) if when_matched == "update" else 0
    if when_matched == "update" and u_count == 0:
        # empty batch: burn nothing (mirrors the delete no-op)
        return {"generation": None, "files_rewritten": 0,
                "files_live_before": files_live_before,
                "rows_matched": 0, "rows_inserted": 0, "rows_deleted": 0}
    if cand_files:
        touched = storage.read_parquet(spark, *cand_files)
        if change_feed:
            # the feed reads touched twice (pre-images + survivors);
            # checkpoint so the candidate files are scanned once
            touched = touched.localCheckpoint(eager=False)
        remain = touched.join(F.broadcast(keys), key_cols, "left_anti")
    else:
        if when_matched == "delete":
            # nothing can match: a no-op, and no generation is burned
            return {"generation": None, "files_rewritten": 0,
                    "files_live_before": files_live_before,
                    "rows_matched": 0, "rows_inserted": 0,
                    "rows_deleted": 0}
        remain = None

    if when_matched == "update":
        ordered = updates.select(*store_cols)
        out = ordered if remain is None \
            else remain.select(*store_cols).unionByName(ordered)
    else:
        out = remain
    # re-cluster the generation by key before writing: without this the
    # rewrite of N scattered files lands in files with WIDE key boxes,
    # and every later merge's candidate set degrades toward all-files
    # (measured in bench/mergestore_sweep.py: hot-region rewrites grew
    # 2 → 9 files in 5 merges). Range-partitioning the touched+batch
    # rows keeps boxes tight; the exchange is bounded by the touched
    # set, never the table.
    n_out = max(1, len(cand_files))
    out = out.repartitionByRange(n_out, *key_cols) \
        .sortWithinPartitions(*key_cols)
    out.write.mode("errorifexists").parquet(gen_dir)
    if storage.data_files(storage.tree(spark, gen_dir)):
        new_stats = build_file_stats(spark, gen_dir, key_cols)
    else:
        # an all-delete merge can write an empty generation; its stats
        # are an empty manifest in the LIVE manifest's exact schema, so
        # the _stats/* union read stays type-consistent
        new_stats = local_frame(spark, [], stats.schema)
    new_stats.coalesce(1).write.mode("overwrite") \
        .parquet(f"{root}/_stats/{_GEN}{gen}")
    if change_feed:
        ct = "_change_type"
        matched_pre = (touched.join(F.broadcast(keys), key_cols,
                                    "left_semi")
                       if cand_files else None)
        if when_matched == "update":
            pre = None if matched_pre is None else \
                matched_pre.withColumn(ct, F.lit("update_preimage"))
            matched_keys = (local_frame(spark, [], keys.schema)
                            if matched_pre is None
                            else matched_pre.select(*key_cols))
            ordered = updates.select(*store_cols)
            post = (ordered.join(F.broadcast(matched_keys), key_cols,
                                 "left_semi")
                    .withColumn(ct, F.lit("update_postimage")))
            ins = (ordered.join(F.broadcast(matched_keys), key_cols,
                                "left_anti")
                   .withColumn(ct, F.lit("insert")))
            feed = post.unionByName(ins) if pre is None \
                else pre.unionByName(post).unionByName(ins)
        else:
            feed = matched_pre.withColumn(ct, F.lit("delete"))
        feed.write.mode("errorifexists") \
            .parquet(f"{root}/_changes/{_GEN}{gen}")
    _commit(spark, root, gen, cand_files)

    if retain_generations is not None:
        checkpoint_merge_store(spark, root,
                               retain_generations=retain_generations,
                               min_advance=retain_generations)
    gen_stats = storage.read_parquet(spark, f"{root}/_stats/{_GEN}{gen}")
    gen_rows = (gen_stats.agg(F.coalesce(F.sum("n_rows"), F.lit(0)))
                .collect()[0][0])
    if when_matched == "update":
        survivors = gen_rows - u_count
        matched = touched_rows - survivors
        return {"generation": gen, "files_rewritten": len(cand_files),
                "files_live_before": files_live_before,
                "rows_matched": int(matched),
                "rows_inserted": int(u_count - matched),
                "rows_deleted": 0}
    return {"generation": gen, "files_rewritten": len(cand_files),
            "files_live_before": files_live_before,
            "rows_matched": int(touched_rows - gen_rows),
            "rows_inserted": 0,
            "rows_deleted": int(touched_rows - gen_rows)}


# ------------------------------------------------- incremental rollup

# rollup snapshots: rollup-g<gen>, named by the merge generation they
# have applied through and committed by a _SUCCESS marker written last —
# a crashed refresh leaves a markerless orphan that is never read and
# is overwritten by the retry
_ROLLUP = storage.Layout("rollup-g", "_SUCCESS")


def _applied_through(spark: SparkSession, state_dir: str) -> int:
    g = storage.latest(storage.tree(spark, state_dir, only=_ROLLUP.marker),
                       _ROLLUP)
    if g is None:
        raise ValueError(f"feed rollup at {state_dir} not initialized — "
                         "init_feed_rollup first")
    return g


def _rollup_agg(df: DataFrame, group_cols: list[str],
                val_col) -> DataFrame:
    return df.groupBy(*group_cols).agg(
        F.sum(F.col(val_col).cast("decimal(30,6)") * F.col("_sign"))
        .alias("s"),
        F.sum("_sign").cast("long").alias("n"))


def init_feed_rollup(spark: SparkSession, root: str, state_dir: str,
                     group_cols, val_col: str) -> dict:
    """Materialize ``group_cols → (sum(val), count)`` over the merge
    store's CURRENT state as the ``rollup-g<gen>`` snapshot. From then
    on :func:`refresh_feed_rollup` maintains it from the change feed
    alone — the incremental materialized view: refresh cost scales with
    the CHANGES since the last refresh, never the table.

    Only retraction-safe aggregates live here (decimal sum + count;
    read avg off them) — min/max cannot be maintained under deletes
    without a recompute, so they are deliberately absent."""
    group_cols = list(group_cols)
    if storage.committed(storage.tree(spark, state_dir,
                                      only=_ROLLUP.marker), _ROLLUP):
        raise ValueError(f"feed rollup at {state_dir} already "
                         "initialized — point each view at a fresh dir")
    t = _walk(spark, root)
    g_now = _latest_gen(t)
    base = _read(spark, t, None).withColumn("_sign", F.lit(1))
    # overwrite, not errorifexists: a crashed init leaves a markerless
    # orphan dir that reads as uninitialized — but an errorifexists
    # retry then failed with PATH_ALREADY_EXISTS and there was no
    # recovery path; the committed-snapshot guard above already
    # protects committed snapshots from clobbering (same rationale as
    # refresh_feed_rollup's overwrite)
    storage.write_generation(spark, _rollup_agg(base, group_cols, val_col),
                             state_dir, _ROLLUP, g_now)
    return {"applied_through": g_now}


def refresh_feed_rollup(spark: SparkSession, root: str, state_dir: str,
                        group_cols, val_col: str) -> dict:
    """Fold every change-feed generation newer than the last committed
    snapshot into a NEW ``rollup-g<gen>`` snapshot: inserts/post-images
    add, deletes/pre-images retract — no table rescan. Requires every
    intervening merge to have run with ``change_feed=True``
    (:func:`read_change_feed` refuses gaps, so a feed hole fails loudly
    instead of silently corrupting the view).

    CRASH-SAFE by construction: the snapshot's watermark is its
    directory name and its commit point is the _SUCCESS marker written
    last — there is no separate watermark record to fall out of
    sync with the data (an earlier draft updated a watermark file after
    overwriting the rollup; a crash between the two steps would have
    double-counted the feed on retry). A crashed refresh leaves a
    markerless orphan the retry overwrites. Snapshots before the
    previous one are pruned."""
    group_cols = list(group_cols)
    applied = _applied_through(spark, state_dir)
    t = _walk(spark, root)
    g_now = _latest_gen(t)
    if g_now <= applied:
        return {"applied_from": None, "applied_through": applied,
                "groups_touched": 0}
    feed = _change_feed(spark, t, applied + 1, g_now)
    signed = feed.withColumn(
        "_sign",
        F.when(F.col("_change_type").isin("insert", "update_postimage"),
               F.lit(1)).otherwise(F.lit(-1)))
    delta = _rollup_agg(signed, group_cols, val_col)
    cur = storage.read_parquet(spark, _ROLLUP.dir(state_dir, applied))
    d = delta.localCheckpoint(eager=True)
    # null-safe fold: a NULL group key is one group, never a new row per
    # refresh; a group absent on one side contributes zero
    zero = F.lit(0).cast("decimal(30,6)")
    merged = storage.fold_keyed(cur, d, group_cols, {
        "s": lambda old, new: (F.coalesce(old, zero)
                               + F.coalesce(new, zero)).cast("decimal(30,6)"),
        "n": lambda old, new: (F.coalesce(old, F.lit(0))
                               + F.coalesce(new, F.lit(0))).cast("long"),
    }).where(F.col("n") > 0)
    # overwrite handles a markerless orphan from a crashed prior try;
    # the source snapshot (rollup-g<applied>) is a DIFFERENT directory,
    # so this write never reads the path it replaces
    storage.write_generation(spark, merged, state_dir, _ROLLUP, g_now)
    return {"applied_from": applied + 1, "applied_through": g_now,
            "groups_touched": int(d.count())}


def read_feed_rollup(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained view: group cols + ``sum_val`` (double),
    ``n_rows``, ``avg_val`` — derived off the retraction-safe
    partials, read from the newest committed snapshot."""
    g = _applied_through(spark, state_dir)
    r = storage.read_parquet(spark, _ROLLUP.dir(state_dir, g))
    gcols = [c for c in r.columns if c not in ("s", "n")]
    return r.select(*gcols,
                    F.col("s").cast("double").alias("sum_val"),
                    F.col("n").alias("n_rows"),
                    (F.col("s").cast("double") / F.col("n"))
                    .alias("avg_val"))
