"""Incremental near-dup COMPONENT store — canonical cluster ids that
survive streaming ingest (engine add; no reference analogue — the
reference dedups eager in-memory frames).

The signature stores (``operators.sigstore``) make pair GENERATION
incremental: a new batch signs once and band-joins against the corpus.
This module closes the remaining gap: turning those pairs into stable
component (cluster) labels WITHOUT re-running connected components over
every edge ever seen. At 100 TB that recompute is a full-corpus job per
batch; here each batch costs two bounded joins plus driver work
proportional to the batch's pairs.

Design — the Delta-log / checkpoint shape applied to union-find:

- ``{path}/members``: append-only parquet ``(id, comp)`` — one row per
  corpus id, written ONCE at first ingest, labeled with the component
  root resolved AT WRITE TIME. Never rewritten by updates.
- ``{path}/merges``: append-only parquet ``(child, parent)`` — a merge
  event log. When a batch's pairs connect existing components, the
  losing roots are appended as ``child`` pointing at the new group
  minimum. Component labels in ``members`` may therefore be STALE
  (they name a root that later lost a merge); the TRUE label is
  recovered by following the merge forest — a driver-side transitive
  closure over the log, which is sized by MERGE EVENTS since the last
  compaction, not by corpus rows. Readers apply it as one broadcast
  join (:func:`read_components`).
- :func:`compact_component_store` is the OPTIMIZE pass: rewrite
  ``members`` fully resolved into a FRESH directory and start an empty
  log, bounding the resolution map between compactions. It refuses a
  non-empty target — same rationale as ``skipping.apply_compaction``:
  mixing two compactions' outputs is unreadable.

Invariant (equivalence-tested against ``graph.connected_components``):
after any sequence of batches, ``read_components`` labels every
registered id with the MINIMUM id reachable through every pair ever
ingested; ids with no pairs keep their own id.

Scale audit of one ``update_component_store`` call:
- batch ids anti-join members (idempotent re-ingest) — bounded by
  batch × store-index, the sigstore cost class;
- pairs join members twice (comp lookup per endpoint) — bounded by
  batch pair count, which the upstream pair engines' candidate-mass
  pre-flight already fail-fasts on degenerate corpora;
- the driver collects only DISTINCT (comp_a, comp_b) adjacencies —
  ≤ pairs, typically ≪ (near-dup clusters touched per batch);
- appends: one members write (new ids) + one merges write (lost roots).
Nothing in the loop scales with corpus size.

Store state — the members scan (checkpointed) and the merge-log
closure — is read once per batch and shared through the session memo
(``operators.memo``), keyed on the ``members/`` and ``merges/``
listings. ``update_component_store`` always reads afresh and memoizes
the read; a following ``read_components`` reuses it when the update
appended nothing. An append changes a listing, so the next read sees
the new state; no caller holds or invalidates a handle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from . import memo, storage

__all__ = ["update_component_store", "read_components",
           "compact_component_store"]


def _members_path(path: str) -> str:
    return f"{path}/members"


def _merges_path(path: str) -> str:
    return f"{path}/merges"


def _merge_map(spark: SparkSession, t: storage.Tree) -> dict:
    """Driver-side closure of the merge log: ``{stale_root: true_root}``,
    from the walk ``t`` of the store. Sized by merge events since
    compaction (see module docstring), with path compression so chained
    merges across batches resolve in one lookup."""
    mp = _merges_path(t.root)
    if mp not in t.dirs:
        return {}
    rows = storage.read_parquet(spark, mp).collect()
    parent: dict = {}
    for r in rows:
        _union(parent, r["child"], r["parent"])
    return {x: _find(parent, x) for x in parent}


def _find(parent: dict, x):
    r = x
    while parent[r] != r:
        r = parent[r]
    while parent[x] != r:            # path compression
        parent[x], x = r, parent[x]
    return r


def _union(parent: dict, a, b) -> None:
    """Union by value: the smaller id is always the surviving root."""
    parent.setdefault(a, a)
    parent.setdefault(b, b)
    ra, rb = _find(parent, a), _find(parent, b)
    if ra != rb:
        parent[max(ra, rb)] = min(ra, rb)


def _state(spark: SparkSession, path: str, fresh: bool = False):
    """``(members, merge_map)``: the members table (None when the store
    does not exist yet) and the driver-side merge-log closure, memoized
    on the ``members/`` and ``merges/`` listings of one walk of
    ``path``. ``fresh`` is the updater's read: always taken (a batch
    never runs off an earlier batch's read) and with members eagerly
    localCheckpointed — the members APPEND must never recompute through
    the members path (the r4 recache lesson). A reader's miss keeps the
    plain lazy scan."""
    t, mp = storage.tree(spark, path), _members_path(path)
    key = ("compstore", path, storage.listing(t))

    def build():
        members = None
        if mp in t.dirs:
            members = storage.read_parquet(spark, mp)
            if fresh:
                members = members.localCheckpoint(eager=True)
        return members, _merge_map(spark, t)

    return memo.put(spark, key, build()) if fresh \
        else memo.get(spark, key, build)


def read_components(spark: SparkSession, path: str) -> DataFrame:
    """Current ``(id, component)`` labels: members with the merge-log
    closure applied as ONE broadcast join — the log is merge-event-sized
    (compaction keeps it small), the members scan is the only
    corpus-sized input, and no shuffle is needed. Both inputs come from
    the memoized store state (module docstring): after an update that
    appended nothing, this runs no job."""
    members, mm = _state(spark, path)
    if members is None:
        # raise the missing-store error a plain read raises
        members = storage.read_parquet(spark, _members_path(path))
    remap = [(c, r) for c, r in mm.items() if c != r]
    if not remap:
        return members.select("id", F.col("comp").alias("component"))
    remap_df = F.broadcast(local_frame(spark, remap, "comp long, _root long"))
    return (members.join(remap_df, "comp", "left")
            .select("id", F.coalesce("_root", "comp").alias("component")))


def update_component_store(spark: SparkSession, ids: DataFrame,
                           pairs: DataFrame, path: str,
                           id_col: str = "doc_id") -> int:
    """Register a batch and fold its near-dup pairs into the store.

    ``ids``: this batch's corpus ids (singletons welcome — every id gets
    a member row). ``pairs``: near-dup edges ``(a_id, b_id)`` whose
    endpoints are all in ``ids`` or already registered (typically the
    output of ``sigstore.lsh_pairs_against_store`` /
    ``ahash_pairs_against_store`` for this batch) — an endpoint known to
    neither RAISES: silently inventing a member row for it would let a
    pair-generator bug corrupt the store. Idempotent per id and per
    merge: a checkpoint-retried batch registers nothing new and derives
    no new merges. Returns the number of newly registered ids.

    The store state is read afresh (one members checkpoint, one
    merge-log collect) and memoized, so a following
    :func:`read_components` reuses it when this call appended nothing.
    """
    # try_cast, not cast: under ANSI mode a malformed id would abort the
    # checkpoint with an opaque JVM NumberFormatException mid-plan; under
    # legacy mode it would silently become NULL and surface later as a
    # misleading "endpoint not registered" error. try_cast makes the
    # failure observable as NULL, and the explicit check below raises it
    # as the type error it is, naming the columns.
    ids = ids.select(F.col(id_col).try_cast("long").alias("id")) \
        .distinct().localCheckpoint(eager=True)
    # materialize the caller's pairs plan ONCE: two separate actions
    # consume it (the unknown-endpoint audit and the adjacency collect),
    # and in the streaming loops that plan is the banded store join —
    # the batch's most expensive step
    pr = pairs.select(F.col("a_id").try_cast("long").alias("a"),
                      F.col("b_id").try_cast("long").alias("b")).distinct() \
        .localCheckpoint(eager=True)

    members, mm = _state(spark, path, fresh=True)
    new_ids = ids.join(members.select("id"), "id", "left_anti") \
        if members is not None else ids

    # ONE job serves all three preamble counts (r11: three sequential
    # driver-blocking jobs — two malformed-id audits + the new-id
    # count). All inputs are checkpointed, so the aggregates cost no
    # recompute of the caller's plans; the member-row write below pays
    # one cheap re-run of the anti-join over checkpointed inputs. NOTE
    # the audited frames are post-distinct, so NULL keys COLLAPSE before
    # counting — the message reports which inputs carry nulls, not how
    # many input rows were malformed (r7 ADVICE: the old "N id rows / M
    # pair rows" phrasing claimed row counts the distinct frames cannot
    # provide).
    cnt = {r["k"]: r["n"] for r in (
        ids.agg(F.count(F.when(F.col("id").isNull(), 1)).alias("n"))
           .select(F.lit("bad_ids").alias("k"), "n")
        .unionByName(
            pr.agg(F.count(F.when(F.col("a").isNull()
                                  | F.col("b").isNull(), 1)).alias("n"))
              .select(F.lit("bad_pr").alias("k"), "n"))
        .unionByName(
            new_ids.agg(F.count(F.lit(1)).alias("n"))
                   .select(F.lit("new").alias("k"), "n"))
        .collect())}
    bad_ids, bad_pr, n_new = cnt["bad_ids"], cnt["bad_pr"], cnt["new"]
    if bad_ids or bad_pr:
        where = [w for w, bad in ((id_col, bad_ids), ("a_id/b_id", bad_pr))
                 if bad]
        raise TypeError(
            f"update_component_store: ids in {' and '.join(where)} are "
            "NULL after cast to long (distinct null keys present; "
            "original row counts not preserved) — non-numeric or "
            "missing ids; the store keys members by integer id (use "
            "integer doc ids, or map string ids through a dictionary "
            "first)")
    # checkpoint only a NON-EMPTY new-id frame (the r11 sigstore
    # pattern): a retried / warm batch registers nothing, and its eager
    # checkpoint of the empty anti-join was a blocking job for nothing
    if n_new:
        new_ids = new_ids.localCheckpoint(eager=True)

    # endpoint → current component label (stale ok — resolved through
    # the merge map driver-side below): member label for registered ids,
    # own id for this batch's NEW ids; an endpoint matching neither is
    # unknown and raises. The labeling join and the unknown-endpoint
    # audit share ONE collect (r11: the audit was its own
    # union+distinct+anti-join job before the adjacency job) — a NULL
    # label after the left joins IS the unknown marker.
    newlab = new_ids.select("id", F.col("id").alias("comp"))
    lab = members.unionByName(newlab) if members is not None else newlab
    la = lab.select(F.col("id").alias("a"), F.col("comp").alias("_ca"))
    lb = lab.select(F.col("id").alias("b"), F.col("comp").alias("_cb"))
    adj = (pr.join(la, "a", "left").join(lb, "b", "left")
           .where(F.col("_ca").isNull() | F.col("_cb").isNull()
                  | (F.col("_ca") != F.col("_cb")))
           .select(F.col("_ca").alias("ca"), F.col("_cb").alias("cb"),
                   F.when(F.col("_ca").isNull(), F.col("a")).alias("ua"),
                   F.when(F.col("_cb").isNull(), F.col("b")).alias("ub"))
           .distinct()
           .collect())     # distinct component adjacencies — batch-sized
    unknown = sorted({r["ua"] for r in adj if r["ua"] is not None}
                     | {r["ub"] for r in adj if r["ub"] is not None})
    if unknown:
        raise ValueError(
            f"update_component_store: {len(unknown)} pair endpoint(s) "
            f"are neither registered nor in this batch "
            f"(e.g. {unknown[:5]}) — pairs must come from the "
            "registered corpus + this batch")

    # driver union-find over CURRENT roots (merge map applied first)
    parent: dict = {}
    for r in adj:
        _union(parent, mm.get(r["ca"], r["ca"]), mm.get(r["cb"], r["cb"]))
    group_root = {x: _find(parent, x) for x in parent}

    # merge events: every EXISTING root that lost. New ids' labels are
    # written already-resolved, so they never need a merge row — and
    # which losers are "existing" is checked with one adjacency-sized
    # semi-join, not a driver collect of the whole batch.
    losers = [x for x, root in group_root.items() if x != root]
    if losers and members is not None:
        losers_df = local_frame(spark, [(x,) for x in losers], "child long")
        existing = {r["child"] for r in
                    losers_df.join(members.select(F.col("id")
                                                  .alias("child")),
                                   "child", "left_semi").collect()}
        merges = [(x, group_root[x]) for x in losers if x in existing]
        if merges:
            (local_frame(spark, merges, "child long, parent long")
             .coalesce(1).write.mode("append")
             .parquet(_merges_path(path)))

    # member rows for new ids, labeled with their FINAL root
    if n_new:
        bmap = [(x, r) for x, r in group_root.items() if x != r]
        if bmap:
            remap = F.broadcast(local_frame(spark, bmap,
                                            "id long, _root long"))
            rows = (new_ids.join(remap, "id", "left")
                    .select("id", F.coalesce("_root", "id").alias("comp")))
        else:
            rows = new_ids.select("id", F.col("id").alias("comp"))
        rows.write.mode("append").parquet(_members_path(path))
    return n_new


def compact_component_store(spark: SparkSession, path: str,
                            out_path: str) -> int:
    """OPTIMIZE pass: write a fully-resolved copy of the store at
    ``out_path`` (fresh directory — refuses non-empty, the
    ``apply_compaction`` contract) with an EMPTY merge log, bounding
    future resolution maps. Returns the number of member rows written.
    The source store is untouched (swap directories at the catalog
    level, the standard metadata flip)."""
    t = storage.tree(spark, out_path)
    if t.dirs or t.files:
        raise ValueError(
            f"compact_component_store: out_path {out_path} is not empty "
            "— mixing two compactions' members is unreadable; use a "
            "fresh directory")
    resolved = read_components(spark, path) \
        .select("id", F.col("component").alias("comp"))
    resolved.write.mode("overwrite").parquet(_members_path(out_path))
    return storage.read_parquet(spark, _members_path(out_path)).count()
