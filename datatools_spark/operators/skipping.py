"""File-level data-skipping manifest (engine add; no reference
analogue — the reference globs whole CSV directories into pandas,
campaigns fit in RAM. A 100 TB lake does not).

What Delta/Iceberg file statistics give `OPTIMIZE`-ed tables, as plain
DataFrames over any parquet directory: a MANIFEST with one row per
file (count + min/max per indexed column) lets a reader drop whole
files before the scan starts. Partition pruning handles the
partitioned dimensions and parquet row-group stats handle within-file
skips — but row-group pruning still opens every footer. At 100 TB /
O(10^5) files, the manifest turns file selection into O(files)
metadata work with zero data IO, and composes with the Z-order layout
(partitioning.py): cluster by `morton_key` at write time and every
file's min/max box is tight in BOTH predicate dimensions, so this
manifest prunes on either.

Scale shape: building the manifest is one map-side-combinable
groupBy(input_file_name) — the exchange carries one row per file, not
per record. The manifest itself is metadata (rows = files), so
collecting the surviving file list onto the driver is the legitimate
kind of collect: it feeds the reader's path list, exactly like a
catalog's partition listing. Incremental maintenance stats only files
the manifest hasn't seen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from . import storage

__all__ = ["build_file_stats", "update_file_stats", "prune_files",
           "skipping_read", "plan_compaction", "apply_compaction",
           "refresh_manifest_after_compaction"]


def build_file_stats(spark: SparkSession, path: str,
                     cols: list[str]) -> DataFrame:
    """Manifest ``file, n_rows, <c>_min, <c>_max ...`` for every parquet
    file under ``path``. One pass over the data (the same cost contract
    as ``ANALYZE`` / Delta stats collection); thereafter reads pay only
    metadata. Columns with no non-null values in a file yield null
    min/max — :func:`prune_files` drops such files for range predicates
    on that column (a range predicate cannot match null)."""
    return _stats_from(storage.read_parquet(spark, path), cols)


def _stats_from(df: DataFrame, cols: list[str]) -> DataFrame:
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
    return df.groupBy(F.input_file_name().alias("file")).agg(*aggs)


def update_file_stats(spark: SparkSession, path: str, cols: list[str],
                      manifest: DataFrame) -> DataFrame:
    """Fold files NOT yet in ``manifest`` into it (append-only lakes:
    new files arrive, old files are immutable). Only the new files are
    scanned — they are read BY PATH, not as a whole-table scan filtered
    on input_file_name (Spark cannot prune files from a predicate on
    input_file_name, so the old shape paid a full O(table) data pass
    per refresh, defeating the function at the 1e5-file scale this
    module targets); the union is the refreshed manifest."""
    listed = set(storage.read_parquet(spark, path).inputFiles())
    known = {r["file"] for r in manifest.select("file").collect()}
    new = sorted(listed - known)
    if not new:
        return manifest
    # hive-partitioned tables: the new files are leaf paths, and a
    # by-path read without basePath drops the partition-directory
    # columns — stats on a partition column would then throw
    # UNRESOLVED_COLUMN here while working in build_file_stats (which
    # reads the table root). basePath restores them; it is a no-op for
    # flat layouts.
    fresh = _stats_from(
        storage.read_parquet(spark, *new, base_path=path), cols)
    return manifest.unionByName(fresh)


def _infer_base_path(files: list[str]) -> str | None:
    """Table root for a by-path read over a hive layout: the files'
    common directory prefix, with any trailing hive ``name=value``
    segments stripped (all survivors in one partition must not pin
    basePath INSIDE it — the partition column would still be dropped).

    Returns None — read WITHOUT basePath, the pre-existing behavior —
    unless every file sits under the base through PURE name=value
    segments: a mixed manifest (e.g. originals + ``cg=`` compaction
    dirs under different roots) would otherwise trip Spark's
    CONFLICTING_DIRECTORY_STRUCTURES partition discovery."""
    import posixpath
    import re
    hive = re.compile(r"[^/=]+=[^/]*")
    dirs = {posixpath.dirname(f) for f in files}
    parts = [d.split("/") for d in dirs]
    common: list[str] = []
    for segs in zip(*parts):
        if len(set(segs)) != 1:
            break
        common.append(segs[0])
    while common and hive.fullmatch(common[-1]):
        common.pop()
    if not common:
        return None
    rel = [p[len(common):] for p in parts]
    if not all(r for r in rel):
        # flat layout (all at the base: basePath is a no-op) or mixed
        # depth (some at the base, some under partition dirs: setting
        # basePath would trip partition discovery on the uneven tree)
        return None
    if len({len(r) for r in rel}) != 1:
        # pure hive segments but at DIFFERENT depths (/t/a=1/f1 next to
        # /t/a=1/b=2/f2): partition discovery under a basePath requires
        # a uniform tree and would throw CONFLICTING_DIRECTORY_
        # STRUCTURES — fall back to the no-basePath read (succeeds,
        # just without partition columns), the pre-r10 behavior
        return None
    if all(all(hive.fullmatch(seg) for seg in r) for r in rel):
        return "/".join(common)
    return None


def prune_files(manifest: DataFrame, ranges: dict[str, tuple]) -> list[str]:
    """Files whose [min, max] box intersects EVERY ``col: (lo, hi)``
    range (closed intervals; pass None for an open side). The manifest
    is metadata-sized — the returned path list feeds the reader."""
    keep = manifest
    for c, (lo, hi) in ranges.items():
        if lo is None and hi is None:
            # no predicate on c at all — an all-null-stats file imposes
            # nothing and must SURVIVE (dropping it silently lost its
            # rows from skipping_read, breaking the never-false-
            # negatives contract)
            continue
        if hi is not None:
            keep = keep.where(F.col(f"{c}_min") <= F.lit(hi))
        if lo is not None:
            keep = keep.where(F.col(f"{c}_max") >= F.lit(lo))
        # null min/max ⇒ file has no non-null values for c ⇒ cannot match
        keep = keep.where(F.col(f"{c}_min").isNotNull())
    return sorted(r["file"] for r in keep.select("file").collect())


def skipping_read(spark: SparkSession, manifest: DataFrame,
                  ranges: dict[str, tuple]) -> DataFrame:
    """Manifest-pruned read + the residual predicate (file-level stats
    admit false positives, never false negatives — the residual filter
    still pushes down to row-group pruning inside surviving files).
    Returns an empty frame with the manifest-known schema when nothing
    survives."""
    files = prune_files(manifest, ranges)
    if not files:
        any_file = [r["file"] for r in manifest.select("file").limit(1)
                    .collect()]
        if not any_file:
            raise ValueError(
                "skipping_read: the manifest lists no files at all — "
                "the table's schema is unknowable from an empty "
                "manifest; build_file_stats the table first")
        return storage.read_parquet(
            spark, *any_file, base_path=_infer_base_path(any_file)) \
            .where(F.lit(False))
    # hive layouts: a leaf-path read without basePath drops the
    # partition-directory columns, so a residual predicate on a
    # partition column would throw UNRESOLVED_COLUMN
    df = storage.read_parquet(spark, *files,
                              base_path=_infer_base_path(files))
    for c, (lo, hi) in ranges.items():
        if lo is not None:
            df = df.where(F.col(c) >= F.lit(lo))
        if hi is not None:
            df = df.where(F.col(c) <= F.lit(hi))
    return df


def plan_compaction(manifest: DataFrame,
                    target_rows: int = 1_000_000) -> DataFrame:
    """Small-file compaction plan from the manifest — the maintenance
    pass behind Delta/Iceberg ``OPTIMIZE``: thousands of tiny files
    (streaming ingest, over-parallel writes) cost a task + footer read
    each; packing them toward ``target_rows`` restores scan efficiency
    and keeps the skipping manifest short.

    TRUE next-fit, planned driver-side over the metadata-sized manifest
    (one row per file — the same legitimate collect as
    :func:`prune_files`' path list; an interval-arithmetic window
    formulation was tried first and quietly left every just-under-
    target file in its own singleton bin): files SMALLER than the
    target, in file-name order, fill the current bin until it reaches
    ``target_rows``, then the bin closes — so every small-file bin
    except possibly the last holds ≥ target rows. Files already
    at/over target keep a singleton group (rewriting them buys
    nothing). Output: ``file, n_rows, group_id, group_rows, n_files``;
    ``n_files > 1`` rows are the rewrite candidates.
    """
    rows = sorted((r["file"], int(r["n_rows"]))
                  for r in manifest.select("file", "n_rows").collect())
    plans, gid, fill = [], 0, 0
    smalls = [(f, n) for f, n in rows if n < target_rows]
    for f, n in smalls:
        plans.append((f, n, gid))
        fill += n
        if fill >= target_rows:        # bin closes ON crossing
            gid, fill = gid + 1, 0
    if fill:
        gid += 1
    for f, n in rows:
        if n >= target_rows:
            plans.append((f, n, gid))
            gid += 1
    spark = manifest.sparkSession
    out = local_frame(spark, plans, "file string, n_rows long, group_id long")
    from pyspark.sql import Window
    g = Window.partitionBy("group_id")
    return (out.withColumn("group_rows",
                           F.sum("n_rows").over(g).cast("long"))
            .withColumn("n_files", F.count("*").over(g)))


def apply_compaction(spark: SparkSession, plan: DataFrame,
                     out_path: str, base_path: str | None = None) -> int:
    """Execute a :func:`plan_compaction` plan: every MULTI-file group is
    rewritten as one parquet file under ``out_path/cg=<id>``; singleton
    groups (at/over-target files, and any lone small file) are LEFT IN
    PLACE — a maintenance pass must cost O(small files), not a full
    table rewrite. Returns the number of groups rewritten.

    ``out_path`` must be EMPTY (or absent): group ids are positional in
    the plan, so a re-run after the file set changed would assign the
    same ``cg=<id>`` names to different groups — ``overwrite`` would
    replace some directories and leave the rest stale, and a reader of
    ``out_path`` would silently see duplicated/stale rows. Refusing is
    the only safe contract (same rule as Delta's ``OPTIMIZE`` writing
    fresh files): point each run at a fresh directory.

    The rewritten source paths are recorded at
    ``out_path/_replaced`` (underscore-prefixed — invisible to parquet
    directory readers, like ``_delta_log``), so the compacted table is
    assembled WITHOUT trusting the caller to remember the plan:
    originals − replaced ∪ ``out_path``;
    :func:`refresh_manifest_after_compaction` folds exactly that into a
    skipping manifest. Per-group reads list exact file paths — no
    directory-glob rescan — and the ``coalesce(1)`` single task is
    bounded: multi-file groups are < target + one file's rows by the
    next-fit construction."""
    fs, jpath = storage.fs(spark, out_path)
    if fs.exists(jpath) and len(fs.listStatus(jpath)) > 0:
        raise ValueError(
            f"apply_compaction: out_path {out_path} is not empty — group "
            "ids are plan-positional, so mixing runs leaves stale cg= "
            "directories a reader cannot distinguish from live ones; "
            "write each compaction to a fresh directory")
    groups = (plan.where(F.col("n_files") > 1)
              .groupBy("group_id")
              .agg(F.collect_list("file").alias("files"))
              .collect())
    # hive-partitioned tables: reading LEAF files without basePath
    # silently DROPS the partition-directory column values from the
    # compacted output (they live in the path, not the bytes). With
    # base_path the partition columns materialize as data columns in
    # the cg= files; without it, refuse hive-shaped paths loudly.
    if base_path is None:
        import re
        if any(re.search(r"/[^/=]+=[^/]*/", f)
               for row in groups for f in row["files"]):
            raise ValueError(
                "apply_compaction: plan files live under hive "
                "partition directories (name=value path segments); "
                "reading leaf files without a basePath drops the "
                "partition columns from the compacted output — pass "
                "base_path=<table root>")
    for row in sorted(groups, key=lambda r: r["group_id"]):
        (storage.read_parquet(spark, *row["files"], base_path=base_path)
         .coalesce(1)
         .write.mode("overwrite")
         .parquet(f"{out_path}/cg={row['group_id']}"))
    replaced = [(f, int(row["group_id"]))
                for row in groups for f in row["files"]]
    if replaced:
        (local_frame(spark, replaced, "file string, group_id long")
         .coalesce(1).write.mode("overwrite")
         .parquet(f"{out_path}/_replaced"))
    return len(groups)


def refresh_manifest_after_compaction(spark: SparkSession,
                                      manifest: DataFrame, out_path: str,
                                      cols: list[str]) -> DataFrame:
    """Skipping manifest for the COMPACTED table: drop the rows for
    source files :func:`apply_compaction` rewrote (read from the
    ``out_path/_replaced`` record it emitted) and append fresh stats for
    the ``cg=`` files — one stats pass over the compacted bytes only.
    ``prune_files`` / ``skipping_read`` over the result read the
    compacted table with no duplicated and no stale rows."""
    if not storage.exists(spark, f"{out_path}/_replaced"):
        return manifest   # nothing was rewritten (all-singleton plan)
    replaced = storage.read_parquet(spark, f"{out_path}/_replaced") \
        .select("file")
    kept = manifest.join(replaced, "file", "left_anti")
    fresh = build_file_stats(spark, out_path, cols)
    return kept.unionByName(fresh)
