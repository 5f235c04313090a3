"""File-level data-skipping manifest: pruning must never lose rows
(equality vs full-scan filter), must actually skip files on a
range-clustered layout, and incremental maintenance must equal a full
rebuild."""

import pytest
from pyspark.sql import functions as F

from datatools_spark.operators.skipping import (
    build_file_stats, prune_files, skipping_read, update_file_stats,
)


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    """16 files range-clustered by v (repartitionByRange + sort), so
    each file owns a compact v interval — the layout skipping exists
    to exploit."""
    base = str(tmp_path_factory.mktemp("lake") / "t")
    df = (spark.range(0, 20_000)
          .select(F.col("id"),
                  (F.col("id") % 9973).alias("v"),
                  (F.col("id") % 7).alias("k")))
    (df.repartitionByRange(16, "v").sortWithinPartitions("v")
       .write.mode("overwrite").parquet(base))
    return base


def test_skipping_read_equals_full_filter(spark, lake):
    man = build_file_stats(spark, lake, ["v"]).cache()
    got = skipping_read(spark, man, {"v": (100, 400)})
    want = spark.read.parquet(lake).where(F.col("v").between(100, 400))
    assert sorted(r["id"] for r in got.collect()) == \
        sorted(r["id"] for r in want.collect())


def test_narrow_range_skips_most_files(spark, lake):
    man = build_file_stats(spark, lake, ["v"]).cache()
    all_files = man.count()
    assert all_files == 16
    kept = prune_files(man, {"v": (100, 400)})
    assert 0 < len(kept) < all_files / 2
    # the read plan really touches only the surviving files
    got = skipping_read(spark, man, {"v": (100, 400)})
    assert set(got.inputFiles()) <= set(kept)


def test_open_sides_and_multi_column(spark, lake):
    man = build_file_stats(spark, lake, ["v", "k"]).cache()
    got = skipping_read(spark, man, {"v": (9000, None), "k": (None, 3)})
    want = (spark.read.parquet(lake)
            .where((F.col("v") >= 9000) & (F.col("k") <= 3)))
    assert got.count() == want.count() > 0


def test_empty_survivor_set_returns_empty(spark, lake):
    man = build_file_stats(spark, lake, ["v"])
    got = skipping_read(spark, man, {"v": (10**9, 2 * 10**9)})
    assert got.count() == 0
    assert "v" in got.columns


def test_incremental_update_equals_rebuild(spark, tmp_path):
    base = str(tmp_path / "t")
    d1 = spark.range(0, 1000).select(F.col("id"), (F.col("id") * 2).alias("v"))
    d1.coalesce(2).write.mode("overwrite").parquet(base)
    man1 = build_file_stats(spark, base, ["v"])
    n1 = man1.count()
    d2 = (spark.range(1000, 1500)
          .select(F.col("id"), (F.col("id") * 2).alias("v")))
    d2.coalesce(1).write.mode("append").parquet(base)
    man2 = update_file_stats(spark, base, ["v"], man1)
    full = build_file_stats(spark, base, ["v"])
    assert man2.count() == full.count() > n1
    key = lambda r: (r["file"], r["n_rows"], r["v_min"], r["v_max"])  # noqa: E731
    assert sorted(map(key, man2.collect())) == \
        sorted(map(key, full.collect()))
    # idempotent when nothing new arrived
    assert update_file_stats(spark, base, ["v"], man2) is man2


def test_manifest_build_is_one_combinable_agg(spark, lake):
    # cols=["k"]: a column set no other test cache()s, so the cache
    # lookup can't swap the agg for an InMemoryTableScan
    man = build_file_stats(spark, lake, ["k"])
    plan = man._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") == 2  # partial + final
    assert "Join" not in plan


def test_plan_compaction_next_fit_and_targets(spark, tmp_path):
    from datatools_spark.operators.skipping import (
        build_file_stats, plan_compaction)
    src = str(tmp_path / "frag")
    # 10 tiny files of 100 rows + 1 big file of 5000
    for i in range(10):
        spark.range(i * 100, i * 100 + 100).coalesce(1) \
            .write.mode("append").parquet(src)
    spark.range(10_000, 15_000).coalesce(1) \
        .write.mode("append").parquet(src)
    man = build_file_stats(spark, src, ["id"])
    plan = plan_compaction(man, target_rows=350)
    rows = plan.collect()
    assert len(rows) == 11
    by_group = {}
    for r in rows:
        by_group.setdefault(r["group_id"], []).append(r)
    # the big file sits alone; the smalls pack toward >= target
    big_groups = [g for g, m in by_group.items()
                  if any(r["n_rows"] == 5000 for r in m)]
    assert len(big_groups) == 1 and len(by_group[big_groups[0]]) == 1
    small_groups = [m for g, m in by_group.items() if g not in big_groups]
    assert len(small_groups) == 3          # 1000 rows / 350 next-fit
    for m in small_groups:
        assert m[0]["group_rows"] == sum(r["n_rows"] for r in m)
    # next-fit invariant: every group except possibly the last crosses
    # the target once it takes its final member
    sizes = sorted((m[0]["group_rows"] for m in small_groups), reverse=True)
    assert sizes[0] >= 350


def test_apply_compaction_preserves_rows_and_reduces_files(spark, tmp_path):
    from datatools_spark.operators.skipping import (
        apply_compaction, build_file_stats, plan_compaction)
    src = str(tmp_path / "frag2")
    for i in range(8):
        spark.range(i * 50, i * 50 + 50).coalesce(1) \
            .write.mode("append").parquet(src)
    man = build_file_stats(spark, src, ["id"])
    plan = plan_compaction(man, target_rows=200)
    out = str(tmp_path / "compact")
    n_groups = apply_compaction(spark, plan, out)
    before = spark.read.parquet(src)
    after = spark.read.parquet(out)
    assert sorted(r["id"] for r in after.collect()) \
        == sorted(r["id"] for r in before.collect())
    assert len(after.inputFiles()) == n_groups < len(before.inputFiles())


def test_plan_compaction_near_target_files_still_pack(spark, tmp_path):
    # regression: interval-arithmetic grouping left every just-under-
    # target file in its own singleton bin; true next-fit must pack them
    from datatools_spark.operators.skipping import (
        build_file_stats, plan_compaction)
    src = str(tmp_path / "near")
    for i in range(6):
        spark.range(i * 349, (i + 1) * 349).coalesce(1) \
            .write.mode("append").parquet(src)
    plan = plan_compaction(build_file_stats(spark, src, ["id"]),
                           target_rows=350)
    multi = plan.where("n_files > 1")
    assert multi.count() == 6        # every file lands in a 2-file bin
    assert plan.where("n_files = 1").count() == 0


def test_apply_compaction_refuses_nonempty_out_path(spark, tmp_path):
    """Group ids are plan-positional: a re-run after the file set changed
    would mix this plan's cg= dirs with stale ones from the previous
    plan, and a reader would silently see duplicated/stale rows — the
    executor must refuse a non-empty out_path."""
    import pytest
    from datatools_spark.operators.skipping import (
        apply_compaction, build_file_stats, plan_compaction)
    src = str(tmp_path / "frag3")
    for i in range(4):
        spark.range(i * 50, i * 50 + 50).coalesce(1) \
            .write.mode("append").parquet(src)
    plan = plan_compaction(build_file_stats(spark, src, ["id"]),
                           target_rows=200)
    out = str(tmp_path / "compact3")
    assert apply_compaction(spark, plan, out) >= 1
    with pytest.raises(ValueError, match="not empty"):
        apply_compaction(spark, plan, out)


def test_refresh_manifest_after_compaction_reads_clean(spark, tmp_path):
    """The compacted table must be assemblable WITHOUT the caller
    remembering the plan: apply_compaction records the rewritten source
    paths at out_path/_replaced, and the refreshed manifest (originals
    minus replaced, plus stats over the cg= files) reads every row
    exactly once through skipping_read."""
    from datatools_spark.operators.skipping import (
        apply_compaction, build_file_stats, plan_compaction,
        refresh_manifest_after_compaction, skipping_read)
    src = str(tmp_path / "frag4")
    # 6 tiny files (will compact) + 1 big file (left in place)
    for i in range(6):
        spark.range(i * 50, i * 50 + 50).coalesce(1) \
            .write.mode("append").parquet(src)
    spark.range(1000, 2000).coalesce(1).write.mode("append").parquet(src)
    man = build_file_stats(spark, src, ["id"])
    plan = plan_compaction(man, target_rows=120)
    out = str(tmp_path / "compact4")
    apply_compaction(spark, plan, out)
    man2 = refresh_manifest_after_compaction(spark, man, out, ["id"])
    got = sorted(r["id"] for r in
                 skipping_read(spark, man2, {"id": (None, None)}).collect())
    want = sorted(list(range(0, 300)) + list(range(1000, 2000)))
    assert got == want                     # no dup, no loss
    # the untouched big file is read from its ORIGINAL path
    files = {r["file"] for r in man2.select("file").collect()}
    assert any("frag4" in f for f in files)
    assert any("/cg=" in f for f in files)


def test_prune_files_open_open_range_keeps_all_null_stats_files(spark, tmp_path):
    """ranges={'c': (None, None)} imposes no predicate: a file whose c
    is entirely null must SURVIVE (its rows are valid data for other
    columns) — dropping it broke never-false-negatives."""
    from datatools_spark.operators.skipping import (build_file_stats,
                                                    prune_files)
    p = str(tmp_path / "lake")
    spark.createDataFrame([(1, 10.0)], "id long, c double") \
        .coalesce(1).write.parquet(p)
    spark.createDataFrame([(2, None)], "id long, c double") \
        .coalesce(1).write.mode("append").parquet(p)
    m = build_file_stats(spark, p, ["c"])
    assert len(prune_files(m, {"c": (None, None)})) == 2
    assert len(prune_files(m, {"c": (5.0, None)})) == 1  # real predicate


def test_update_file_stats_scans_only_new_files(spark, tmp_path):
    from datatools_spark.operators.skipping import (build_file_stats,
                                                    update_file_stats)
    p = str(tmp_path / "lake2")
    spark.range(10).coalesce(1).write.parquet(p)
    m = build_file_stats(spark, p, ["id"]).localCheckpoint()
    spark.range(10, 30).coalesce(1).write.mode("append").parquet(p)
    m2 = update_file_stats(spark, p, ["id"], m)
    rows = {r["file"]: r["n_rows"] for r in m2.collect()}
    assert sorted(rows.values()) == [10, 20]


def test_apply_compaction_refuses_hive_leaf_files_without_base_path(
        spark, tmp_path):
    """Reading hive-partitioned leaf files without basePath drops the
    partition column values from the compacted output — the call must
    refuse, and succeed with base_path preserving the column."""
    import pytest as _pytest
    from datatools_spark.operators.skipping import (apply_compaction,
                                                    build_file_stats,
                                                    plan_compaction)
    root = str(tmp_path / "ptable")
    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b", float(i)) for i in range(20)],
        "id long, station string, v double")
    df.repartition(4).write.partitionBy("station").parquet(root)
    m = build_file_stats(spark, root, ["id"])
    plan = plan_compaction(m, target_rows=50)
    with _pytest.raises(ValueError, match="basePath"):
        apply_compaction(spark, plan, str(tmp_path / "cg_out"))
    n = apply_compaction(spark, plan, str(tmp_path / "cg_out2"),
                         base_path=root)
    assert n >= 1
    out = spark.read.parquet(str(tmp_path / "cg_out2"))
    assert "station" in out.columns
    assert out.where(F.col("station").isNull()).count() == 0


def test_update_file_stats_hive_partitioned(spark, tmp_path):
    """New files in a hive-partitioned lake live under name=value leaf
    dirs; reading them by path WITHOUT basePath drops the partition
    column, so stats on it threw UNRESOLVED_COLUMN while working fine
    in build_file_stats (whole-table read)."""
    base = str(tmp_path / "hive")
    d1 = spark.range(0, 600).select(
        F.col("id"), (F.col("id") % 3).alias("p"),
        (F.col("id") * 2).alias("v"))
    d1.write.mode("overwrite").partitionBy("p").parquet(base)
    man1 = build_file_stats(spark, base, ["p", "v"])
    d2 = spark.range(600, 900).select(
        F.col("id"), (F.col("id") % 3).alias("p"),
        (F.col("id") * 2).alias("v"))
    d2.write.mode("append").partitionBy("p").parquet(base)
    man2 = update_file_stats(spark, base, ["p", "v"], man1)
    full = build_file_stats(spark, base, ["p", "v"])
    key = lambda r: (r["file"], r["n_rows"], r["p_min"], r["p_max"],
                     r["v_min"], r["v_max"])  # noqa: E731
    assert sorted(map(key, man2.collect())) == \
        sorted(map(key, full.collect()))
    # pruning on the partition column still works through the refresh
    kept = prune_files(man2, {"p": (2, 2)})
    got = skipping_read(spark, man2, {"p": (2, 2)})
    assert set(got.inputFiles()) <= set(kept)
    assert got.count() == 300  # ids ≡ 2 (mod 3) in [0, 900)


def test_manifest_reads_take_the_schema_from_a_footer(spark, tmp_path):
    """On a flat table the by-path reads of ``skipping_read`` (with and
    without survivors) and ``update_file_stats`` run no schema-inference
    job: each build runs only its manifest collects (two for a read
    with no survivor, which also picks a file for the schema)."""
    from .conftest import count_jobs
    base = str(tmp_path / "flat")
    spark.range(0, 400).select(F.col("id"), (F.col("id") * 2).alias("v")) \
        .repartitionByRange(4, "v").write.parquet(base)
    man = build_file_stats(spark, base, ["v"]).localCheckpoint(eager=True)
    jobs = {}
    for name, ranges in (("hit", {"v": (0, 10)}), ("miss", {"v": (-9, -1)})):
        _, jobs[name] = count_jobs(
            spark, lambda r=ranges: skipping_read(spark, man, r))
    spark.range(400, 500).select(F.col("id"), (F.col("id") * 2).alias("v")) \
        .coalesce(1).write.mode("append").parquet(base)
    _, jobs["update"] = count_jobs(
        spark, lambda: update_file_stats(spark, base, ["v"], man))
    assert jobs == {"hit": 1, "miss": 2, "update": 1}


def test_infer_base_path_rules():
    from datatools_spark.operators.skipping import _infer_base_path
    # pure hive tree -> table root
    assert _infer_base_path([
        "file:/t/p=0/a.parquet", "file:/t/p=1/b.parquet"]) == "file:/t"
    # single partition: trailing name=value stripped off the common dir
    assert _infer_base_path([
        "file:/t/p=2/a.parquet", "file:/t/p=2/b.parquet"]) == "file:/t"
    # multi-level partitions
    assert _infer_base_path([
        "file:/t/p=0/q=x/a.parquet",
        "file:/t/p=1/q=y/b.parquet"]) == "file:/t"
    # flat layout: no-op
    assert _infer_base_path([
        "file:/t/a.parquet", "file:/t/b.parquet"]) is None
    # mixed roots (originals + cg= compaction dirs): refuse
    assert _infer_base_path([
        "file:/x/frag/a.parquet", "file:/x/out/cg=0/b.parquet"]) is None
    # mixed depth under one root: refuse
    assert _infer_base_path([
        "file:/t/a.parquet", "file:/t/p=0/b.parquet"]) is None
    # non-hive subdirs: refuse
    assert _infer_base_path([
        "file:/t/sub1/a.parquet", "file:/t/sub2/b.parquet"]) is None
    # pure hive segments at DIFFERENT depths (none at the base): refuse
    # — partition discovery needs a uniform tree (r10 ADVICE low)
    assert _infer_base_path([
        "file:/t/a=1/f1.parquet", "file:/t/a=1/b=2/f2.parquet"]) is None
    assert _infer_base_path([
        "file:/t/a=1/f1.parquet", "file:/t/a=2/b=2/c=3/f2.parquet"]) is None
