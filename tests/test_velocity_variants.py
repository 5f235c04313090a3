"""Cross-check of the two velocity-kernel physical plans (SURVEY §7 step 4:
'implement both physical variants behind one API and cross-check')."""

import datetime as dt
import math

import pytest

from datatools_spark.operators.velocity import (
    calc_velocity, calc_velocity_range_join,
)

from .conftest import count_jobs


def _series(spark, n=6 * 96):
    t0 = dt.datetime(2024, 1, 1)
    rows = [(t0 + dt.timedelta(minutes=15 * i),
             math.sin(2 * math.pi * i / 96.0) * 2 + i * 0.01) for i in range(n)]
    return spark.createDataFrame(rows, "ts timestamp, value double")


def test_variants_agree_on_reference_parameterization(spark):
    df = _series(spark)
    a = {r["date"]: r["value_vel"]
         for r in calc_velocity(df, ["value"], "1h", "6h").collect()}
    b = {r["date"]: r["value_vel"]
         for r in calc_velocity_range_join(df, ["value"], "1h", "6h").collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k] == pytest.approx(b[k], abs=1e-12)


def test_chooser_dispatch_and_facade_equality(spark):
    """plans/chooser.py (SURVEY §4.1, the one custom physical decision):
    the rule — bucket tiling whenever the grid step equals the stat
    width (incl. the reference default), the bucketed range join
    otherwise — and the dispatching facade must return the same rows
    the directly-called variant returns. The overlapping-grid case
    (step < stat) has no bucket twin, so it is cross-checked against
    a brute-force per-point computation."""
    from datatools_spark.plans.chooser import (
        choose_velocity_plan, plan_string, velocity)
    assert choose_velocity_plan("1h") == "bucket"
    assert choose_velocity_plan("1h", "1h") == "bucket"
    assert choose_velocity_plan("1h", "30min") == "range_join"
    assert choose_velocity_plan(3600, 7200) == "range_join"
    df = _series(spark)
    via_facade = {r["date"]: r["value_vel"]
                  for r in velocity(df, ["value"], "1h", "6h").collect()}
    direct = {r["date"]: r["value_vel"]
              for r in calc_velocity(df, ["value"], "1h", "6h").collect()}
    assert via_facade == direct
    # overlapping grid (step = stat/2): twice-dense grid; windows at
    # even points coincide with the tiling grid's windows
    dense = {r["date"]: r["value_vel"]
             for r in velocity(df, ["value"], "1h", "6h",
                               grid_step="30min").collect()}
    assert set(direct) <= set(dense)
    for k in direct:
        assert dense[k] == pytest.approx(direct[k], abs=1e-12)
    # the range join must carry the coarse-bucket equi key: a bare
    # interval predicate falls back to BroadcastNestedLoopJoin, which
    # is O(rows x grid) and unusable at 1e7 rows
    plan = plan_string(velocity(df, ["value"], "1h", "6h",
                                grid_step="30min"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # dense-grid-ONLY points (the midpoints no bucket twin exists for)
    # pinned against a brute-force per-point computation: filter the
    # raw series into each side's [c−stat/2, c+stat/2) window, median,
    # difference over sep_days
    import pyspark.sql.functions as F
    mids = sorted(set(dense) - set(direct))[:3]
    assert len(mids) == 3
    for t in mids:
        c = t.timestamp()
        stat, sep = 3600.0, 6 * 3600.0
        meds = []
        for off in (-sep / 2, +sep / 2):
            lo, hi = c + off - stat / 2, c + off + stat / 2
            meds.append(df.where(
                (F.col("ts").cast("double") >= lo)
                & (F.col("ts").cast("double") < hi))
                .agg(F.median("value")).collect()[0][0])
        want = (meds[1] - meds[0]) / (sep / 86400.0)
        assert dense[t] == pytest.approx(want, abs=1e-9), t


def test_approx_median_close_to_exact(spark):
    df = _series(spark)
    exact = {r["date"]: r["value_vel"]
             for r in calc_velocity(df, ["value"], "1h", "6h").collect()}
    approx = {r["date"]: r["value_vel"]
              for r in calc_velocity(df, ["value"], "1h", "6h",
                                     median_mode="approx").collect()}
    assert set(exact) == set(approx)
    # percentile_approx on small windows is exact or near-exact
    for k in exact:
        assert approx[k] == pytest.approx(exact[k], abs=0.5)


def test_velocity_selectk_equals_exact_median(spark):
    """median_mode='selectk' reproduces the exact-median kernel output
    bit-for-bit (same medians => same velocities)."""
    from datatools_spark.queries import _t
    from datatools_spark.operators.velocity import calc_velocity
    ev = _t(spark, "/root/testdata/sf0.001", "events").withColumnRenamed(
        "value", "z")
    kw = dict(value_cols=["z"], stat_window="6h", separation_window="24h",
              partition_by=["event_type"])
    exact = {tuple(r) for r in calc_velocity(ev, **kw).collect()}
    sk = {tuple(r) for r in
          calc_velocity(ev, median_mode="selectk", **kw).collect()}
    assert sk == exact and len(exact) > 0


def test_velocity_selectk_keeps_all_null_buckets(spark):
    """Multi-column kernel where one column is entirely null inside some
    buckets: 'exact' keeps the bucket row with a null median, so
    'selectk' must too (its median output has no row for an all-null
    group — the join back must be LEFT, not inner)."""
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(6 * 96):
        ts = t0 + dt.timedelta(minutes=15 * i)
        a = math.sin(2 * math.pi * i / 96.0) + i * 0.01
        b = a * 2 if i < 96 else None       # b goes all-null after day 1
        rows.append((ts, a, b))
    df = spark.createDataFrame(rows, "ts timestamp, a double, b double")
    kw = dict(value_cols=["a", "b"], stat_window="6h",
              separation_window="24h")
    exact = {tuple(r) for r in calc_velocity(df, **kw).collect()}
    sk = {tuple(r) for r in
          calc_velocity(df, median_mode="selectk", **kw).collect()}
    assert sk == exact and len(exact) > 0
    assert any(r[-1] is None for r in exact)  # null b_vel rows retained


def test_median_mode_auto_rule_and_small_n_equality(spark):
    """The auto rule: exact below the spill threshold, approx above;
    and at small n, median_mode='auto' must be bit-equal to 'exact'."""
    from datatools_spark.operators.velocity import calc_velocity
    from datatools_spark.plans.chooser import (
        VELOCITY_APPROX_THRESHOLD_ROWS, choose_median_mode)
    assert choose_median_mode(1_000) == "exact"
    assert choose_median_mode(VELOCITY_APPROX_THRESHOLD_ROWS // 2) \
        == "exact"
    assert choose_median_mode(VELOCITY_APPROX_THRESHOLD_ROWS // 2 + 1) \
        == "approx"
    df = _series(spark)
    key = lambda r: tuple(r[c] for c in sorted(r.asDict()))  # noqa: E731
    exact = sorted(map(key, calc_velocity(
        df, ["value"], "1h", "6h", median_mode="exact").collect()))
    auto = sorted(map(key, calc_velocity(
        df, ["value"], "1h", "6h", median_mode="auto").collect()))
    assert exact == auto and len(auto) > 0


def test_estimate_scan_rows_metadata_only(spark, tmp_path):
    """estimate_scan_rows: exact footer count for scan-shaped frames
    (plain read, column projection), None for any plan whose output
    cardinality metadata cannot know (filter, aggregate, explode)."""
    from datatools_spark.plans.chooser import estimate_scan_rows
    import pyspark.sql.functions as F
    p = str(tmp_path / "t")
    spark.range(0, 1234).select(
        "id", (F.col("id") % 7).alias("v")).repartition(3) \
        .write.parquet(p)
    df = spark.read.parquet(p)
    assert estimate_scan_rows(df) == 1234
    assert estimate_scan_rows(df.select("v")) == 1234
    assert estimate_scan_rows(df.repartition(5)) == 1234
    assert estimate_scan_rows(df.where("v = 3")) is None
    assert estimate_scan_rows(df.groupBy("v").count()) is None
    assert estimate_scan_rows(
        df.select(F.explode(F.array("id", "v")))) is None
    assert estimate_scan_rows(df.join(df.select("v"), "v")) is None
    # non-file-backed frames: unestimable, never wrong
    local = spark.createDataFrame([(1,)], "x int")
    assert estimate_scan_rows(local) in (None, 1)


def test_median_mode_auto_runs_no_job_on_scan_input(spark, tmp_path):
    """r10 VERDICT #4 done-criterion: on a scan-shaped input the auto
    dispatch must not launch ANY Spark job (the old path paid a full
    df.count() — a table scan at 100 TB just to pick a plan)."""
    from datatools_spark.operators.velocity import calc_velocity
    p = str(tmp_path / "series")
    _series(spark).write.parquet(p)
    df = spark.read.parquet(p)
    out, n_jobs = count_jobs(spark, lambda: calc_velocity(
        df, ["value"], "1h", "6h", median_mode="auto"))
    assert n_jobs == 0, \
        "auto dispatch launched a Spark job on a scan-shaped input"
    assert out.count() > 0   # the plan itself still executes fine
    # explicit hint short-circuits estimation for any plan shape
    out2 = calc_velocity(df.where("value is not null"), ["value"],
                         "1h", "6h", median_mode="auto",
                         n_rows=10_000)
    assert out2.columns == out.columns
