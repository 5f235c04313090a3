"""GPS velocity kernel (reference: ``OnIce.calc_velocity`` gpstools.py:524-608,
helpers :895-967) — the flagship composite operator.

Reference semantics (SURVEY §2.9): build a regular grid from
``first+sep`` to ``last−sep`` stepped by ``stat_window``; at each grid
point ``t`` take two stat windows ``[t∓sep/2 − stat/2, t∓sep/2 + stat/2)``
(closed='left', gpstools.py:907-915); guard both windows having > min_obs
rows (:875-892); velocity = ``(median(w1) − median(w0)) / sep_days`` in
m/day (:955-967, 870-872).

Physical design — the reference loops over grid points in Python, slicing
pandas per point (O(grid·log n) with huge constants). Here: because the
grid step EQUALS the stat-window width (gpstools.py:582-585 uses
``freq=stat_window``), the per-offset windows exactly tile the timeline,
so window assignment is pure arithmetic:

    k = floor((ts − offset − (t0 − stat/2)) / stat)

Each input row lands in exactly one bucket per offset → one ``explode``
into 2 rows, ONE hash aggregate (side-pivoted median+count per grid
point — no per-side self-join, so the scan→explode subtree is never
duplicated). No range join, no per-point scan. At 100 TB the only full-data
shuffle is the per-bucket median (inherent to exact medians);
``median_mode="approx"`` switches to ``percentile_approx`` which is
partially aggregatable and cuts the shuffle to sketch size.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.timeutils import parse_duration_seconds
from .rolling import c_rolling_chunked, rolling_agg_col

__all__ = ["calc_velocity", "calc_velocity_range_join"]


def calc_velocity(df: DataFrame, value_cols: Sequence[str],
                  stat_window="3T", separation_window="2H",
                  smoothing=None, min_obs: int = 3,
                  ts_col: str = "ts", partition_by: Sequence[str] = (),
                  grid_start=None, grid_end=None,
                  median_mode: str = "exact",
                  grid_index: bool = False,
                  n_rows: int | None = None) -> DataFrame:
    """Grid-median differenced velocity, m/day per component.

    Returns ``partition_by + (date, <col>_vel ...)`` where ``date`` is the
    grid timestamp. ``grid_start``/``grid_end`` override the data-derived
    grid bounds (needed to keep the plan fully distributed when the caller
    already knows them; otherwise a 1-row aggregate supplies them).

    ``median_mode``: ``"exact"`` (default) = builtin ``median`` — exact
    but buffers each bucket's values through the shuffle; ``"approx"`` =
    ``percentile_approx`` — partially-aggregatable sketch, the cheap
    scale path; ``"selectk"`` = exact via the two-pass histogram
    select-k (operators/selectk.py) — identical results to ``"exact"``
    (equality-tested) with shuffles bounded by bins+survivors, the
    exact path that survives hot buckets at 100 TB. ``"auto"`` (r9
    VERDICT #6) dispatches through ``plans.chooser.choose_median_mode``:
    exact below the XL-probe spill threshold (where exact is free),
    approx above it (where the sketch's partial aggregation cuts the
    spilling shuffle 3.2×) — opt-in because the flip trades exactness
    for throughput. The row count it keys on comes from (in order) the
    caller's ``n_rows`` hint, parquet footer metadata when ``df`` is
    scan-shaped (``plans.chooser.estimate_scan_rows`` — zero jobs),
    and only as a last resort a ``df.count()`` action (r10 VERDICT #4:
    the unconditional count was a scan-shaped dispatch cost at 100 TB).

    ``n_rows``: optional input-row-count hint consumed by the ``auto``
    dispatch (manifest/catalog-known counts); ignored otherwise.

    ``grid_index=True`` prepends the engine-portable grid index ``k``
    (``date = t0 + k*stat``) to the output — the kernel already carries
    it internally, and exposing it here saves callers the blocking
    1-row anchor aggregate (plus a fragile duplicate of the t0 formula)
    they previously ran to rebuild k from ``date``.
    """
    if min_obs < 0:
        # the pivoted aggregate below relies on count > min_obs implying
        # >= 1 row per side (the old inner join's emission condition);
        # a negative gate would change which empty-side buckets surface
        raise ValueError(f"min_obs must be >= 0, got {min_obs}")
    if median_mode == "auto":
        from ..plans.chooser import choose_median_mode, estimate_scan_rows
        if n_rows is None:
            n_rows = estimate_scan_rows(df)
        if n_rows is None:
            n_rows = df.count()   # unestimable plan shape: the fallback
        median_mode = choose_median_mode(n_rows)
    stat = parse_duration_seconds(stat_window)
    sep = parse_duration_seconds(separation_window)
    half_sep = sep / 2.0
    p = list(partition_by)

    work = df
    if smoothing is not None:
        for c in value_cols:
            if p:
                work = work.withColumn(c, rolling_agg_col(
                    c, smoothing, "mean", ts_col, p))
            else:
                # unpartitioned smoothing = ONE giant series: the plain
                # window plan lands the whole series in a single task
                # (measured ~1.5 s of ts_velocity_smoothed's 2.3 s at
                # sf0.1, and linear-in-series at scale). The chunked
                # form (time chunks + halo rows, exactly equal results)
                # spreads it over time_span/chunk tasks.
                chunk_s = max(86400.0, parse_duration_seconds(smoothing))
                work = c_rolling_chunked(work, c, smoothing, "mean",
                                         ts_col, chunk=chunk_s, out_col=c)

    es = F.col(ts_col).cast("double")
    if grid_start is None or grid_end is None:
        # grid anchored at per-series first/last (gpstools.py:582-585);
        # tiny agg, broadcast back onto the series.
        bounds = work.groupBy(*[F.col(c) for c in p]).agg(
            F.min(es).alias("_tmin"), F.max(es).alias("_tmax"))
        work = work.join(F.broadcast(bounds), on=p) if p else \
            work.crossJoin(F.broadcast(bounds))
        t0 = F.col("_tmin") + F.lit(sep)
        t_end = F.col("_tmax") - F.lit(sep)
    else:
        t0 = F.lit(float(grid_start))
        t_end = F.lit(float(grid_end))

    # per-offset tiling bucket; closed='left' ⇒ [lo, hi) ⇒ plain floor
    def bucket(offset):
        return F.floor((es - F.lit(offset) - (t0 - F.lit(stat / 2.0))) / F.lit(stat))

    k_max = F.floor((t_end - t0) / F.lit(stat))
    sides = F.array(
        F.struct(F.lit(0).alias("side"), bucket(-half_sep).alias("k")),
        F.struct(F.lit(1).alias("side"), bucket(+half_sep).alias("k")),
    )
    exploded = (work
                .withColumn("_t0", t0)
                .withColumn("_kmax", k_max)
                .select(*p, "_t0", "_kmax", *value_cols,
                        F.explode(sides).alias("_s"))
                .select(*p, "_t0", "_kmax", *value_cols,
                        F.col("_s.side").alias("_side"), F.col("_s.k").alias("_k"))
                .where((F.col("_k") >= 0) & (F.col("_k") <= F.col("_kmax"))))

    side_keys = p + ["_t0", "_k", "_side"]
    keys = p + ["_t0", "_k"]
    if median_mode == "selectk":
        from .selectk import exact_grouped_median
        # checkpoint: the count pass + 3 passes per value column all
        # re-read the exploded frame (localCheckpoint, not persist — no
        # session-cache entry per call, r5 hygiene rule)
        exploded = exploded.localCheckpoint(eager=True)
        per_side = exploded.groupBy(*side_keys).agg(
            *[F.count(F.col(c)).alias(f"_n_{c}") for c in value_cols])
        for c in value_cols:
            # LEFT join: a bucket whose column is entirely null has no
            # median row — 'exact'/'approx' keep it with a null median,
            # so selectk must too (inner would silently drop the bucket)
            per_side = per_side.join(
                exact_grouped_median(exploded, side_keys, c,
                                     out_col=f"_m_{c}"), on=side_keys,
                how="left")
        left = per_side.where(F.col("_side") == 0).drop("_side")
        right = per_side.where(F.col("_side") == 1).drop("_side")
        rn = {f"_m_{c}": f"_r_{c}" for c in value_cols}
        rn.update({f"_n_{c}": f"_rn_{c}" for c in value_cols})
        right = right.withColumnsRenamed(rn)
        joined = left.join(right, on=keys)
    else:
        # ONE aggregate, pivoting the side into conditional columns:
        # the previous filter(side)+self-join formulation made Spark
        # recompute the whole scan→explode→aggregate subtree per side
        # (no subtree reuse without an explicit materialization), i.e.
        # two full passes plus a join exchange. Median/count over a
        # side-gated CASE sees exactly the side's non-null values, so
        # the medians and counts are bit-identical to the per-side
        # aggregation; an inner-join row existed iff both side groups
        # existed, which the min_obs gate below subsumes (count >=
        # min_obs+1 >= 1 on both sides). [opt guide §2.4: remove the
        # duplicated subtree + its exchange outright]
        med = (lambda v: F.percentile_approx(v, 0.5)) \
            if median_mode == "approx" else (lambda v: F.median(v))
        v0 = {c: F.when(F.col("_side") == 0, F.col(c)) for c in value_cols}
        v1 = {c: F.when(F.col("_side") == 1, F.col(c)) for c in value_cols}
        aggs = []
        for c in value_cols:
            aggs += [med(v0[c]).alias(f"_m_{c}"),
                     med(v1[c]).alias(f"_r_{c}"),
                     F.count(v0[c]).alias(f"_n_{c}"),
                     F.count(v1[c]).alias(f"_rn_{c}")]
        joined = exploded.groupBy(*keys).agg(*aggs)
    # min_obs gates PER COLUMN on each column's own non-null count —
    # counting only value_cols[0] either dropped a well-observed second
    # column or emitted one computed from a single observation (r9
    # self-review). A grid point emits iff >= 1 column passes; failing
    # columns null out. Single-column callers see the identical plan.
    _ok = {c: (F.col(f"_n_{c}") > min_obs) & (F.col(f"_rn_{c}") > min_obs)
           for c in value_cols}
    any_ok = None
    for c in value_cols:
        any_ok = _ok[c] if any_ok is None else (any_ok | _ok[c])
    joined = joined.where(any_ok)

    dt_days = sep / 86400.0
    vel_cols = [F.when(_ok[c], (F.col(f"_r_{c}") - F.col(f"_m_{c}"))
                       / F.lit(dt_days)).alias(f"{c}_vel")
                for c in value_cols]
    date = (F.col("_t0") + F.col("_k") * F.lit(stat)).cast("timestamp").alias("date")
    head = [F.col("_k").alias("k"), date] if grid_index else [date]
    return joined.select(*p, *head, *vel_cols)


def calc_velocity_range_join(df: DataFrame, value_cols: Sequence[str],
                             stat_window="3T", separation_window="2H",
                             min_obs: int = 3, ts_col: str = "ts",
                             grid_step=None) -> DataFrame:
    """The general physical variant of the §2.9 kernel: explicit grid
    (``sequence`` + ``explode``) range-joined to the positions.

    Needed when the grid step ≠ stat-window width (windows overlap or
    leave gaps, so the bucket-tiling arithmetic of :func:`calc_velocity`
    no longer assigns each row to exactly one window). The reference
    itself always uses step == stat (gpstools.py:582-585), making the
    tiling plan the default; this variant generalizes and cross-checks it
    (tests/test_velocity_variants.py asserts both produce identical
    results on the reference's parameterization; plans/chooser.py
    dispatches between them).

    Physical shape: a bare interval predicate executes as a
    BroadcastNestedLoopJoin — O(rows × grid points) predicate
    evaluations. Measured (r9 A/B, bench/velocity_plan_ab.py): 2.7 s at
    1e7 rows × 455 grid points vs 0.8 s for this form — survivable at a
    short grid but growing LINEARLY with grid length (a multi-year
    station at this stat window has 1e4+ points → 1e11 evaluations),
    where this form stays O(rows). The join carries a coarse
    time-bucket EQUI key: positions bucket once by ``floor(es/stat)``;
    each (grid point, side) explodes to the ≤3 buckets its stat window
    can overlap; the interval predicate then refines exactly. One
    hash-partitioned shuffle of the positions, grid-side fan-out ≤ 3·2
    rows per grid point, AQE skew splitting applies — no nested-loop
    node in the plan (asserted in tests/test_velocity_variants.py).
    """
    stat = parse_duration_seconds(stat_window)
    sep = parse_duration_seconds(separation_window)
    step = stat if grid_step is None else parse_duration_seconds(grid_step)
    half_sep, half_stat = sep / 2.0, stat / 2.0

    es = F.col(ts_col).cast("double")
    bounds = df.agg(F.min(es).alias("_tmin"), F.max(es).alias("_tmax"))
    gstart = (F.col("_tmin") + sep).cast("long")
    gstop = (F.col("_tmax") - sep).cast("long")
    # a series shorter than 2×separation has NO valid grid point; a
    # bare sequence(start, stop, +step) with start > stop THROWS where
    # the bucket-tiling variant returns empty — guard to keep the two
    # physical plans equivalent on degenerate spans
    grid = bounds.select(F.explode(F.when(
        gstart <= gstop, F.sequence(gstart, gstop, F.lit(int(step))))
        .otherwise(F.array().cast("array<bigint>"))).alias("_t"))

    # (side, bucket) fan-out on the GRID side only: window
    # [c−half_stat, c+half_stat) spans at most ceil(stat/B)+1 = 3
    # width-B buckets when B = stat
    b = float(stat)
    sides = F.explode(F.array(*[F.struct(
        F.lit(s).alias("_side"),
        ((F.col("_t") + F.lit(off)).cast("double")).alias("_c"))
        for s, off in ((0, -half_sep), (1, +half_sep))])).alias("_sc")
    gexp = (grid.select("_t", sides)
            .select("_t", F.col("_sc._side").alias("_side"),
                    F.col("_sc._c").alias("_c"))
            .select("_t", "_side", "_c", F.explode(F.sequence(
                F.floor((F.col("_c") - half_stat) / b),
                F.floor((F.col("_c") + half_stat) / b)))
                .alias("_pb")))

    pos = df.select(es.alias("_es"), F.floor(es / b).alias("_pb"),
                    *value_cols)
    joined = (gexp.join(pos, "_pb")
              .where((F.col("_es") >= F.col("_c") - half_stat)
                     & (F.col("_es") < F.col("_c") + half_stat)))
    # same side-pivoted single aggregate as calc_velocity (one pass, no
    # duplicated subtree + join exchange); equivalence argument there
    if min_obs < 0:
        raise ValueError(f"min_obs must be >= 0, got {min_obs}")
    aggs = []
    for c in value_cols:
        s0 = F.when(F.col("_side") == 0, F.col(c))
        s1 = F.when(F.col("_side") == 1, F.col(c))
        aggs += [F.median(s0).alias(f"_m_{c}"),
                 F.median(s1).alias(f"_r_{c}"),
                 F.count(s0).alias(f"_n_{c}"), F.count(s1).alias(f"_rn_{c}")]
    per_point = joined.groupBy("_t").agg(*aggs)
    # per-column min_obs gate — see calc_velocity
    _ok = {c: (F.col(f"_n_{c}") > min_obs) & (F.col(f"_rn_{c}") > min_obs)
           for c in value_cols}
    any_ok = None
    for c in value_cols:
        any_ok = _ok[c] if any_ok is None else (any_ok | _ok[c])
    j = per_point.where(any_ok)
    dt_days = sep / 86400.0
    vels = [F.when(_ok[c], (F.col(f"_r_{c}") - F.col(f"_m_{c}"))
                   / F.lit(dt_days)).alias(f"{c}_vel")
            for c in value_cols]
    return j.select(F.col("_t").cast("timestamp").alias("date"), *vels)
