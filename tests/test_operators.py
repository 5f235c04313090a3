"""Unit tests for the core time-series operators on synthetic frames,
including pandas-oracle differential checks (SURVEY §5 test plan #2:
the reference algorithm re-run faithfully in pandas vs the Spark operator)."""

import datetime as dt
import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from datatools_spark.operators.extrema import (
    apply_threshold, daily_extrema, with_amplitude, with_decimal_hours,
)
from datatools_spark.operators.fillna import bfill, ffill, interpolate_linear
from datatools_spark.operators.intervals import (
    asof_join, clip_to_window, drop_windows, interval_lookup_join,
    union_keep_first,
)
from datatools_spark.operators.resample import resample_agg
from datatools_spark.operators.rolling import c_rolling
from datatools_spark.operators.velocity import calc_velocity


def _series(spark, n=4 * 96, step_min=15, f=None):
    t0 = dt.datetime(2024, 1, 1)
    f = f or (lambda i: math.sin(2 * math.pi * i / 96.0) + 2.5)
    rows = [(t0 + dt.timedelta(minutes=step_min * i), float(f(i))) for i in range(n)]
    return spark.createDataFrame(rows, "ts timestamp, value double"), rows


def test_c_rolling_matches_pandas_centered(spark):
    df, rows = _series(spark)
    out = {r["ts"]: r["value_roll"]
           for r in c_rolling(df, "value", "2h", "mean").collect()}
    pdf = pd.DataFrame(rows, columns=["ts", "value"]).set_index("ts")
    # pandas trailing 2h window shifted back 1h = centered [t-1h, t+1h];
    # direct check: mean of values within [t-1h, t+1h] inclusive
    for t, v in list(out.items())[::17]:
        lo, hi = t - dt.timedelta(hours=1), t + dt.timedelta(hours=1)
        expect = pdf.loc[lo:hi, "value"].mean()
        assert v == pytest.approx(expect, abs=1e-12)


def test_c_rolling_min_periods(spark):
    df, _ = _series(spark, n=10)
    out = c_rolling(df, "value", "2h", "mean", min_periods=6).orderBy("ts").collect()
    # first rows have < 6 obs in their centered window → null
    assert out[0]["value_roll"] is None
    assert out[5]["value_roll"] is not None


def test_resample_matches_pandas(spark):
    df, rows = _series(spark)
    got = {r["ts"]: r["value"]
           for r in resample_agg(df, "1D", {"value": "mean"}).collect()}
    pdf = pd.DataFrame(rows, columns=["ts", "value"]).set_index("ts")
    exp = pdf.resample("1D").mean()
    for t, row in exp.iterrows():
        assert got[t.to_pydatetime()] == pytest.approx(row["value"], abs=1e-12)


def test_daily_extrema_matches_pandas_loop(spark):
    """Differential vs the reference algorithm (diurnal.py:301-346,
    same-day mode): per-day idxmin/idxmax with first-occurrence ties."""
    df, rows = _series(spark)
    got = {r["day"].date(): r for r in daily_extrema(df).collect()}
    pdf = pd.DataFrame(rows, columns=["ts", "value"]).set_index("ts")["value"]
    for day, grp in pdf.groupby(pdf.index.date):
        g = got[day]
        assert g["min_val"] == pytest.approx(grp.min())
        assert g["min_time"] == grp.idxmin().to_pydatetime()
        assert g["max_val"] == pytest.approx(grp.max())
        assert g["max_time"] == grp.idxmax().to_pydatetime()


def test_daily_extrema_min_first_18h_window(spark):
    # series whose max follows the min on the next day within 18 h
    df, _ = _series(spark, f=lambda i: -math.cos(2 * math.pi * (i - 48) / 96.0))
    out = daily_extrema(df, min_first=True, max_next_day=True).orderBy("day").collect()
    for r in out:
        assert r["max_time"] > r["min_time"]
        assert r["max_time"] <= r["min_time"] + dt.timedelta(hours=18)
        assert r["min_val"] <= r["max_val"]


def test_extrema_threshold_and_amplitude(spark):
    df, _ = _series(spark, f=lambda i: 0.1 * math.sin(2 * math.pi * i / 96.0))
    ex = with_amplitude(daily_extrema(df))
    assert apply_threshold(ex, 0.5).count() == 0
    assert apply_threshold(ex, 0.05).count() > 0
    hrs = with_decimal_hours(ex).first()
    assert 0 <= hrs["min_hrs"] < 24


def test_velocity_linear_motion(spark):
    """On pure linear motion (v m/day), the kernel must recover v exactly
    (medians of both windows sit on the line)."""
    v_per_day = 3.0
    df, _ = _series(spark, n=6 * 96,
                    f=lambda i: v_per_day * (i * 15 / (24 * 60.0)))
    out = calc_velocity(df, ["value"], stat_window="1h",
                        separation_window="6h").collect()
    assert len(out) > 0
    for r in out:
        assert r["value_vel"] == pytest.approx(v_per_day, rel=1e-9)


def test_velocity_guard_drops_sparse_windows(spark):
    # 30-min cadence → 1h stat window holds ≤2 samples < min_obs+1 → no rows
    df, _ = _series(spark, n=200, step_min=30)
    out = calc_velocity(df, ["value"], stat_window="1h", separation_window="6h")
    assert out.count() == 0


def test_ffill_bfill_interpolate(spark):
    rows = [(dt.datetime(2024, 1, 1, h), v) for h, v in
            [(0, 1.0), (1, None), (2, None), (3, 4.0), (4, None)]]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    f = {r["ts"].hour: r["value"] for r in ffill(df, ["value"]).collect()}
    assert f[1] == 1.0 and f[2] == 1.0 and f[4] == 4.0
    b = {r["ts"].hour: r["value"] for r in bfill(df, ["value"]).collect()}
    assert b[1] == 4.0 and b[4] is None
    i = {r["ts"].hour: r["value"]
         for r in interpolate_linear(df, ["value"]).collect()}
    assert i[1] == pytest.approx(2.0) and i[2] == pytest.approx(3.0)
    assert i[4] == 4.0  # pandas-parity trailing fill


def test_interpolate_time_weighted_irregular(spark):
    rows = [(dt.datetime(2024, 1, 1, 0, 0), 0.0),
            (dt.datetime(2024, 1, 1, 0, 10), None),
            (dt.datetime(2024, 1, 1, 1, 0), 6.0)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = {r["ts"]: r["value"] for r in interpolate_linear(df, ["value"]).collect()}
    assert out[dt.datetime(2024, 1, 1, 0, 10)] == pytest.approx(1.0)  # 10/60 * 6


def test_interpolate_duplicate_timestamp_no_ansi_throw(spark):
    """A null row sharing its timestamp with its bracketing neighbours
    used to hit 0/0 in the time-weight (DIVIDE_BY_ZERO under the ANSI
    sessions everything here runs); the interpolant degenerates to the
    co-instant value instead."""
    rows = [(dt.datetime(2024, 1, 1, 0, 0), 1.0),
            (dt.datetime(2024, 1, 1, 0, 0), None),   # duplicate instant
            (dt.datetime(2024, 1, 1, 1, 0), 3.0)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    vals = sorted(r["value"] for r in
                  interpolate_linear(df, ["value"]).collect())
    assert vals == [1.0, 1.0, 3.0]


def test_clip_closed_semantics(spark):
    df, _ = _series(spark, n=10)
    start, end = dt.datetime(2024, 1, 1, 0, 15), dt.datetime(2024, 1, 1, 1, 0)
    assert clip_to_window(df, start, end, closed="both").count() == 4
    assert clip_to_window(df, start, end, closed="left").count() == 3
    assert clip_to_window(df, start, end, closed="right").count() == 3
    assert clip_to_window(df, start, end, closed="neither").count() == 2
    assert drop_windows(df, [(start, end)]).count() == 6


def test_interval_lookup_join(spark):
    df, _ = _series(spark, n=8, step_min=60)
    sched = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 0), dt.datetime(2024, 1, 1, 3), 1.0),
         (dt.datetime(2024, 1, 1, 3), dt.datetime(2024, 1, 1, 9), 2.0)],
        "start_ts timestamp, end_ts timestamp, height double")
    out = {r["ts"].hour: r["height"]
           for r in interval_lookup_join(df, sched, closed="left").collect()}
    assert out[0] == 1.0 and out[2] == 1.0 and out[3] == 2.0 and out[7] == 2.0


def test_asof_join_backward_tolerance(spark):
    left = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 0, h) if h < 60 else dt.datetime(2024, 1, 1, 1, 0), h)
         for h in (10, 30, 60)], "ts timestamp, lid int")
    right = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 0, 5), 100.0),
         (dt.datetime(2024, 1, 1, 0, 30), 200.0)],
        "ts timestamp, p double")
    out = {r["lid"]: r["p"] for r in asof_join(left, right).collect()}
    assert out[10] == 100.0 and out[30] == 200.0 and out[60] == 200.0
    tol = {r["lid"]: r["p"]
           for r in asof_join(left, right, tolerance=600).collect()}
    assert tol[10] == 100.0 and tol[30] == 200.0 and tol[60] is None


def test_union_keep_first(spark):
    a = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, v double")
    b = spark.createDataFrame([(2, 99.0), (3, 30.0)], "k int, v double")
    out = {r["k"]: r["v"] for r in union_keep_first([a, b], ["k"]).collect()}
    assert out == {1: 10.0, 2: 20.0, 3: 30.0}


def test_chunked_rolling_equals_plain(spark):
    """c_rolling_chunked (giant-series scale path: time chunks + halo
    rows) produces exactly the plain centered-window results."""
    import datetime as dt
    import random
    from datatools_spark.operators.rolling import c_rolling, c_rolling_chunked
    rng = random.Random(13)
    t0 = dt.datetime(2024, 2, 1)
    rows, t = [], t0
    for _ in range(400):
        t += dt.timedelta(minutes=rng.choice([5, 20, 90, 300]))
        rows.append((t, rng.uniform(-10, 10)))
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    for func in ("mean", "median"):
        a = {(r.ts, round(r.value_roll, 9) if r.value_roll is not None else None)
             for r in c_rolling(df, "value", "6H", func,
                                min_periods=2).collect()}
        b = {(r.ts, round(r.value_roll, 9) if r.value_roll is not None else None)
             for r in c_rolling_chunked(df, "value", "6H", func, chunk="1d",
                                        min_periods=2).collect()}
        assert a == b


def test_blocked_median_equals_declarative(spark):
    """rolling_median_blocked (the scale-safe default: time chunks + halo
    rows + pandas skiplist median) is EXACTLY equal to the declarative
    per-row frame median — centered and trailing, with nulls, duplicate
    timestamps, boundary-exact offsets, and min_periods."""
    import datetime as dt
    import random
    from datatools_spark.operators.rolling import (c_rolling,
                                                   rolling_median_blocked)
    rng = random.Random(7)
    t0 = dt.datetime(2024, 3, 1)
    rows = []
    for series in ("a", "b"):
        t = t0
        for _ in range(300):
            # steps in whole hours sometimes → frame-boundary-exact hits;
            # zero steps → duplicate timestamps
            t += dt.timedelta(minutes=rng.choice([0, 5, 60, 180, 400]))
            v = None if rng.random() < 0.08 else rng.uniform(-5, 5)
            rows.append((series, t, v))
    df = spark.createDataFrame(rows, "s string, ts timestamp, value double")
    for center in (True, False):
        for mp in (None, 3):
            a = {(r.s, r.ts, None if r.m is None else round(r.m, 9))
                 for r in c_rolling(df, "value", "6H", "median",
                                    partition_by=["s"], min_periods=mp,
                                    out_col="m", center=center).collect()}
            b = {(r.s, r.ts, None if r.m is None else round(r.m, 9))
                 for r in rolling_median_blocked(df, "value", "6H",
                                                 partition_by=["s"],
                                                 chunk="12H", min_periods=mp,
                                                 out_col="m",
                                                 center=center).collect()}
            assert a == b, f"center={center} mp={mp}"


def test_blocked_median_chunk_too_small_raises(spark):
    import datetime as dt
    from datatools_spark.operators.rolling import rolling_median_blocked
    df = spark.createDataFrame([(dt.datetime(2024, 1, 1), 1.0)],
                               "ts timestamp, value double")
    import pytest
    with pytest.raises(ValueError, match="chunk"):
        rolling_median_blocked(df, "value", "6H", chunk="1H")


def test_resample_gapfill_complete_grid_and_ffill(spark):
    import datetime as dt
    from datatools_spark.operators.resample import resample_gapfill
    t0 = dt.datetime(2024, 1, 1)
    # observations at hours 0, 1, and 5 — hours 2-4 are silent
    rows = [(t0 + dt.timedelta(hours=h), float(h)) for h in (0, 1, 5)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = {r.ts: r.value for r in
           resample_gapfill(df, 3600, {"value": "mean"}).collect()}
    assert len(out) == 6  # complete hourly grid 0..5
    assert out[t0 + dt.timedelta(hours=3)] is None
    filled = {r.ts: r.value for r in
              resample_gapfill(df, 3600, {"value": "mean"},
                               fill="ffill").collect()}
    assert filled[t0 + dt.timedelta(hours=3)] == 1.0
    assert filled[t0 + dt.timedelta(hours=5)] == 5.0


def test_interval_overlap_join_equals_theta(spark):
    """Bucketed overlap join == brute-force theta join on random
    intervals (spans from minutes to multi-day, crossing many buckets)."""
    import datetime as dt
    import random
    from datatools_spark.operators.intervals import interval_overlap_join
    rng = random.Random(17)
    t0 = dt.datetime(2024, 1, 1)
    mk = lambda n, tag: [(f"{tag}{i}",
                          t0 + dt.timedelta(minutes=rng.randint(0, 20000)),
                          dt.timedelta(minutes=rng.randint(1, 4000)))
                         for i in range(n)]
    to_df = lambda rows: spark.createDataFrame(
        [(i, s, s + d) for i, s, d in rows], "id string, start timestamp, end timestamp")
    L, R = to_df(mk(80, "l")), to_df(mk(80, "r"))
    got = sorted((r["lid"], r["rid"]) for r in
                 interval_overlap_join(L, R, bucket="1d")
                 .select(F.col("l.id").alias("lid"),
                         F.col("r.id").alias("rid")).collect())
    theta = sorted((r["lid"], r["rid"]) for r in
                   L.alias("a").crossJoin(R.alias("b"))
                   .where((F.col("a.start") <= F.col("b.end"))
                          & (F.col("b.start") <= F.col("a.end")))
                   .select(F.col("a.id").alias("lid"),
                           F.col("b.id").alias("rid")).collect())
    assert got == theta and len(got) > 100


def test_extrema_lag_table_reference_semantics(spark):
    """M3 lag_df (diurnal.py:24-26): per-day max-timing lag vs reference
    sensor; reference column dropped; missing sensor-day -> NULL."""
    from datatools_spark.operators.extrema import extrema_lag_table
    import datetime as dt
    rows = []
    d0 = dt.datetime(2024, 1, 1)
    # ref peaks at 06:00; s2 peaks at 09:30 -> lag 3.5; s3 absent day 1
    for day in (0, 1):
        base = d0 + dt.timedelta(days=day)
        rows += [("ref", base + dt.timedelta(hours=6), 10.0),
                 ("ref", base + dt.timedelta(hours=12), 5.0),
                 ("s2", base + dt.timedelta(hours=9, minutes=30), 7.0),
                 ("s2", base + dt.timedelta(hours=2), 1.0)]
    rows.append(("s3", d0 + dt.timedelta(days=1, hours=4), 3.0))
    df = spark.createDataFrame(rows, "sensor string, ts timestamp, value double")
    out = {r["day"]: r for r in extrema_lag_table(
        df, sensor_col="sensor", lag_from="ref",
        sensors=["ref", "s2", "s3"]).collect()}
    assert set(out[d0].asDict()) == {"day", "s2_lag", "s3_lag"}
    assert out[d0]["s2_lag"] == 3.5
    assert out[d0]["s3_lag"] is None
    assert out[d0 + dt.timedelta(days=1)]["s3_lag"] == 4.0 - 6.0


def test_apply_changes_upsert_delete_and_tie(spark):
    """CDC merge: batch overwrites snapshot, exact-ts ties go to the
    batch, delete tombstones drop keys, unknown keys insert."""
    import datetime as dt
    from datatools_spark.operators.intervals import apply_changes
    t = dt.datetime(2024, 1, 1, 12)
    base = spark.createDataFrame(
        [(1, t, 10.0, False), (2, t, 20.0, False), (3, t, 30.0, False)],
        "k long, ts timestamp, v double, del boolean")
    chg = spark.createDataFrame(
        [(1, t + dt.timedelta(hours=1), 11.0, False),   # update
         (2, t, 99.0, False),                            # same-ts tie -> batch
         (3, t + dt.timedelta(hours=1), None, True),     # delete
         (4, t, 40.0, False)],                           # insert
        "k long, ts timestamp, v double, del boolean")
    got = {r.k: (r.v, r.del_) if hasattr(r, "del_") else (r.v, r["del"])
           for r in apply_changes(base, chg, ["k"], ts_col="ts",
                                  delete_col="del").collect()}
    assert got == {1: (11.0, False), 2: (99.0, False), 4: (40.0, False)}


def test_apply_changes_ts_tie_respects_tiebreak_cols(spark):
    """On a ts tie the winner is decided by tiebreak_cols FIRST; the
    batch wins only when the full (ts, *tiebreaks) key ties exactly —
    a snapshot row with the higher tiebreak must beat the batch row."""
    import datetime as dt
    from datatools_spark.operators.intervals import apply_changes
    t = dt.datetime(2024, 1, 1, 12)
    base = spark.createDataFrame(
        [(1, t, 9, 10.0),   # seq 9 beats the batch's seq 5 at equal ts
         (2, t, 3, 20.0)],  # seq 3 loses to the batch's seq 7
        "k long, ts timestamp, seq long, v double")
    chg = spark.createDataFrame(
        [(1, t, 5, 11.0), (2, t, 7, 22.0),
         (3, t, 1, 33.0), (3, t, 1, 34.0)],  # full-key tie stays batch-side
        "k long, ts timestamp, seq long, v double")
    got = {r.k: (r.seq, r.v)
           for r in apply_changes(base, chg, ["k"], ts_col="ts",
                                  tiebreak_cols=["seq"]).collect()}
    assert got[1] == (9, 10.0)   # snapshot survives the ts tie
    assert got[2] == (7, 22.0)   # batch wins on tiebreak
    assert got[3][0] == 1        # exact full-key tie: one batch row wins


def test_quantize_fixed_rejects_overflowing_span(spark):
    """Domains wide enough to break the exact-division guarantee
    (span > 2^53/(2^bits−1)) raise instead of silently returning
    engine-dependent keys. Two raise paths: the assert_true guard in the
    rounding band (scaled > 2^53 but no int64 overflow), and ANSI
    ARITHMETIC_OVERFLOW in the extreme band — either way, no silent
    corruption. Out-of-domain inputs are clamped, not overflowed."""
    from datatools_spark.operators.partitioning import quantize_fixed
    df = spark.createDataFrame([(0,), (1 << 60,)], "x long")
    ok = df.select(quantize_fixed(
        F.col("x"), F.lit(0), F.lit(1000), bits=16).alias("q"))
    assert [r.q for r in ok.orderBy("q").collect()] == [0, 65535]
    # rounding band: span * (2^16-1) fits int64 but exceeds 2^53
    band = df.select(quantize_fixed(
        F.col("x"), F.lit(0), F.lit(1 << 42), bits=16).alias("q"))
    with pytest.raises(Exception, match="quantize_fixed"):
        band.collect()
    # extreme band: the multiply itself overflows int64 (ANSI raises)
    bad = df.select(quantize_fixed(
        F.col("x"), F.lit(0), F.lit(1 << 60), bits=16).alias("q"))
    with pytest.raises(Exception,
                       match="quantize_fixed|ARITHMETIC_OVERFLOW|overflow"):
        bad.collect()


def test_coalesce_intervals_islands(spark):
    from datatools_spark.operators.intervals import coalesce_intervals
    T = dt.datetime
    rows = [
        # series a: [0,10) + [5,15) overlap; [15,20) touches nothing
        # ([15,20) starts AT the running max end — start > pm is False,
        # so touching intervals MERGE into the same island)
        ("a", T(2024, 1, 1, 0, 0), T(2024, 1, 1, 0, 10)),
        ("a", T(2024, 1, 1, 0, 5), T(2024, 1, 1, 0, 15)),
        ("a", T(2024, 1, 1, 0, 15), T(2024, 1, 1, 0, 20)),
        # series a: disjoint second island, containing a nested interval
        ("a", T(2024, 1, 1, 1, 0), T(2024, 1, 1, 2, 0)),
        ("a", T(2024, 1, 1, 1, 10), T(2024, 1, 1, 1, 20)),
        # series b: single interval
        ("b", T(2024, 1, 1, 0, 0), T(2024, 1, 1, 0, 1)),
    ]
    df = spark.createDataFrame(rows, ["series", "start", "end"])
    out = {(r["series"], r["start"], r["end"]): r["n_merged"]
           for r in coalesce_intervals(df).collect()}
    assert out == {
        ("a", T(2024, 1, 1, 0, 0), T(2024, 1, 1, 0, 20)): 3,
        ("a", T(2024, 1, 1, 1, 0), T(2024, 1, 1, 2, 0)): 2,
        ("b", T(2024, 1, 1, 0, 0), T(2024, 1, 1, 0, 1)): 1,
    }


def test_containment_pairs_asymmetric(spark):
    from datatools_spark.operators.dedup import containment_pairs
    # doc 2 is a strict prefix of doc 1: every shingle of 2 is in 1,
    # so C(2→1) = 1.0 while C(1→2) < 1; doc 3 shares nothing.
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon"),
        (3, "one two three four five six"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r["src_id"], r["dst_id"]): r["containment"]
           for r in containment_pairs(df, threshold=0.0, max_df=100)
           .collect()}
    assert out[(2, 1)] == 1.0
    assert 0.0 < out[(1, 2)] < 1.0
    assert (1, 3) not in out and (3, 1) not in out
    # threshold filters the weak direction only
    hi = {(r["src_id"], r["dst_id"])
          for r in containment_pairs(df, threshold=0.9, max_df=100)
          .collect()}
    assert (2, 1) in hi and (1, 2) not in hi


def test_simhash_pairs_pigeonhole_and_exact_hamming(spark):
    from datatools_spark.operators.dedup import simhash_col, simhash_pairs
    rows = [(i, f"common text body shared by all docs variant {i % 3}")
            for i in range(12)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = {r["doc_id"]: r["simhash"]
           for r in simhash_col(df, bits=32).collect()}
    got = {(r["a_id"], r["b_id"]): r["hamming"]
           for r in simhash_pairs(df, bits=32, bands=4, max_hamming=3)
           .collect()}
    # oracle: brute-force all pairs — banding must find EVERY pair with
    # hamming <= 3 (pigeonhole: <=3 differing bits leave a clean band)
    want = {}
    for a in sig:
        for b in sig:
            if a < b:
                h = bin(sig[a] ^ sig[b]).count("1")
                if h <= 3:
                    want[(a, b)] = h
    assert got == want and len(want) > 0
    with pytest.raises(ValueError):
        simhash_pairs(df, bits=32, bands=4, max_hamming=5)


def test_winnow_fingerprints_guarantee(spark):
    from datatools_spark.operators.dedup import winnow_fingerprints
    shared = "the quick brown fox jumps over"  # 6 words = window+n-1
    rows = [
        (1, f"aaa bbb ccc {shared} ddd eee fff"),
        (2, f"xxx yyy {shared} zzz www"),
        (3, "totally different words here nothing matches at all ok"),
        (4, "too short"),  # < 1 full window -> no fingerprints
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = winnow_fingerprints(df, shingle_n=3, window=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp_hash"])
    # SIGMOD'03 guarantee: a shared window+n-1 = 6-word run yields at
    # least one shared fingerprint HASH between the two docs
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[3] & by_doc[1])
    assert 4 not in by_doc
    # density sanity: selections are a strict subset of windows
    n_windows_doc1 = (12 - 3 + 1) - 4 + 1
    assert 0 < len(by_doc[1]) <= n_windows_doc1


def test_xcorr_constant_series_null_not_ansi_throw(spark):
    """A constant series zeroes the Pearson denominator — DIVIDE_BY_ZERO
    under the ANSI sessions everything runs; correlation is undefined
    there → NULL (what SQL corr() returns for constant input)."""
    import datetime as dt
    from datatools_spark.operators.correlate import bucket_mean, xcorr_lags
    rows_a = [(("s"), dt.datetime(2024, 1, 1, h), 5.0) for h in range(12)]
    rows_b = [(("s"), dt.datetime(2024, 1, 1, h), float(h)) for h in range(12)]
    a = bucket_mean(spark.createDataFrame(
        rows_a, "k string, ts timestamp, value double"), "k")
    b = bucket_mean(spark.createDataFrame(
        rows_b, "k string, ts timestamp, value double"), "k")
    out = xcorr_lags(a.drop("k"), b.drop("k"), max_lag=1).collect()
    assert out and all(r["xcorr"] is None for r in out)


def test_dtw_pair_distances_matches_reference(spark):
    import itertools
    import math
    from datatools_spark.operators.correlate import dtw_pair_distances

    def ref_dtw(x, y):
        n, m = len(x), len(y)
        D = [[math.inf] * (m + 1) for _ in range(n + 1)]
        D[0][0] = 0.0
        for i in range(1, n + 1):
            for j in range(1, m + 1):
                d = abs(x[i - 1] - y[j - 1])
                D[i][j] = d + min(D[i - 1][j - 1], D[i - 1][j], D[i][j - 1])
        return D[n][m]

    import datetime as dtm
    t0 = dtm.datetime(2024, 1, 1)
    series = {
        "a": [1.0, 2.0, 3.0, 2.0, 1.0, 0.0],
        "b": [1.0, 1.0, 2.0, 3.0, 3.0, 2.0, 1.0, 0.0],  # a, stretched
        "c": [5.0, 5.0, 5.0, 5.0, 5.0, 5.0],
    }
    rows = [(k, t0 + dtm.timedelta(hours=i), v)
            for k, vs in series.items() for i, v in enumerate(vs)]
    df = spark.createDataFrame(rows, ["series", "ts", "value"])
    pairs = spark.createDataFrame(
        [(a, b) for a, b in itertools.combinations(sorted(series), 2)]
        + [("a", "a")], ["a", "b"])
    got = {(r.a, r.b): r for r in
           dtw_pair_distances(df, pairs, grain="HOUR").collect()}
    for (a, b), r in got.items():
        assert r.dtw == ref_dtw(series[a], series[b]), (a, b)
        assert (r.n_a, r.n_b) == (len(series[a]), len(series[b]))
    assert got[("a", "a")].dtw == 0.0
    # elasticity: the stretched copy is far closer than the flat line
    assert got[("a", "b")].dtw < got[("a", "c")].dtw
    # a wide Sakoe-Chiba band reproduces the unbanded distance
    banded = {(r.a, r.b): r.dtw for r in
              dtw_pair_distances(df, pairs, grain="HOUR", band=10).collect()}
    assert banded == {k: v.dtw for k, v in got.items()}


def test_blocked_quantile_equals_declarative(spark):
    """rolling_quantile_blocked == the declarative percentile_cont frame
    expression, bit-for-bit, on hostile shapes (nulls, duplicate ts,
    boundary-exact offsets, trailing + centered, min_periods, q=0/1
    edges); q=0.5 also equals rolling_median_blocked exactly."""
    import datetime as dt
    import random
    from datatools_spark.operators.rolling import (
        c_rolling, rolling_median_blocked, rolling_quantile_blocked)
    rng = random.Random(23)
    t0 = dt.datetime(2024, 5, 1)
    rows = []
    for series in ("a", "b"):
        t = t0
        for _ in range(250):
            t += dt.timedelta(minutes=rng.choice([0, 5, 60, 180, 400]))
            v = None if rng.random() < 0.08 else rng.uniform(-5, 5)
            rows.append((series, t, v))
    df = spark.createDataFrame(rows, "s string, ts timestamp, value double")

    def vals(out):
        return {(r.s, r.ts, None if r.m is None else r.m)
                for r in out.collect()}

    for qq in (0.0, 0.1, 0.5, 0.9, 1.0):
        for center in (True, False):
            a = vals(c_rolling(df, "value", "6H", "quantile",
                               partition_by=["s"], out_col="m",
                               center=center, q=qq))
            b = vals(rolling_quantile_blocked(df, "value", "6H", q=qq,
                                              partition_by=["s"],
                                              chunk="12H", out_col="m",
                                              center=center))
            assert a == b, f"q={qq} center={center}"
    # q=0.5 == the median path, bit-for-bit
    m = vals(rolling_median_blocked(df, "value", "6H",
                                    partition_by=["s"], out_col="m"))
    h = vals(rolling_quantile_blocked(df, "value", "6H", q=0.5,
                                      partition_by=["s"], out_col="m"))
    assert m == h
    # min_periods gates identically
    a = vals(c_rolling(df, "value", "6H", "quantile", partition_by=["s"],
                       min_periods=3, out_col="m", q=0.9))
    b = vals(rolling_quantile_blocked(df, "value", "6H", q=0.9,
                                      partition_by=["s"], min_periods=3,
                                      out_col="m"))
    assert a == b


# ------------------------------------------------------------------ KMV

class TestKMV:
    def _items(self, spark, groups=3, per=500):
        return (spark.range(0, groups * per)
                .select((F.col("id") % groups).alias("g"),
                        F.concat(F.lit("w"),
                                 (F.col("id") % (100 * (F.lit(1)
                                  + F.col("id") % groups))).cast("string"))
                        .alias("item")))

    def test_bottom_k_matches_bruteforce(self, spark):
        from datatools_spark.operators.sketches import (kmv_hash52,
                                                        kmv_sketch)
        df = self._items(spark)
        k = 16
        got = {r["g"]: r["hs"]
               for r in kmv_sketch(df, ["g"], "item", k=k).collect()}
        brute = (df.select("g", kmv_hash52(F.col("item")).alias("h"))
                 .distinct().collect())
        import collections
        by_g = collections.defaultdict(list)
        for r in brute:
            by_g[r["g"]].append(r["h"])
        for g, hs in by_g.items():
            assert got[g] == sorted(hs)[:k]

    def test_occurrence_multiplicity_is_invariant(self, spark):
        # r11 dedup-before-hash: the md5 now runs per DISTINCT
        # (group, item-string), so a corpus with every item repeated
        # 17× must produce the exact same sketch AND the same exact
        # ndv as the deduplicated corpus (ndv still counts distinct
        # hashes, not occurrences)
        from datatools_spark.operators.sketches import kmv_sketch
        df = self._items(spark)
        rep = df.crossJoin(spark.range(17).select(F.lit(1).alias("_x")))\
            .select("g", "item")
        a = {r["g"]: (r["hs"], r["ndv"])
             for r in kmv_sketch(df, ["g"], "item", k=16,
                                 include_ndv=True).collect()}
        b = {r["g"]: (r["hs"], r["ndv"])
             for r in kmv_sketch(rep, ["g"], "item", k=16,
                                 include_ndv=True).collect()}
        assert a == b

    def test_degenerate_margin_forces_exactness_net(self, spark):
        # margin≈0 sends every group through the lazy re-rank branch;
        # the result must be identical to the default path
        from datatools_spark.operators.sketches import kmv_sketch
        df = self._items(spark)
        a = {r["g"]: r["hs"]
             for r in kmv_sketch(df, ["g"], "item", k=16).collect()}
        b = {r["g"]: r["hs"]
             for r in kmv_sketch(df, ["g"], "item", k=16,
                                 margin=1e-9).collect()}
        assert a == b

    def test_estimate_accuracy_and_small_group_exactness(self, spark):
        from datatools_spark.operators.sketches import (kmv_estimate_col,
                                                        kmv_sketch)
        # one group with ndv far over k, one with ndv under k
        big = spark.range(0, 20_000).select(
            F.lit("big").alias("g"),
            F.concat(F.lit("x"), (F.col("id") % 5_000).cast("string"))
            .alias("item"))
        small = spark.range(0, 100).select(
            F.lit("small").alias("g"),
            F.concat(F.lit("y"), (F.col("id") % 40).cast("string"))
            .alias("item"))
        k = 64
        sk = kmv_sketch(big.unionByName(small), ["g"], "item", k=k)
        est = {r["g"]: r["e"] for r in sk.select(
            "g", kmv_estimate_col(F.col("hs"), k).alias("e")).collect()}
        assert est["small"] == 40.0          # under-filled sketch: exact
        assert abs(est["big"] - 5_000) / 5_000 < 0.35  # ~1/sqrt(k) regime

    def test_merge_equals_sketch_of_union(self, spark):
        from datatools_spark.operators.sketches import (kmv_merge_col,
                                                        kmv_sketch)
        k = 32
        a = spark.range(0, 3_000).select(
            F.lit(1).alias("g"),
            F.concat(F.lit("a"), (F.col("id") % 800).cast("string"))
            .alias("item"))
        b = spark.range(0, 3_000).select(
            F.lit(1).alias("g"),
            F.concat(F.lit("a"), ((F.col("id") % 800) + 400)
                     .cast("string")).alias("item"))
        ska = kmv_sketch(a, ["g"], "item", k=k) \
            .select("g", F.col("hs").alias("ha"))
        skb = kmv_sketch(b, ["g"], "item", k=k) \
            .select("g", F.col("hs").alias("hb"))
        merged = ska.join(skb, "g").select(
            "g", kmv_merge_col(F.col("ha"), F.col("hb"), k).alias("hs"))
        direct = kmv_sketch(a.unionByName(b), ["g"], "item", k=k)
        got = merged.collect()[0]["hs"]
        want = direct.collect()[0]["hs"]
        assert got == want

    def test_jaccard_estimate_tracks_truth(self, spark):
        from datatools_spark.operators.sketches import (kmv_jaccard_col,
                                                        kmv_sketch)
        k = 128
        # |A|=900, |B|=900, overlap 600 → J = 600/1200 = 0.5
        a = spark.range(0, 900).select(
            F.lit(1).alias("g"),
            F.concat(F.lit("t"), F.col("id").cast("string")).alias("item"))
        b = spark.range(300, 1200).select(
            F.lit(1).alias("g"),
            F.concat(F.lit("t"), F.col("id").cast("string")).alias("item"))
        ska = kmv_sketch(a, ["g"], "item", k=k) \
            .select("g", F.col("hs").alias("ha"))
        skb = kmv_sketch(b, ["g"], "item", k=k) \
            .select("g", F.col("hs").alias("hb"))
        j = (ska.join(skb, "g")
             .select(kmv_jaccard_col(F.col("ha"), F.col("hb"), k)
                     .alias("j")).collect()[0]["j"])
        assert abs(j - 0.5) < 0.15

    def test_jaccard_of_empty_sketches_is_null_not_ansi_throw(self, spark):
        """Two empty sketches used to hit 0/0 (DIVIDE_BY_ZERO under the
        ANSI sessions everything runs); Jaccard of ∅ vs ∅ is undefined
        → NULL."""
        from datatools_spark.operators.sketches import kmv_jaccard_col
        df = spark.createDataFrame(
            [([], [])], "ha array<bigint>, hb array<bigint>")
        got = df.select(kmv_jaccard_col(F.col("ha"), F.col("hb"), 8)
                        .alias("j")).collect()[0]["j"]
        assert got is None

    def test_value_sample_exact_under_k_and_accuracy(self, spark):
        """Sample sketch: exact percentile_cont when the group holds ≤ k
        rows; ~1/√k rank error on a big group; null values excluded."""
        from datatools_spark.operators.sketches import (sample_quantile_col,
                                                        value_sample_sketch)
        rows = [(1, i, float(i)) for i in range(50)] + [(1, 99, None)]
        rows += [(2, 1000 + i, float(i)) for i in range(20_000)]
        df = spark.createDataFrame(rows, "g int, id long, v double")
        sk = value_sample_sketch(df, ["g"], "id", "v", k=64)
        got = {r["g"]: r for r in sk.select(
            "g", "n_rows", F.size("vs").alias("sz"),
            sample_quantile_col(F.col("vs"), 0.5).alias("p50"),
            sample_quantile_col(F.col("vs"), 0.9).alias("p90")).collect()}
        # group 1: 50 non-null rows ≤ k → the sample IS the group
        assert got[1]["n_rows"] == 50 and got[1]["sz"] == 50
        exact = df.where("g = 1").agg(
            F.round(F.expr("percentile(v, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(v, 0.9)"), 6).alias("p90")) \
            .collect()[0]
        assert got[1]["p50"] == exact["p50"]
        assert got[1]["p90"] == exact["p90"]
        # group 2: uniform values 0..19999, k=64 → rank error ~1/√64
        assert got[2]["sz"] == 64
        assert abs(got[2]["p50"] - 10_000) < 20_000 * 0.25
        assert abs(got[2]["p90"] - 18_000) < 20_000 * 0.25

    def test_value_sample_merge_equals_whole_and_survivor_net(self, spark):
        """Merging two disjoint halves' sketches == the whole corpus's
        sketch (bit-equal arrays); a degenerate margin forces the lazy
        re-rank net and the result is unchanged."""
        from datatools_spark.operators.sketches import (
            value_sample_merge_col, value_sample_sketch)
        rows = [(1, i, float((i * 37) % 1000)) for i in range(2_000)]
        df = spark.createDataFrame(rows, "g int, id long, v double")
        k = 32
        whole = value_sample_sketch(df, ["g"], "id", "v", k=k) \
            .collect()[0]["vs"]
        ska = value_sample_sketch(df.where("id < 1000"), ["g"],
                                  "id", "v", k=k) \
            .select(F.col("vs").alias("va"))
        skb = value_sample_sketch(df.where("id >= 1000"), ["g"],
                                  "id", "v", k=k) \
            .select(F.col("vs").alias("vb"))
        merged = ska.crossJoin(skb).select(
            value_sample_merge_col(F.col("va"), F.col("vb"), k)
            .alias("vs")).collect()[0]["vs"]
        assert merged == whole
        # re-merging an overlapping sketch is idempotent
        again = ska.crossJoin(skb).select(
            value_sample_merge_col(
                value_sample_merge_col(F.col("va"), F.col("vb"), k),
                F.col("va"), k).alias("vs")).collect()[0]["vs"]
        assert again == whole
        forced = value_sample_sketch(df, ["g"], "id", "v", k=k,
                                     margin=0.001).collect()[0]["vs"]
        assert forced == whole

    def test_value_sample_store_incremental_equals_full(self, spark,
                                                        tmp_path):
        """Three batch updates == a from-scratch sketch of everything;
        a replayed batch converges (no change); a crashed (markerless)
        snapshot is invisible and the retry overwrites it."""
        from datatools_spark.operators.sketches import (
            read_value_sample_store, update_value_sample_store,
            value_sample_sketch)
        path = str(tmp_path / "vs_store")
        rows = [("s%d" % (i % 3), i, float((i * 17) % 500))
                for i in range(3_000)]
        df = spark.createDataFrame(rows, "g string, id long, v double")
        k = 48
        b1 = df.where("id < 1000")
        b2 = df.where("id >= 1000 and id < 2000")
        b3 = df.where("id >= 2000")
        for b in (b1, b2, b3):
            update_value_sample_store(spark, b, path, ["g"], "id", "v",
                                      k=k)
        got = {r["g"]: r["vs"] for r in
               read_value_sample_store(spark, path).collect()}
        want = {r["g"]: r["vs"] for r in
                value_sample_sketch(df, ["g"], "id", "v", k=k).collect()}
        assert got == want
        # replayed batch: identical (h, v) rows collapse — store unchanged
        update_value_sample_store(spark, b2, path, ["g"], "id", "v", k=k)
        got2 = {r["g"]: r["vs"] for r in
                read_value_sample_store(spark, path).collect()}
        assert got2 == want
        # crash injection: a newer markerless snapshot must be invisible
        import os
        import shutil
        snaps = sorted(d for d in os.listdir(path) if d.startswith("vs-b"))
        orphan = f"{path}/vs-b{int(snaps[-1][4:]) + 1}"
        shutil.copytree(f"{path}/{snaps[-1]}", orphan)
        os.remove(f"{orphan}/_SUCCESS")
        got3 = {r["g"]: r["vs"] for r in
                read_value_sample_store(spark, path).collect()}
        assert got3 == want
        # a foreign dir under the store (an operator's copy) is not a
        # snapshot: the read and the next update still succeed
        shutil.copytree(f"{path}/{snaps[-1]}", f"{path}/{snaps[-1]}-tmp")
        update_value_sample_store(spark, b2, path, ["g"], "id", "v", k=k)
        got4 = {r["g"]: r["vs"] for r in
                read_value_sample_store(spark, path).collect()}
        assert got4 == want

    def test_kmv_store_incremental_equals_full(self, spark, tmp_path):
        """Three batch updates (overlapping items, new groups mid-way)
        produce EXACTLY the sketch of the full corpus — bottom-k merge
        is exact — and replaying a batch changes nothing."""
        from datatools_spark.operators.sketches import (
            kmv_sketch, read_kmv_store, update_kmv_store)
        path = str(tmp_path / "kmv_store")
        k = 32
        b1 = spark.range(0, 600).select(
            (F.col("id") % 2).alias("g"),
            F.concat(F.lit("w"), (F.col("id") % 250).cast("string"))
            .alias("item"))
        b2 = spark.range(200, 900).select(
            (F.col("id") % 2).alias("g"),
            F.concat(F.lit("w"), (F.col("id") % 400).cast("string"))
            .alias("item"))
        b3 = spark.range(0, 150).select(
            F.lit(7).alias("g"),                      # brand-new group
            F.concat(F.lit("z"), F.col("id").cast("string")).alias("item"))
        for b in (b1, b2, b3):
            update_kmv_store(spark, b, path, ["g"], "item", k=k)
        got = {r["g"]: r["hs"]
               for r in read_kmv_store(spark, path).collect()}
        want = {r["g"]: r["hs"] for r in kmv_sketch(
            b1.unionByName(b2).unionByName(b3), ["g"], "item",
            k=k).collect()}
        assert got == want
        # replay convergence: re-ingesting b2 is a no-op on the sketch
        update_kmv_store(spark, b2, path, ["g"], "item", k=k)
        again = {r["g"]: r["hs"]
                 for r in read_kmv_store(spark, path).collect()}
        assert again == got
        # a foreign dir under the store (an operator's copy) is not a
        # snapshot: the read and the next update still succeed
        import os
        import shutil
        last = max(int(d[5:]) for d in os.listdir(path)
                   if d[5:].isdigit())
        shutil.copytree(f"{path}/kmv-b{last}", f"{path}/kmv-b{last}.bak")
        assert {r["g"]: r["hs"]
                for r in read_kmv_store(spark, path).collect()} == got
        update_kmv_store(spark, b3, path, ["g"], "item", k=k)
        assert {r["g"]: r["hs"]
                for r in read_kmv_store(spark, path).collect()} == got

    @staticmethod
    def _sample_store(kind):
        """``(update, read, sketch, col, salt)`` of one sample-store kind
        over a ``g, key, item, v`` frame: KMV sketches ``item``, the
        value sample samples ``v`` by ``key``."""
        from datatools_spark.operators import sketches as SK
        if kind == "kmv":
            return (lambda spark, b, path, k: SK.update_kmv_store(
                        spark, b, path, ["g"], "item", k=k),
                    SK.read_kmv_store,
                    lambda b, k: SK.kmv_sketch(b, ["g"], "item", k=k),
                    "hs", "kmv")
        return (lambda spark, b, path, k: SK.update_value_sample_store(
                    spark, b, path, ["g"], "key", "v", k=k),
                SK.read_value_sample_store,
                lambda b, k: SK.value_sample_sketch(b, ["g"], "key", "v",
                                                    k=k),
                "vs", "vsmpl")

    @pytest.mark.parametrize("kind", ["kmv", "value_sample"])
    def test_kmv_store_null_group_key_merges_not_forks(self, spark,
                                                       tmp_path, kind):
        """A NULL group key is a legitimate group: the snapshot⨝batch
        merge must be null-safe (r6-advice medium finding 3) — plain
        equality would fork the NULL group into a new store row on
        every update instead of merging its sketches."""
        update, read, sketch, col, _ = self._sample_store(kind)
        path = str(tmp_path / "null_store")
        k = 16
        schema = "g string, key long, item string, v double"
        b1 = spark.createDataFrame(
            [(None, 1, "w1", 1.0), (None, 2, "w2", 2.0),
             ("g1", 3, "w3", 3.0)], schema)
        b2 = spark.createDataFrame(
            [(None, 4, "w2", 4.0), (None, 5, "w4", 5.0),
             ("g1", 6, "w5", 6.0)], schema)
        for b in (b1, b2):
            update(spark, b, path, k)
        rows = read(spark, path).collect()
        assert len(rows) == 2, f"NULL group forked: {rows}"
        got = {r["g"]: r[col] for r in rows}
        want = {r["g"]: r[col]
                for r in sketch(b1.unionByName(b2), k).collect()}
        assert got == want

    @pytest.mark.parametrize("kind", ["kmv", "value_sample"])
    def test_kmv_store_survives_empty_first_batch(self, spark, tmp_path,
                                                  kind):
        """A committed ZERO-ROW first snapshot (e.g. an empty streaming
        micro-batch) must not brick the store: the row-literal geometry
        stamp is vacuous on an empty table, so later updates and reads
        accept it and proceed (pre-fix: IndexError on every subsequent
        call, permanently)."""
        update, read, sketch, col, salt = self._sample_store(kind)
        path = str(tmp_path / "empty_store")
        empty = spark.createDataFrame(
            [], "g long, key long, item string, v double")
        update(spark, empty, path, 16)
        b = spark.range(0, 100).select(
            (F.col("id") % 2).alias("g"), F.col("id").alias("key"),
            F.concat(F.lit("w"), F.col("id").cast("string")).alias("item"),
            (F.col("id") * 1.5).alias("v"))
        update(spark, b, path, 16)
        got = {r["g"]: r[col] for r in
               read(spark, path, k=16, salt=salt).collect()}
        want = {r["g"]: r[col] for r in sketch(b, 16).collect()}
        assert got == want

    # Spark jobs per builder call. The forced redo path (margin=1e-9)
    # runs no more than the fast path: its re-rank stays lazy until the
    # caller's action.
    @pytest.mark.parametrize("kind,margin,jobs", [
        ("kmv", 4.0, 5), ("kmv", 1e-9, 5),
        ("value_sample", 4.0, 4), ("value_sample", 1e-9, 4)])
    def test_sketch_builder_job_count(self, spark, kind, margin, jobs):
        from datatools_spark.operators.sketches import (kmv_sketch,
                                                        value_sample_sketch)
        from .conftest import count_jobs
        df = spark.range(0, 1500).select(
            (F.col("id") % 3).alias("g"), F.col("id").alias("key"),
            F.concat(F.lit("w"), (F.col("id") % 300).cast("string"))
            .alias("item"), (F.col("id") % 17).cast("double").alias("v"))
        if kind == "kmv":
            def build():
                return kmv_sketch(df, ["g"], "item", k=16, margin=margin)
        else:
            def build():
                return value_sample_sketch(df, ["g"], "key", "v", k=16,
                                           margin=margin)
        _, n = count_jobs(spark, build)
        assert n == jobs

    def test_store_update_job_counts(self, spark, tmp_path):
        """Spark jobs of a warm update of each sketch store and of a
        geometry-checked CMS read."""
        from datatools_spark.operators.sketches import (read_cms_store,
                                                        update_cms_store)
        from .conftest import count_jobs
        b = lambda i: spark.range(i * 50, i * 50 + 80).select(  # noqa: E731
            (F.col("id") % 3).alias("g"), F.col("id").alias("key"),
            F.concat(F.lit("w"), (F.col("id") % 41).cast("string"))
            .alias("item"), (F.col("id") % 7).cast("double").alias("v"))
        got = {}
        for kind in ("kmv", "value_sample"):
            update = self._sample_store(kind)[0]
            path = str(tmp_path / kind)
            update(spark, b(0), path, 8)
            got[kind] = count_jobs(spark,
                                   lambda: update(spark, b(1), path, 8))[1]
        path = str(tmp_path / "cms")
        update_cms_store(spark, b(0), path, "item", 0)
        got["cms"] = count_jobs(spark, lambda: update_cms_store(
            spark, b(1), path, "item", 1))[1]
        got["cms_read"] = count_jobs(spark, lambda: read_cms_store(
            spark, path, depth=4, width=1024, salt="cms"))[1]
        assert got == {"kmv": 14, "value_sample": 13, "cms": 8,
                       "cms_read": 3}

    def test_cms_store_pre_watermark_layout_message(self, spark,
                                                    tmp_path):
        """A pre-r9 CMS snapshot has no state/ table at all — the
        layout guard must surface the rebuild guidance, not an opaque
        PATH_NOT_FOUND from the state read."""
        import pytest as _pytest

        from datatools_spark.operators.sketches import (
            read_cms_store, update_cms_store)
        path = str(tmp_path / "cms_old_store")
        gen = f"{path}/cms-b0"
        spark.range(1).select(
            F.lit(0).alias("row"), F.lit(0).alias("bucket"),
            F.lit(1).alias("c")).write.parquet(f"{gen}/sketch")
        # emulate the pre-watermark layout: batches/ id set, no state/
        spark.range(1).select(F.lit(0).alias("batch_id")) \
            .write.parquet(f"{gen}/batches")
        jvm = spark._jvm
        fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
            spark._jsc.hadoopConfiguration())
        fs.create(jvm.org.apache.hadoop.fs.Path(f"{gen}/_SUCCESS")).close()
        batch = spark.range(1).select(F.lit("w").alias("item"))
        with _pytest.raises(ValueError, match="pre-watermark"):
            update_cms_store(spark, batch, path, "item", 1)
        with _pytest.raises(ValueError, match="pre-watermark"):
            read_cms_store(spark, path, depth=4)

    def test_cms_store_ledger_exactly_once_and_crash_safe(self, spark,
                                                          tmp_path):
        """CMS at rest: three batch folds equal a from-scratch sketch
        of everything; a REPLAYED batch_id is a detected no-op (a
        counter sketch cannot rely on value idempotence — re-adding
        counts doubles them, so the store keeps a per-writer watermark
        ledger); a markerless (crashed) snapshot is invisible."""
        from datatools_spark.operators.sketches import (
            cms_build, read_cms_store, update_cms_store)
        path = str(tmp_path / "cms_store")
        mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
            F.concat(F.lit("w"), (F.col("id") % 50).cast("string"))
            .alias("item"))
        b1, b2, b3 = mk(0, 500), mk(500, 1200), mk(1200, 1500)
        assert update_cms_store(spark, b1, path, "item", 1)["skipped"] \
            is False
        assert update_cms_store(spark, b2, path, "item", 2)["skipped"] \
            is False
        # replayed batch id: no-op instead of double counts
        assert update_cms_store(spark, b2, path, "item", 2)["skipped"] \
            is True
        update_cms_store(spark, b3, path, "item", 3)
        got = {(r["row"], r["bucket"]): r["c"]
               for r in read_cms_store(spark, path).collect()}
        want = {(r["row"], r["bucket"]): r["c"]
                for r in cms_build(
                    b1.unionByName(b2).unionByName(b3), "item").collect()}
        assert got == want
        # crash injection: a newer markerless snapshot is invisible
        import os
        import shutil
        snaps = sorted(d for d in os.listdir(path)
                       if d.startswith("cms-b"))
        orphan = f"{path}/cms-b{int(snaps[-1][5:]) + 1}"
        shutil.copytree(f"{path}/{snaps[-1]}", orphan)
        os.remove(f"{orphan}/_SUCCESS")
        got2 = {(r["row"], r["bucket"]): r["c"]
                for r in read_cms_store(spark, path).collect()}
        assert got2 == want
        # a foreign dir under the store (an operator's copy) is not a
        # snapshot: the read and the next update still succeed
        shutil.copytree(f"{path}/{snaps[-1]}", f"{path}/{snaps[-1]}.bak")
        b4 = mk(1500, 1600)
        assert update_cms_store(spark, b4, path, "item", 4)["skipped"] \
            is False
        got3 = {(r["row"], r["bucket"]): r["c"]
                for r in read_cms_store(spark, path).collect()}
        assert got3 == {(r["row"], r["bucket"]): r["c"]
                        for r in cms_build(
                            b1.unionByName(b2).unionByName(b3)
                            .unionByName(b4), "item").collect()}

    def test_cms_store_writer_scoping_geometry_and_flat_ledger(
            self, spark, tmp_path):
        """r9 hardening of the CMS ledger (r8 ADVICE mediums + VERDICT
        #3): (a) the ledger is a per-writer WATERMARK, so a new writer
        whose batch ids restart at 0 still folds (the bare-id ledger
        silently skipped it) while a same-writer replay skips; (b) the
        ledger stays ONE ROW PER WRITER regardless of batches folded —
        update cost no longer grows with ingest history; (c) geometry
        (depth,width,salt) is persisted and a mismatched update or read
        raises instead of corrupting counts; (d) a non-integer batch_id
        raises (the monotonic contract is unmeetable without one)."""
        import pytest
        from datatools_spark.operators.sketches import (
            cms_build, read_cms_store, update_cms_store)
        path = str(tmp_path / "cms_store")
        mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
            F.concat(F.lit("w"), (F.col("id") % 40).cast("string"))
            .alias("item"))
        b1, b2 = mk(0, 300), mk(300, 800)
        for i, b in enumerate([b1, b2]):
            update_cms_store(spark, b, path, "item", i, app_id="run-a")
        # same writer, replayed/out-of-order id: watermark no-op
        assert update_cms_store(spark, b1, path, "item", 0,
                                app_id="run-a")["skipped"] is True
        # NEW writer with recycled id 0: folds (the r8 bug skipped it)
        assert update_cms_store(spark, b1, path, "item", 0,
                                app_id="run-b")["skipped"] is False
        got = {(r["row"], r["bucket"]): r["c"]
               for r in read_cms_store(spark, path, depth=4, width=1024,
                                       salt="cms").collect()}
        want = {(r["row"], r["bucket"]): r["c"] for r in cms_build(
            b1.unionByName(b2).unionByName(b1), "item").collect()}
        assert got == want
        # ledger: one row per writer, not one per batch
        import os
        snaps = sorted(int(d[5:]) for d in os.listdir(path)
                       if d.startswith("cms-b")
                       and os.path.isfile(f"{path}/{d}/_SUCCESS"))
        state = spark.read.parquet(f"{path}/cms-b{snaps[-1]}/state")
        assert state.count() == 2
        assert {r["app_id"] for r in state.collect()} == {"run-a",
                                                          "run-b"}
        # geometry guard: mismatched update and mismatched read raise
        with pytest.raises(ValueError, match="geometry"):
            update_cms_store(spark, b1, path, "item", 9, width=2048,
                             app_id="run-c")
        with pytest.raises(ValueError, match="different"):
            read_cms_store(spark, path, salt="other")
        with pytest.raises(TypeError, match="integer"):
            update_cms_store(spark, b1, path, "item", "not-a-number")

    def test_kmv_and_value_sample_stores_stamp_and_enforce_geometry(
            self, spark, tmp_path):
        """The r9 CMS-geometry guard applied to the whole sketch-store
        family: KMV and value-sample snapshots stamp (k, salt) as
        literal columns; an update or validated read with different
        geometry raises instead of silently merging incompatible hash
        spaces (different salt) or truncating a larger-k store. The
        public read schema is unchanged (meta columns dropped)."""
        import pytest
        from datatools_spark.operators.sketches import (
            read_kmv_store, read_value_sample_store, update_kmv_store,
            update_value_sample_store)
        kp, vp = str(tmp_path / "k"), str(tmp_path / "v")
        b = spark.range(0, 300).selectExpr("id % 3 as g",
                                           "concat('x', id) as item")
        update_kmv_store(spark, b, kp, ["g"], "item", k=32)
        assert read_kmv_store(spark, kp, k=32, salt="kmv").columns \
            == ["g", "hs"]
        with pytest.raises(ValueError, match="geometr"):
            update_kmv_store(spark, b, kp, ["g"], "item", k=64)
        with pytest.raises(ValueError, match="geometr"):
            read_kmv_store(spark, kp, salt="other")
        v = spark.range(0, 200).selectExpr("id % 2 as g", "id as key",
                                           "id * 1.5 as v")
        update_value_sample_store(spark, v, vp, ["g"], "key", "v", k=16)
        assert read_value_sample_store(spark, vp).columns == ["g", "vs"]
        with pytest.raises(ValueError, match="geometr"):
            update_value_sample_store(spark, v, vp, ["g"], "key", "v",
                                      k=16, salt="zzz")

    def test_value_sample_check_keys_raises_on_duplicate_keys(self, spark):
        """Duplicate keys collapse to ONE hash, so the duplicated row is
        either over-represented (its value sampled whenever the hash
        lands in the bottom-k) or silently halved — a BIASED sample
        either way. check_keys=True makes the contract violation loud
        (r7 VERDICT #6); unique keys pass the same check."""
        import pytest
        from datatools_spark.operators.sketches import value_sample_sketch
        dup = spark.createDataFrame(
            [(1, 7, 1.0), (1, 7, 2.0), (1, 8, 3.0)],
            "g int, id long, v double")
        with pytest.raises(ValueError, match="not unique"):
            value_sample_sketch(dup, ["g"], "id", "v", k=8,
                                check_keys=True)
        # a duplicate key hidden behind a NULL value is excluded before
        # the check (it cannot bias a sample it never enters)
        ok = spark.createDataFrame(
            [(1, 7, 1.0), (1, 7, None), (1, 8, 3.0)],
            "g int, id long, v double")
        got = value_sample_sketch(ok, ["g"], "id", "v", k=8,
                                  check_keys=True).collect()
        assert len(got) == 1 and got[0]["n_rows"] == 2


def test_rolling_stats_blocked_matches_declarative(spark):
    """rolling_stats_blocked (one pandas pass, several stats over the
    shared frame) matches the declarative range-frame window to 9 dp —
    pandas' incremental rolling mean/std drift from Spark's per-row
    re-aggregation only at ulp level. Nulls, boundary-exact offsets and
    min_periods included; count/min/max must be exactly equal."""
    import datetime as dt
    import random
    from pyspark.sql import Window
    from datatools_spark.operators.rolling import rolling_stats_blocked
    rng = random.Random(11)
    t0 = dt.datetime(2024, 3, 1)
    rows = []
    for series in ("a", "b"):
        t = t0
        for _ in range(300):
            t += dt.timedelta(minutes=rng.choice([5, 60, 180, 400]))
            v = None if rng.random() < 0.08 else rng.uniform(-5, 5)
            rows.append((series, t, v))
    df = spark.createDataFrame(rows, "s string, ts timestamp, value double")
    got = {(r.s, r.ts): r for r in rolling_stats_blocked(
        df, "value", "6H",
        {"m": "mean", "sd": "std", "n": "count", "lo": "min", "hi": "max"},
        partition_by=["s"], chunk="12H").collect()}
    w = (Window.partitionBy("s").orderBy(F.unix_micros("ts"))
         .rangeBetween(-3 * 3600 * 1_000_000, 3 * 3600 * 1_000_000))
    exp = df.select("s", "ts",
                    F.avg("value").over(w).alias("m"),
                    F.stddev_samp("value").over(w).alias("sd"),
                    F.count("value").over(w).alias("n"),
                    F.min("value").over(w).alias("lo"),
                    F.max("value").over(w).alias("hi")).collect()
    assert len(got) == len(exp)
    for e in exp:
        g = got[(e.s, e.ts)]
        for c in ("m", "sd"):
            a, b = getattr(g, c), getattr(e, c)
            assert (a is None) == (b is None), (e.s, e.ts, c, a, b)
            if a is not None:
                assert abs(a - b) < 1e-9, (e.s, e.ts, c, a, b)
        assert int(g.n) == e.n
        assert g.lo == e.lo and g.hi == e.hi, (e.s, e.ts)


def test_rolling_stats_blocked_rejects_unknown_stat(spark):
    import datetime as dt
    import pytest
    from datatools_spark.operators.rolling import rolling_stats_blocked
    df = spark.createDataFrame([(dt.datetime(2024, 1, 1), 1.0)],
                               "ts timestamp, value double")
    with pytest.raises(ValueError, match="unsupported"):
        rolling_stats_blocked(df, "value", "6H", {"x": "kurtosis"})


def test_rolling_blocked_isolated_point_yields_null_not_nan(spark):
    """The r6-advice latent bug: pandas emits NaN where the frame is
    degenerate — std over a 1-observation frame (ddof=1), median over an
    all-null frame — while stddev_samp/the declarative window yield
    NULL. Spark orders NaN ABOVE every double, so a leaked NaN makes
    `sd > 0` (the ts_anomaly_zscore gate) pass on an isolated point.
    Every blocked engine must mask NaN→NULL, matching the declarative
    plan exactly on the isolated-point fixture."""
    import datetime as dt
    import math
    from pyspark.sql import Window
    from datatools_spark.operators.rolling import (
        rolling_median_blocked, rolling_quantile_blocked,
        rolling_stats_blocked)
    t0 = dt.datetime(2024, 5, 1)
    rows = [
        ("a", t0, 3.0),                                 # isolated: 1-row frame
        ("a", t0 + dt.timedelta(hours=10), 1.0),        # pair within one frame
        ("a", t0 + dt.timedelta(hours=10, minutes=20), 5.0),
        ("a", t0 + dt.timedelta(hours=20), None),       # isolated all-null frame
    ]
    df = spark.createDataFrame(rows, "s string, ts timestamp, value double")

    st = {(r.s, r.ts): r for r in rolling_stats_blocked(
        df, "value", "1H", {"m": "mean", "sd": "std", "va": "var"},
        partition_by=["s"], chunk="6H").collect()}
    med = {(r.s, r.ts): r for r in rolling_median_blocked(
        df, "value", "1H", partition_by=["s"], chunk="6H",
        out_col="md").collect()}
    q90 = {(r.s, r.ts): r for r in rolling_quantile_blocked(
        df, "value", "1H", 0.9, partition_by=["s"], chunk="6H",
        out_col="p90").collect()}
    for d in (st, med, q90):
        for r in d.values():
            for c in ("m", "sd", "va", "md", "p90"):
                v = getattr(r, c, None)
                assert v is None or not math.isnan(v), (r, c)
    iso = ("a", t0)
    assert st[iso].sd is None and st[iso].va is None
    assert st[iso].m == 3.0
    nullf = ("a", t0 + dt.timedelta(hours=20))
    assert st[nullf].m is None and st[nullf].sd is None
    assert med[nullf].md is None and q90[nullf].p90 is None

    # blocked == declarative on the whole fixture, nulls included
    w = (Window.partitionBy("s").orderBy(F.unix_micros("ts"))
         .rangeBetween(-1800 * 1_000_000, 1800 * 1_000_000))
    exp = {(r.s, r.ts): r for r in df.select(
        "s", "ts", F.avg("value").over(w).alias("m"),
        F.stddev_samp("value").over(w).alias("sd")).collect()}
    for key, e in exp.items():
        g = st[key]
        assert (g.sd is None) == (e.sd is None), key
        assert (g.m is None) == (e.m is None), key
        if g.sd is not None:
            assert abs(g.sd - e.sd) < 1e-9
    # and the anomaly gate itself: sd > 0 must be NULL-false, not NaN-true
    flagged = (rolling_stats_blocked(df, "value", "1H", {"sd": "std"},
                                     partition_by=["s"], chunk="6H")
               .where(F.col("sd") > 0).count())
    assert flagged == 2  # only the genuine pair rows have sd > 0


def test_simhash_wide_bits_vary_above_32(spark):
    """bits > 32 signatures must not have constant-zero high bits: the
    32-bit token hash made every bit j >= 32 sum to -n (bit 0), so a
    band over the high bits keyed the WHOLE corpus to one bucket."""
    from datatools_spark.operators.dedup import simhash_col
    import pytest as _pytest
    df = spark.createDataFrame(
        [(i, f"totally different words {i} here {i * 7} more") for i in range(30)],
        "doc_id long, text string")
    sigs = {r["doc_id"]: r["simhash"]
            for r in simhash_col(df, bits=48).collect()}
    highs = {s >> 32 for s in sigs.values()}
    assert len(highs) > 1, "high 16 bits constant across corpus"
    # exactness on the LOW bits too: the 60-bit hash exceeds double's
    # 53-bit mantissa, so a double-division bit extraction rounds the
    # low ~7 bits away (every doc's low bits bias to 0). Compare against
    # a pure-Python reimplementation (md5 15-hex-char hash, exact ints).
    import hashlib

    def py_simhash(text, bits):
        sums = [0] * bits
        for w in text.strip(" ").lower().split():
            h = int(hashlib.md5(f"7:{w}".encode()).hexdigest()[:15], 16)
            for j in range(bits):
                sums[j] += 1 if (h >> j) & 1 else -1
        return sum((1 << j) for j in range(bits) if sums[j] > 0)

    for i in range(30):
        text = f"totally different words {i} here {i * 7} more"
        assert sigs[i] == py_simhash(text, 48), f"doc {i} low-bit mismatch"
    # bits <= 32 keeps the original oracle-pinned 8-hex-char hash
    sig32 = simhash_col(df, bits=16).collect()
    assert all(0 <= r["simhash"] < (1 << 16) for r in sig32)
    with _pytest.raises(ValueError, match="60 bits"):
        simhash_col(df, bits=62)


def test_minhash_lsh_pairs_validates_banding(spark):
    """bands must divide num_hashes with >= 1 hash per band:
    rows_per_band = 0 keys every doc to '' (all-pairs n² join) and a
    remainder silently drops hashes from banding."""
    from datatools_spark.operators.dedup import minhash_lsh_pairs
    import pytest as _pytest
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="divide"):
        minhash_lsh_pairs(df, num_hashes=16, bands=32)
    with _pytest.raises(ValueError, match="divide"):
        minhash_lsh_pairs(df, num_hashes=16, bands=5)


def test_text_store_tombstones_unsignable_docs(spark, tmp_path):
    """A doc MinHash cannot sign (NULL, empty, under 3 words: no
    shingles) is stored once as a tombstone (NULL _sig, _pp = -1), so a
    replayed batch carrying it returns 0 at the cost of a warm all-seen
    update instead of signing it again; pairing skips tombstones."""
    from datatools_spark.operators.sigstore import (
        lsh_pairs_against_store, resolve_signature_root,
        update_signature_store)
    from .conftest import count_jobs
    words = " ".join(f"w{j}" for j in range(12))
    ok = [(1, words), (2, words), (3, "x y z " + words)]
    bad = [(7, None), (8, ""), (9, "two words")]
    batch = spark.createDataFrame(ok + bad, "doc_id bigint, text string")
    path = str(tmp_path / "sigstore")
    assert update_signature_store(spark, batch, path) == 3
    store = spark.read.parquet(resolve_signature_root(spark, path))
    assert {(r["doc_id"], r["_pp"]) for r in store.where("_sig is null")
            .collect()} == {(7, -1), (8, -1), (9, -1)}
    warm = spark.createDataFrame(ok, "doc_id bigint, text string")
    _, n_warm = count_jobs(spark, lambda: update_signature_store(
        spark, warm, path))
    n, n_replay = count_jobs(spark, lambda: update_signature_store(
        spark, batch, path))
    assert n == 0 and n_replay <= n_warm
    got = {(r["a_id"], r["b_id"]): r["jaccard_est"] for r in
           lsh_pairs_against_store(spark, batch.select("doc_id"),
                                   path).collect()}
    assert got[(1, 2)] == 1.0 and set(got) <= {(1, 2), (1, 3), (2, 3)}


def test_selectk_heavy_duplicate_short_circuit_equals_builtin(spark):
    """Module-contract worst case: a group dominated by one repeated
    value (whose bin holds the median) resolves WITHOUT ranking — the
    short-circuit must produce exactly the builtin median, including
    the all-equal group and even-count averaging."""
    import random
    from datatools_spark.operators.selectk import exact_grouped_median
    rnd = random.Random(3)
    rows = [("hot", 5.0 if rnd.random() < 0.9 else rnd.uniform(0, 10))
            for _ in range(5000)]
    rows += [("norm", rnd.gauss(0, 1)) for _ in range(999)]   # odd count
    rows += [("const", 2.5)] * 400                            # even count
    df = spark.createDataFrame(rows, "g string, value double")
    got = {r["g"]: r["median"]
           for r in exact_grouped_median(df, ["g"]).collect()}
    want = {r["g"]: r["m"] for r in
            df.groupBy("g").agg(F.median("value").alias("m")).collect()}
    assert got == want


def test_interval_lookup_join_with_on_keys(spark):
    """The documented on=(...) parameter must work: the old code
    dropped the key columns from the schedule BEFORE the join, severing
    the attributes the condition referenced (MISSING_ATTRIBUTES on
    every keyed call)."""
    import datetime as dt
    from datatools_spark.operators.intervals import interval_lookup_join
    t = dt.datetime
    df = spark.createDataFrame(
        [("a", t(2024, 1, 5)), ("b", t(2024, 1, 5)), ("a", t(2024, 2, 5))],
        "station string, ts timestamp")
    sched = spark.createDataFrame(
        [("a", t(2024, 1, 1), t(2024, 1, 31), 1.0),
         ("b", t(2024, 1, 1), t(2024, 1, 31), 2.0)],
        "station string, start_ts timestamp, end_ts timestamp, height double")
    out = {(r["station"], r["ts"].month): r["height"]
           for r in interval_lookup_join(df, sched, on=("station",)).collect()}
    assert out == {("a", 1): 1.0, ("b", 1): 2.0, ("a", 2): None}


def test_asof_join_tolerance_gates_per_column_source(spark):
    """Tolerance must gate each column's OWN last non-null source
    timestamp: a newer right row with a null in that column must not
    launder a stale value past the bound."""
    import datetime as dt
    from datatools_spark.operators.intervals import asof_join
    t0 = dt.datetime(2024, 1, 1)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)  # noqa: E731
    left = spark.createDataFrame([(1, s(11))], "lid long, ts timestamp")
    right = spark.createDataFrame(
        [(s(1), 5.0), (s(10), None)], "ts timestamp, p double")
    row = asof_join(left, right, tolerance=2).collect()[0]
    assert row["p"] is None      # v=5 came from ts=1, gap 10 > 2
    row2 = asof_join(left, right, tolerance=60).collect()[0]
    assert row2["p"] == 5.0      # within the loose bound it DOES carry


def test_asof_join_rejects_left_column_collision(spark):
    import datetime as dt
    import pytest as _pytest
    from datatools_spark.operators.intervals import asof_join
    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame([(1, t0, 9.0)],
                                 "lid long, ts timestamp, value double")
    right = spark.createDataFrame([(t0, 5.0)], "ts timestamp, value double")
    with _pytest.raises(ValueError, match="value"):
        asof_join(left, right)


def test_apply_corrections_min_and_max_rows_same_day(spark):
    """A day carrying BOTH a min and a max correction row (the only way
    to correct the two sides to different values) must produce ONE
    fully-corrected row, not two partially-corrected duplicates."""
    import datetime as dt
    from datatools_spark.operators.extrema import apply_corrections
    d = dt.datetime(2024, 1, 1)
    extrema = spark.createDataFrame(
        [(d, 2.0, d + dt.timedelta(hours=3), 8.0, d + dt.timedelta(hours=15))],
        "day timestamp, min_val double, min_time timestamp, "
        "max_val double, max_time timestamp")
    corr = spark.createDataFrame(
        [(d, "min", 1.0, None, None, None),
         (d, "max", 9.0, None, None, None)],
        "day timestamp, which string, new_value double, new_time timestamp, "
        "find_between_start_hrs double, find_between_end_hrs double")
    rows = apply_corrections(extrema, corr).collect()
    assert len(rows) == 1
    assert rows[0]["min_val"] == 1.0 and rows[0]["max_val"] == 9.0


def test_daily_extrema_min_first_window_beyond_next_day(spark):
    """max_window > 24h: the follow-window candidate explode must reach
    past min_day+1 — the old fixed 2-key explode silently missed the
    true maximum on min_day+2."""
    import datetime as dt
    from datatools_spark.operators.extrema import daily_extrema
    t0 = dt.datetime(2024, 1, 1, 22, 0)
    rows = [(t0, 1.0),                                     # min, day D 22:00
            (t0 + dt.timedelta(hours=2), 5.0),             # D+1 00:00
            (t0 + dt.timedelta(hours=29), 7.0)]            # D+2 03:00, in 30h
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = {r["day"].day: (r["min_val"], r["max_val"]) for r in
           daily_extrema(df, min_first=True, max_next_day=True,
                         max_window="30h").collect()}
    assert out[1] == (1.0, 7.0)   # the D+2 03:00 max IS found


def test_bloom_build_ignores_null_keys(spark):
    """A null build key must be ignored (a plain semi join never
    matches null) — it used to crash the driver packing loop."""
    from datatools_spark.operators.bloom import bloom_build, bloom_semi_join
    build = spark.createDataFrame([("k1",), (None,), ("k2",)], "k string")
    words = bloom_build(build, "k", num_bits=1 << 10)
    assert any(words)
    probe = spark.createDataFrame([("k1",), ("k3",), (None,)], "k string")
    got = {r["k"] for r in bloom_semi_join(probe, build, "k", "k",
                                           num_bits=1 << 10).collect()}
    want = {r["k"] for r in probe.join(build, "k", "left_semi").collect()}
    assert want <= got          # bloom admits false positives only
    assert "k1" in got and None not in got


def test_linear_detrend_window_keeps_unfitted_partitions(spark):
    """A partition entirely outside the fit window must keep its rows
    (null residual), not vanish from the output."""
    import datetime as dt
    from datatools_spark.operators.detrend import linear_detrend
    t0 = dt.datetime(2024, 1, 1)
    rows = [("in", t0 + dt.timedelta(hours=h), float(h)) for h in range(10)] \
        + [("out", t0 + dt.timedelta(days=30, hours=h), float(h))
           for h in range(10)]
    df = spark.createDataFrame(rows, "s string, ts timestamp, value double")
    out = linear_detrend(df, "value",
                         window=(t0, t0 + dt.timedelta(days=1)),
                         partition_by=["s"])
    by_s = {r["s"] for r in out.collect()}
    assert by_s == {"in", "out"}
    assert all(r["value_detrended"] is None
               for r in out.where("s = 'out'").collect())


def test_patch_events_sql_whitespace_tolerant():
    """'WITH\\n  RECURSIVE x' must not fall into the plain-WITH branch:
    'WITH events AS (...), RECURSIVE x AS ...' cannot parse in DuckDB."""
    from datatools_spark.queries import _patch_events_sql
    for sep in (" ", "  ", "\n", "\n\t "):
        out = _patch_events_sql(
            f"WITH{sep}RECURSIVE x AS (SELECT 1) "
            "SELECT * FROM events JOIN x ON true")
        assert out.startswith("WITH RECURSIVE events AS "), out
        assert ", RECURSIVE" not in out, out
    # plain WITH (any whitespace) keeps the prepend-CTE shape
    out = _patch_events_sql(
        "WITH\nx AS (SELECT 1) SELECT * FROM events JOIN x ON true")
    assert out.startswith("WITH events AS "), out
    # no events reference: untouched
    sql = "SELECT 1 AS one"
    assert _patch_events_sql(sql) == sql


def test_choose_pair_plan_rule():
    """Pure dispatch rule: plain under budget, largest honest guard
    when over, LSH refusal when no guard keeps real coverage."""
    from datatools_spark.plans.chooser import (
        MAX_DF_LADDER, PAIR_MASS_FACTOR, choose_pair_plan)

    def stats(posting, total, per_rung_mass, per_rung_rows):
        s = {"posting_rows": posting, "mass_total": total,
             "n_shingles": 0}
        for k in MAX_DF_LADDER:
            s[f"mass_le_{k}"] = per_rung_mass.get(k, total)
            s[f"rows_le_{k}"] = per_rung_rows.get(k, posting)
        return s

    # natural corpus: mass ~5x posting rows, far under 64x -> plain
    assert choose_pair_plan(stats(1000, 5000, {}, {})) == ("plain", None)
    # Zipf head: total blows the budget, truncation at 1024 fits and
    # keeps coverage -> largest rung wins
    b = PAIR_MASS_FACTOR * 1000
    assert choose_pair_plan(
        stats(1000, b * 100, {1024: b - 1}, {1024: 900})) \
        == ("guarded", 1024)
    # only the tight rung fits -> it is chosen if coverage holds
    got = choose_pair_plan(stats(
        1000, b * 100,
        {1024: b * 10, 256: b * 10, 64: b * 10, 16: b - 1},
        {16: 200}))
    assert got == ("guarded", 16)
    # dup-heavy degenerate: truncated mass is tiny BECAUSE the guard
    # amputates everything (coverage ~0) -> refuse toward LSH
    got = choose_pair_plan(stats(
        1000, b * 100, {1024: 0, 256: 0, 64: 0, 16: 0},
        {1024: 10, 256: 5, 64: 2, 16: 0}))
    assert got == ("lsh", None)


def test_ngram_pairs_auto_equals_manual(spark):
    """max_df='auto' must return the same pairs as the plan it picks —
    and on a natural-ish corpus auto picks plain (no guard)."""
    from datatools_spark.operators.dedup import (
        containment_pairs, ngram_jaccard_pairs, pair_plan_stats)
    from datatools_spark.plans.chooser import choose_pair_plan
    rows = []
    for i in range(40):
        base = f"alpha bravo {i} charlie delta {i * 3} echo foxtrot {i}"
        rows.append((2 * i, base))
        rows.append((2 * i + 1, base + " golf hotel india"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    key = lambda r: (r["a_id"], r["b_id"], round(r["jaccard"], 9))  # noqa: E731
    manual = sorted(map(key, ngram_jaccard_pairs(df, threshold=0.3)
                        .collect()))
    auto = sorted(map(key, ngram_jaccard_pairs(df, threshold=0.3,
                                               max_df="auto").collect()))
    assert manual == auto and len(auto) >= 40
    ckey = lambda r: (r["src_id"], r["dst_id"],  # noqa: E731
                      round(r["containment"], 9))
    cm = sorted(map(ckey, containment_pairs(df, threshold=0.3,
                                            max_df=None).collect()))
    ca = sorted(map(ckey, containment_pairs(df, threshold=0.3,
                                            max_df="auto").collect()))
    assert cm == ca


def test_shingle_index_rebuilt_after_corpus_overwrite(spark, tmp_path):
    """Overwriting a corpus path in-session and re-reading it must not
    meet the old shingle index: the new index covers the new ids, and
    the pairs equal a cold build."""
    from datatools_spark.operators import dedup as D
    from datatools_spark.operators import memo
    path = str(tmp_path / "corpus")

    def write(n):
        rows = [(i, f"alpha beta gamma delta doc {i % 3} tail {i % 5}")
                for i in range(n)]
        spark.createDataFrame(rows, "doc_id long, text string") \
            .coalesce(1).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def ids(sh):
        return {r[0] for r in sh.select("doc_id").distinct().collect()}

    sh1, _ = D.shingle_index(write(10), "text", "doc_id", 3)
    assert ids(sh1) == set(range(10))
    docs = write(20)
    sh2, _ = D.shingle_index(docs, "text", "doc_id", 3)
    assert sh2 is not sh1 and ids(sh2) == set(range(20))
    warm = sorted(map(tuple, D.ngram_jaccard_pairs(
        docs, threshold=0.3, max_df=100).collect()))
    memo.clear()
    cold = sorted(map(tuple, D.ngram_jaccard_pairs(
        docs, threshold=0.3, max_df=100).collect()))
    assert warm == cold and any(b >= 10 for _, b, _ in warm)


def test_memo_is_lru_capped_and_thread_safe(spark):
    """The session memo keeps the CAP most recently used entries, and
    concurrent get/put from more threads than cores never loses or
    corrupts an entry (streaming batches call it from their own
    thread)."""
    import sys
    import threading
    from datatools_spark.operators import memo
    memo.clear()
    errors = []

    def work(t):
        try:
            for i in range(500):
                k = ("stress", (t + i) % (2 * memo.CAP))
                if memo.get(spark, k, lambda: k) != k:
                    errors.append(k)
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    threads = [threading.Thread(target=work, args=(t,)) for t in range(16)]
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads) and not errors
    for i in range(memo.CAP + 1):
        memo.put(spark, ("lru", i), i)
    assert memo.get(spark, ("lru", 0), lambda: "rebuilt") == "rebuilt"
    assert memo.get(spark, ("lru", memo.CAP), lambda: None) == memo.CAP
    memo.clear()


def test_ngram_pairs_auto_refuses_dup_heavy(spark):
    """A corpus of near-identical docs: every shingle's df ~ n_docs, so
    candidate mass is quadratic and no guard keeps coverage — the auto
    planner must refuse toward minhash_lsh_pairs, not silently return
    an empty result."""
    import pytest as _pytest
    from datatools_spark.operators.dedup import ngram_jaccard_pairs
    df = spark.createDataFrame(
        [(i, "the same exact sentence repeated in every document here "
              "across the whole corpus body") for i in range(600)],
        "doc_id long, text string")
    with _pytest.raises(ValueError, match="minhash_lsh_pairs"):
        ngram_jaccard_pairs(df, threshold=0.5, max_df="auto").collect()


def test_ngram_pairs_auto_picks_guard_on_zipf_head(spark):
    """A corpus with real distinct content plus a hot stop-phrase in
    every doc: total mass blows the budget, a guard fits with coverage
    — auto picks guarded and the result equals the explicit-guard run."""
    from datatools_spark.operators.dedup import (
        ngram_jaccard_pairs, pair_plan_stats)
    from datatools_spark.operators.partitioning import ensure_parallelism
    from datatools_spark.operators.text import word_shingles, words_col
    from datatools_spark.plans.chooser import choose_pair_plan
    from pyspark.sql import functions as F
    rows = []
    for i in range(1200):
        # docs i and i+600 are identical -> 600 true pairs; the hot
        # head phrase (df=1200) alone carries quadratic mass
        uniq = " ".join(f"w{i % 600}x{j}" for j in range(12))
        rows.append((i, f"common head phrase everywhere {uniq}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = (ensure_parallelism(df.select("doc_id", "text"), min_bytes=0)
          .withColumn("_words", words_col("text"))
          .select(F.col("doc_id"),
                  F.explode(word_shingles(
                      "text", 3, from_words_col="_words")).alias("_sh")))
    stats = pair_plan_stats(sh)
    plan, k = choose_pair_plan(stats)
    assert plan == "guarded", (plan, k, stats)
    key = lambda r: (r["a_id"], r["b_id"], round(r["jaccard"], 9))  # noqa: E731
    auto = sorted(map(key, ngram_jaccard_pairs(df, threshold=0.5,
                                               max_df="auto").collect()))
    explicit = sorted(map(key, ngram_jaccard_pairs(df, threshold=0.5,
                                                   max_df=k).collect()))
    assert auto == explicit
    # the 600 identical-doc pairs survive the guard (their shared tail
    # shingles are rare), and at this threshold the guarded result
    # equals the unguarded one (hot-only pairs fall below threshold)
    assert len(auto) == 600
    assert all(j == 1.0 for _, _, j in auto)


def test_choose_table_stats_plan_rule():
    # r12 (r11 VERDICT #8): the ANALYZE-stats shape is a measured
    # dispatch — fused multi-distinct (Expand ×(cols+1)) only below the
    # row threshold; per-column passes (no row multiplier) above it,
    # and conservatively when the input size is unknown.
    from datatools_spark.plans.chooser import (
        TABLE_STATS_FUSE_MAX_ROWS, choose_table_stats_plan)
    assert choose_table_stats_plan(1000) == "fused"
    assert choose_table_stats_plan(TABLE_STATS_FUSE_MAX_ROWS) == "fused"
    assert choose_table_stats_plan(
        TABLE_STATS_FUSE_MAX_ROWS + 1) == "per-column"
    assert choose_table_stats_plan(None) == "per-column"


def test_table_stats_shapes_identical(spark, tmp_path):
    # both physical shapes of ss_table_stats produce identical rows
    import os
    from datatools_spark.plans import chooser as CH
    from datatools_spark.queries import QUERIES
    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("testdata missing")
    fused = {tuple(r) for r in QUERIES["ss_table_stats"](spark, sf)
             .collect()}
    old = CH.TABLE_STATS_FUSE_MAX_ROWS
    try:
        CH.TABLE_STATS_FUSE_MAX_ROWS = 0   # force per-column
        percol = {tuple(r) for r in QUERIES["ss_table_stats"](spark, sf)
                  .collect()}
    finally:
        CH.TABLE_STATS_FUSE_MAX_ROWS = old
    assert fused == percol and len(fused) == 4
