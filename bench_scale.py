"""Scale sweep for the flagship kernels (BASELINE.md 'planned benchmarks'):

- velocity kernel: Spark bucket-tiling plan vs a faithful pandas
  reimplementation of the reference's per-grid-point loop
  (gpstools.py:524-608: date_range grid, two centered slices per point,
  median difference — reimplemented here from the documented semantics
  as the single-node baseline; scipy/matplotlib absent so the reference
  module itself cannot be imported)
- diurnal extrema days/s
- exact dedup + minhash docs/s

Writes bench/SCALE_NOTES.md and prints one JSON line.

Usage: python bench_scale.py [--quick]
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datatools_spark.operators.extrema import daily_extrema  # noqa: E402
from datatools_spark.operators.velocity import calc_velocity  # noqa: E402
from datatools_spark.session import get_spark  # noqa: E402

STAT_S, SEP_S = 1800, 4 * 3600   # 30-min stat window, 4-h separation


def force_count(df) -> int:
    """Row count that also forces every output column. A bare count()
    lets Catalyst prune aggregate EXPRESSIONS (the grid medians, max_by
    payloads) and keep only the grouping keys — the kernel would be
    timed as a distinct-count. Same fix as bench.force_value."""
    from pyspark.sql import functions as F
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.bit_xor(F.xxhash64(*df.columns)).alias("_chk")).collect()[0]
    return row["n"]


def synth_positions(n: int, cadence_s: int = 15) -> pd.DataFrame:
    t0 = dt.datetime(2024, 1, 1)
    ts = pd.date_range(t0, periods=n, freq=f"{cadence_s}s")
    i = np.arange(n)
    value = 3.0 * (i * cadence_s / 86400.0) + 0.2 * np.sin(
        2 * np.pi * i * cadence_s / 86400.0) + np.random.default_rng(7).normal(0, 0.01, n)
    return pd.DataFrame({"ts": ts, "value": value})


def pandas_reference_loop(pdf: pd.DataFrame) -> tuple[int, float]:
    """The reference's physical strategy (gpstools.py:582-596): Python loop
    over the grid, two pandas time-slices + medians per point."""
    s = pdf.set_index("ts")["value"]
    first, last = s.index[0], s.index[-1]
    grid = pd.date_range(first + pd.Timedelta(seconds=SEP_S),
                         last - pd.Timedelta(seconds=SEP_S),
                         freq=f"{STAT_S}s")
    half_sep = pd.Timedelta(seconds=SEP_S / 2)
    half_stat = pd.Timedelta(seconds=STAT_S / 2)
    t0 = time.perf_counter()
    out = []
    for t in grid:
        w0 = s[t - half_sep - half_stat: t - half_sep + half_stat]
        w1 = s[t + half_sep - half_stat: t + half_sep + half_stat]
        if len(w0) > 3 and len(w1) > 3:
            out.append((w1.median() - w0.median()) / (SEP_S / 86400.0))
    return len(out), time.perf_counter() - t0


def synth_docs(n: int, vocab: int = 5000, dup_frac: float = 0.1) -> pd.DataFrame:
    """Synthetic corpus: ~dup_frac exact duplicates + mutated near-dups."""
    rng = np.random.default_rng(11)
    words = np.array([f"w{i}" for i in range(vocab)])
    base = n - int(n * dup_frac * 2)
    texts = [" ".join(words[rng.integers(0, vocab, rng.integers(8, 40))])
             for _ in range(base)]
    texts += [texts[i % base] for i in range(int(n * dup_frac))]            # exact
    texts += [texts[i % base] + " zz" for i in range(n - len(texts))]      # near
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64),
                         "text": texts})


def dedup_sweep(spark, results: dict, sizes: list[int]) -> None:
    from datatools_spark.operators.dedup import (
        exact_dedup, minhash_lsh_pairs, simhash_col)
    for n in sizes:
        pdf = synth_docs(n)
        t0 = time.perf_counter()
        kept = pdf.drop_duplicates(subset=["text"])
        el = time.perf_counter() - t0
        results[f"dedup_pandas_exact_{n}"] = {
            "rows": n, "out": len(kept), "sec": round(el, 3),
            "rows_per_s": round(n / el)}
        sdf = spark.createDataFrame(pdf).repartition(32).cache()
        sdf.count()
        for label, fn in (
            ("exact", lambda d: exact_dedup(d)),
            ("minhash_lsh", lambda d: minhash_lsh_pairs(d, threshold=0.9)),
            ("simhash", lambda d: simhash_col(d)),
        ):
            t0 = time.perf_counter()
            out = force_count(fn(sdf))
            el = time.perf_counter() - t0
            results[f"dedup_spark_{label}_{n}"] = {
                "rows": n, "out": out, "sec": round(el, 3),
                "rows_per_s": round(n / el)}
        sdf.unpersist()


def melt_sweep(spark, results: dict, season_counts: list[int]) -> None:
    """BASELINE.md planned benchmark: melt pipeline end-to-end at 1 →
    1e4 station-seasons (120-day hourly seasons: Temp diurnal cycle,
    solar with a reflected fraction). The full E3 plan per run: 2-h
    rolling solar smoothing → daily albedo (max_by at solar peak) →
    broadcast day-key join + ffill → gated melt expression."""
    from pyspark.sql import functions as SF

    from datatools_spark.melt import calc_melt

    hours = 120 * 24
    for k in season_counts:
        n = k * hours
        df = (spark.range(n)
              .select((SF.col("id") % k).alias("station"),
                      (SF.col("id") / k).cast("long").alias("h"))
              .select("station",
                      (SF.lit("2024-01-01 00:00:00").cast("timestamp")
                       + SF.make_interval(hours=SF.col("h"))).alias("ts"),
                      (SF.sin(SF.col("h") % 24 / 24.0 * 6.283) * 8
                       + 1.0).alias("Temp"),
                      (SF.greatest(SF.sin(SF.col("h") % 24 / 24.0 * 6.283),
                                   SF.lit(0.0)) * 600).alias("Solar_incoming"))
              .withColumn("Solar_reflected", SF.col("Solar_incoming") * 0.4)
              .repartition(32).cache())
        df.count()
        t0 = time.perf_counter()
        # aggregate over melt_rate, NOT count(*): a bare count lets the
        # optimizer prune the rolling-solar window, albedo join and
        # ffill as unused columns — the "pipeline" would be a row count
        row = calc_melt(df, partition_by=["station"]).agg(
            SF.count("*").alias("n"),
            SF.sum("melt_rate").alias("chk")).collect()[0]
        el = time.perf_counter() - t0
        results[f"melt_pipeline_{k}_seasons"] = {
            "rows": n, "out": row["n"], "sec": round(el, 3),
            "rows_per_s": round(n / el)}
        df.unpersist()


def main() -> None:
    quick = "--quick" in sys.argv
    sizes = [100_000, 1_000_000] if quick else [100_000, 1_000_000, 10_000_000]
    spark = get_spark("bench-scale")
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, dict] = {}

    # pandas single-node baseline (the loop is O(grid·log n))
    for n in (100_000, 1_000_000):
        pdf = synth_positions(n)
        n_pts, t_pandas = pandas_reference_loop(pdf)
        results[f"velocity_pandas_loop_{n}"] = {
            "rows": n, "grid_points": n_pts, "sec": round(t_pandas, 3),
            "rows_per_s": round(n / t_pandas)}

    for n in sizes:
        pdf = synth_positions(n)
        sdf = spark.createDataFrame(pdf)
        sdf = sdf.repartition(32).cache()
        sdf.count()
        for label in ("exact", "approx", "selectk"):
            t0 = time.perf_counter()
            cnt = force_count(calc_velocity(sdf, ["value"],
                                            stat_window=STAT_S,
                                            separation_window=SEP_S,
                                            median_mode=label))
            el = time.perf_counter() - t0
            results[f"velocity_spark_{label}_{n}"] = {
                "rows": n, "grid_points": cnt, "sec": round(el, 3),
                "rows_per_s": round(n / el)}
        t0 = time.perf_counter()
        days = force_count(daily_extrema(sdf))
        el = time.perf_counter() - t0
        results[f"extrema_spark_{n}"] = {
            "rows": n, "days": days, "sec": round(el, 3),
            "rows_per_s": round(n / el)}
        sdf.unpersist()

    dedup_sweep(spark, results, [100_000] if quick else [100_000, 1_000_000])
    melt_sweep(spark, results, [1, 100] if quick else [1, 100, 10_000])

    # preserve every curated "## ..." section below the kernel table —
    # this file only owns the leading section it generates
    os.makedirs("bench", exist_ok=True)
    preserved = ""
    try:
        with open("bench/SCALE_NOTES.md") as fh:
            prev = fh.read()
        cut = prev.find("\n## ")
        if cut != -1:
            preserved = prev[cut:]
    except FileNotFoundError:
        pass
    with open("bench/SCALE_NOTES.md", "w") as fh:
        fh.write("# Kernel scale sweep (local[32], synthetic 15-s GPS series)\n\n")
        fh.write("Velocity kernel: 30-min stat window, 4-h separation "
                 "(gpstools.py:524-608 semantics). Dedup corpus: 8-40-word "
                 "docs, 10% exact + 10% near duplicates; minhash_lsh is 16 "
                 "hashes × 4 bands, candidate pairs verified at est ≥ 0.9.\n\n")
        fh.write("Wall-clock on local[32] is dominated by fixed per-stage "
                 "overheads (codegen, shuffle setup) below ~1e7 rows — "
                 "rows/s only becomes meaningful at the largest sizes; the "
                 "pandas loop has no such floor but is single-core and "
                 "O(grid·log n) by construction.\n\n")
        fh.write("| benchmark | rows | output | sec | rows/s |\n|---|---|---|---|---|\n")
        for k, v in results.items():
            out_n = v.get("grid_points", v.get("days", v.get("out", "")))
            fh.write(f"| {k} | {v['rows']:,} | {out_n} | {v['sec']} | {v['rows_per_s']:,} |\n")
        pb = results["velocity_pandas_loop_1000000"]["rows_per_s"]
        biggest = max(sizes)
        sp = results[f"velocity_spark_exact_{biggest}"]["rows_per_s"]
        fh.write(
            f"\nAt the largest measured size ({biggest:,} rows) the Spark "
            f"bucket-tiling plan sustains {sp:,} rows/s vs the pandas "
            f"per-grid-point loop's measured {pb:,} rows/s (throughput is "
            f"~constant in n for the loop): **{sp / pb:.1f}× single-node**, "
            f"with the first ~2 s being fixed codegen/session overhead that "
            f"amortizes away — and the loop is single-core by construction "
            f"while the Spark plan partitions across any cluster; its only "
            f"full-data shuffle is the per-bucket median "
            f"(median_mode='approx' removes "
            f"even that via partially-aggregatable sketches).\n")
        fh.write(preserved)
    print(json.dumps({"metric": "kernel_scale_sweep", "results": results}))


if __name__ == "__main__":
    main()
