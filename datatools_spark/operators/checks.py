"""Declarative data-quality check suite (engine add; the Deequ /
dbt-test shape — no reference analogue, the reference trusts its CSVs).

A training-data pipeline gates every ingest on a contract: keys unique,
required columns non-null, measures in range, categoricals from a known
set. At 100 TB the contract must be ONE pass over the table, not one
scan per rule — so every check here contributes aggregate expressions
to a single ``df.agg(...)`` (Catalyst evaluates them in one scan;
multi-distinct uniqueness rides Spark's Expand), and the report is
built from that one scalar row. Nothing corpus-sized ever reaches the
driver: the collect is one row of counters.

    report = check_suite(df, [
        not_null("l_orderkey"),
        unique(["l_orderkey", "l_linenumber"]),
        in_range("l_quantity", 1, 50),
        accepted_values("l_returnflag", ["A", "N", "R"]),
        matches_regex("l_shipinstruct", "^[A-Z ]+$"),
        row_count_between(1, None),
    ])
    # -> (check_name, observed, bound, passed) one row per check
    assert_checks(df, checks)   # raises listing every failed rule

Each check is a plain (name, observed_expr, bound, pass_fn) tuple —
composable, no classes, and the observed metric is always reported so
a failing gate shows WHAT it saw, not just that it failed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

__all__ = ["not_null", "unique", "in_range", "accepted_values",
           "matches_regex", "row_count_between", "check_suite",
           "assert_checks"]


def _chk(name: str, observed: Column, bound: float,
         ok) -> tuple[str, Column, float, object]:
    return (name, observed, bound, ok)


def not_null(col: str):
    """Violations = null count; passes at 0."""
    return _chk(f"not_null({col})",
                F.count(F.lit(1)) - F.count(F.col(col)), 0.0,
                lambda obs, b: obs <= b)


def unique(cols: Sequence[str] | str):
    """Violations = rows − distinct key combinations (null-keyed rows
    count as violations: a null key cannot be asserted unique)."""
    cols = [cols] if isinstance(cols, str) else list(cols)
    key_ok = None
    for c in cols:
        cond = F.col(c).isNotNull()
        key_ok = cond if key_ok is None else (key_ok & cond)
    distinct = F.count_distinct(*[F.col(c) for c in cols])
    non_null_rows = F.sum(F.when(key_ok, 1).otherwise(0))
    total = F.count(F.lit(1))
    return _chk(f"unique({','.join(cols)})",
                (total - non_null_rows) + (non_null_rows - distinct),
                0.0, lambda obs, b: obs <= b)


def in_range(col: str, lo=None, hi=None):
    """Violations = non-null values outside [lo, hi] (closed ends;
    pass None for an open side)."""
    c = F.col(col)
    bad = F.lit(False)
    if lo is not None:
        bad = bad | (c < F.lit(lo))
    if hi is not None:
        bad = bad | (c > F.lit(hi))
    return _chk(f"in_range({col},{lo},{hi})",
                F.sum(F.when(c.isNotNull() & bad, 1).otherwise(0)), 0.0,
                lambda obs, b: obs <= b)


def accepted_values(col: str, values: Sequence):
    """Violations = non-null values outside the accepted set."""
    c = F.col(col)
    return _chk(f"accepted_values({col})",
                F.sum(F.when(c.isNotNull() & ~c.isin(list(values)), 1)
                      .otherwise(0)), 0.0,
                lambda obs, b: obs <= b)


def matches_regex(col: str, pattern: str, max_violations: int = 0):
    """Violations = non-null values NOT matching ``pattern``; passes at
    ≤ ``max_violations``. An EXACT count, not a fraction threshold: a
    rounded match-fraction verdict silently passes tables whose
    violation share is below the rounding grain (at 10⁷ rows a 6-dp
    fraction hides single-digit violators — r5 self-review), while a
    count contract is scale-invariant. Nulls are not violations (pair
    with :func:`not_null` to forbid them)."""
    c = F.col(col)
    return _chk(f"matches_regex({col})",
                F.sum(F.when(c.isNotNull() & ~c.rlike(pattern), 1)
                      .otherwise(0)), float(max_violations),
                lambda obs, b: obs <= b)


def row_count_between(lo=None, hi=None):
    """Observed = row count; closed bounds, None = open side."""
    def ok(obs, b):
        del b
        return (lo is None or obs >= lo) and (hi is None or obs <= hi)
    return _chk(f"row_count_between({lo},{hi})", F.count(F.lit(1)),
                float(lo if lo is not None else -1), ok)


def check_suite(df: DataFrame, checks: Sequence) -> DataFrame:
    """Evaluate every check in ONE aggregation pass and return
    ``(check_name, observed double, bound double, passed int)`` — one
    row per check, built from the single collected counter row (the
    legitimate scalar-sized collect)."""
    if not checks:
        raise ValueError("check_suite: empty check list")
    aggs = [obs.cast("double").alias(f"_c{i}")
            for i, (_, obs, _, _) in enumerate(checks)]
    row = df.agg(*aggs).collect()[0]
    out = []
    for i, (name, _, bound, ok) in enumerate(checks):
        observed = float(row[f"_c{i}"]) if row[f"_c{i}"] is not None else 0.0
        out.append((name, observed, float(bound),
                    int(bool(ok(observed, bound)))))
    return local_frame(df.sparkSession, out,
                       "check_name string, observed double, bound double, "
                       "passed int")


def assert_checks(df: DataFrame, checks: Sequence) -> None:
    """Gate form: raise ``ValueError`` naming every failed rule with its
    observed metric — the post-ingest contract a pipeline calls before
    publishing a table."""
    failed = [r for r in check_suite(df, checks).collect()
              if not r["passed"]]
    if failed:
        detail = "; ".join(f"{r['check_name']} observed={r['observed']}"
                           for r in failed)
        raise ValueError(f"data-quality contract failed: {detail}")
