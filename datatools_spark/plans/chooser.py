"""Velocity-kernel physical-plan chooser + plan inspection (SURVEY §4).

The §2.9 kernel has two DataFrame formulations (operators/velocity.py):

- **bucket-tiling** (default): each row maps arithmetically to exactly one
  stat bucket per offset; the only full-data shuffle is the per-bucket
  median. Valid when the stat windows tile the grid exactly — i.e. the
  grid step equals the stat width (the reference's own parameterization,
  gpstools.py:582-585 steps the grid by ``stat_window``).
- **range-join**: explicit grid × interval-predicate join. General —
  handles overlapping windows (step < width) and sparse grids — but
  shuffles both sides.

``choose_velocity_plan`` encodes the dispatch rule so facade callers get
the cheap plan whenever semantics allow, and tests can assert the rule.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from ..functions.timeutils import parse_duration_seconds
from ..operators.velocity import calc_velocity, calc_velocity_range_join

__all__ = ["choose_velocity_plan", "choose_pair_plan",
           "choose_median_mode", "choose_table_stats_plan",
           "estimate_scan_rows", "is_checkpoint_backed", "plan_string",
           "PAIR_MASS_FACTOR", "MAX_DF_LADDER",
           "TABLE_STATS_FUSE_MAX_ROWS",
           "VELOCITY_APPROX_THRESHOLD_ROWS"]


# Exact-pair-tier candidate budget: the inverted-index join emits
# Σ_shingle C(df,2) candidate rows; a LINEAR-in-corpus budget of
# PAIR_MASS_FACTOR × posting_rows keeps the exact tier honest the same
# way MASS_BUDGET_FACTOR does for the banded-Hamming engine
# (operators/dedup.py:195-220). Natural corpora sit far under it
# (testdata: mass ≈ 5× posting rows at sf0.1); a Zipf head blows
# through it quadratically.
PAIR_MASS_FACTOR = 64

# max_df rungs the auto-planner may choose for the guarded plan —
# largest rung that fits the budget wins (less correction-join work and
# a smaller semantic delta than an aggressive cap).
MAX_DF_LADDER = (1024, 256, 64, 16)

# A guard is only honest if it keeps a real fraction of the index: a
# dup-heavy corpus (every doc near-identical) has almost NO sub-cap
# shingles, so any max_df "fits the budget" by amputating everything —
# and then finds nothing. Such corpora belong on LSH, not on a
# silently-empty exact plan.
MIN_GUARD_COVERAGE = 0.10


# Exploded-row threshold for the velocity kernel's exact→approx median
# flip, calibrated from the 1e8 XL probe (bench/SCALE_NOTES.md "XL
# kernel probe"): at 2e7 exploded rows the exact median's one shuffle is
# page-cache resident (1.6 s, faster than approx's sketch overhead
# amortizes); at 2e8 it sort-spills to disk and approx wins 3.2×
# (116.1 s vs 36.0 s). The flip sits at the spill onset between the two
# measured decades — per the probe's finding #3 the driver is total
# shuffle volume, shared by every plan, so the rule keys on exploded
# row count (2 × input rows).
VELOCITY_APPROX_THRESHOLD_ROWS = 50_000_000


# Logical nodes that never change cardinality: a frame whose optimized
# plan is built ONLY of these over parquet relations has exactly as
# many rows as its files' footers say. Filter/Join/Aggregate/Generate/
# Sample/Union etc. all disqualify (their output rows are not knowable
# from metadata).
_CARDINALITY_PRESERVING = ("Project", "Relation", "SubqueryAlias",
                           "ResolvedHint", "Sort", "RepartitionByExpression",
                           "Repartition", "Coalesce")

# Logical nodes a CHECKPOINT-BACKED frame may hold: row-local operators
# and unions over in-memory leaves. ``LogicalRDD`` is what
# ``localCheckpoint`` leaves in the plan (a DataFrame made from an RDD
# shows the same node and is trusted alike); ``LocalRelation`` is
# driver-side data. Re-evaluating such a plan re-reads stored blocks and
# runs no join, aggregate or exchange, so checkpointing it again buys
# nothing.
_CHECKPOINT_BACKED = ("Project", "Filter", "Union", "SubqueryAlias",
                      "LogicalRDD", "LocalRelation")

# Above this many files the driver-side footer sweep stops being
# "free" dispatch (~1 ms/footer): callers at that scale should pass
# n_rows or accept the count() fallback, which at least distributes.
_MAX_FOOTER_FILES = 4096


def _plan_nodes_within(df: DataFrame, allowed: tuple[str, ...]) -> bool:
    """True when every node of ``df``'s optimized logical plan is one
    of ``allowed`` (suffix match, so ``Relation`` covers
    ``LogicalRelation``). False when the plan cannot be read."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:  # noqa: BLE001 — plan inspection is best-effort
        return False
    for line in plan.splitlines():
        node = line.lstrip("+-: ").split(" ", 1)[0].split("[")[0]
        if node and not any(node == n or node.endswith(n)
                            for n in allowed):
            return False
    return True


def is_checkpoint_backed(df: DataFrame) -> bool:
    """True when ``df`` only projects, filters and unions checkpoint
    blocks or local data (see ``_CHECKPOINT_BACKED``): operators that
    would checkpoint their input to stop it being recomputed can read it
    as it is. Zero Spark jobs."""
    return _plan_nodes_within(df, _CHECKPOINT_BACKED)


def estimate_scan_rows(df: DataFrame) -> int | None:
    """Row count of a SCAN-SHAPED frame from parquet footer metadata —
    zero Spark jobs (r10 VERDICT #4: ``median_mode="auto"`` previously
    paid a full ``df.count()`` action, a scan-shaped dispatch cost at
    100 TB).

    A frame qualifies when every node of its optimized logical plan is
    cardinality-preserving (projections, sorts, repartitions over a
    parquet relation); then the row count is the sum of the files'
    footer ``num_rows`` — exact, driver-side, metadata-only (the same
    trust the skipping manifest places in footer stats). Returns None
    — caller falls back to a counting job — for any other plan shape,
    non-local/non-parquet files, or file counts past the footer-sweep
    budget."""
    if not _plan_nodes_within(df, _CARDINALITY_PRESERVING):
        return None
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001
        return None
    if not files or len(files) > _MAX_FOOTER_FILES:
        return None
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return None
    total = 0
    for f in files:
        if not f.endswith(".parquet"):
            return None
        if f.startswith("file:"):
            f = f[5:]
            while f.startswith("//"):   # file:///x -> /x
                f = f[1:]
        elif "://" in f:
            return None   # non-local FS: footer read would need the FS
        try:
            total += pq.ParquetFile(f).metadata.num_rows
        except Exception:  # noqa: BLE001
            return None
    return total


# ANALYZE-style multi-column stats: the fused single-aggregate plan
# computes every column's exact NDV in ONE scan, but Spark plans
# multi-countDistinct via Expand — every input row is replicated once
# per distinct column (+1 for the plain aggregates), so the fused plan
# pushes (n_cols+1)× the rows through the partial aggregate. The
# per-column union reads the same TOTAL bytes (columnar pruning: each
# pass decodes only its own column) at 1× aggregate throughput, paying
# only n_cols× per-pass fixed cost (scan-task setup, footer opens).
# Flip point: fused below ~20M rows (fixed cost dominates; measured at
# sf0.1 lineitem 600k: fused beats 4 scans), per-column above (the
# Expand multiplier is the corpus-linear term at 100 TB).
TABLE_STATS_FUSE_MAX_ROWS = 20_000_000


def choose_table_stats_plan(est_rows: int | None,
                            threshold: int | None = None) -> str:
    """``"fused"`` (one multi-distinct aggregate, Expand ×(n_cols+1))
    for small scans, ``"per-column"`` (one 1-column aggregate per stat
    column) past ``threshold`` (default the module constant, read at
    call time so tests can force either shape) or when the input size
    is unknown (None — at 100 TB the conservative choice is the one
    without the row multiplier)."""
    if threshold is None:
        threshold = TABLE_STATS_FUSE_MAX_ROWS
    if est_rows is None or est_rows > threshold:
        return "per-column"
    return "fused"


def choose_median_mode(n_rows: int,
                       threshold: int = VELOCITY_APPROX_THRESHOLD_ROWS
                       ) -> str:
    """Exact vs approx median for the velocity kernel at ``n_rows``
    input rows — the 100 TB lever (velocity.py:20-25). Returns
    ``"exact"`` below the spill threshold (exact is FREE there: same
    single shuffle, no sketch error) and ``"approx"`` above it (the
    partially-aggregatable sketch cuts the spilling shuffle to sketch
    size). Only consulted when the caller opts in with
    ``median_mode="auto"`` — the flip trades exactness for throughput
    and must never be a silent default."""
    return "approx" if 2 * n_rows > threshold else "exact"


def choose_pair_plan(stats: dict, budget: int | None = None
                     ) -> tuple[str, int | None]:
    """Physical-plan rule for the exact set-overlap pair tier
    (``ngram_jaccard_pairs`` / ``containment_pairs``), driven by the
    measured df-histogram stats from ``dedup.pair_plan_stats`` — the
    same measured-dispatch pattern as :func:`choose_velocity_plan`,
    replacing the manual ``max_df`` knob (r9 VERDICT #4).

    Returns ``('plain', None)`` when the full candidate mass fits the
    budget (no guard, no correction joins); ``('guarded', k)`` with the
    largest ladder ``max_df`` whose truncated mass fits AND whose index
    coverage stays ≥ ``MIN_GUARD_COVERAGE`` (a guard that amputates
    ~everything "fits" trivially and then finds nothing — the dup-heavy
    degenerate case); or ``('lsh', None)`` when no honest guard exists
    — the corpus is past the exact tier's design envelope and the
    caller should fail fast toward ``minhash_lsh_pairs``.
    """
    posting = max(int(stats["posting_rows"]), 1)
    if budget is None:
        budget = PAIR_MASS_FACTOR * posting
    if stats["mass_total"] <= budget:
        return ("plain", None)
    for k in MAX_DF_LADDER:
        if (stats[f"mass_le_{k}"] <= budget
                and stats[f"rows_le_{k}"]
                >= MIN_GUARD_COVERAGE * posting):
            return ("guarded", k)
    return ("lsh", None)


def choose_velocity_plan(stat_window, grid_step=None) -> str:
    """Return ``'bucket'`` or ``'range_join'`` for the given kernel
    parameters. ``grid_step=None`` means the reference default (grid
    stepped by the stat window) — always tileable."""
    if grid_step is None:
        return "bucket"
    stat_s = parse_duration_seconds(stat_window) \
        if not isinstance(stat_window, (int, float)) else float(stat_window)
    step_s = parse_duration_seconds(grid_step) \
        if not isinstance(grid_step, (int, float)) else float(grid_step)
    # windows tile exactly only when the grid advances one full stat
    # width per point; anything finer overlaps → general plan
    return "bucket" if step_s == stat_s else "range_join"


def velocity(df: DataFrame, value_cols: Sequence[str], stat_window,
             separation_window, grid_step=None, **kw) -> DataFrame:
    """Dispatching front-end: build whichever physical variant
    :func:`choose_velocity_plan` selects (both are cross-checked equal in
    tests/test_velocity_variants.py on the reference parameterization,
    and the facade itself is equality-tested against direct calls).

    The rule is A/B-backed at 1e7 rows (bench/velocity_plan_ab.py,
    table in bench/SCALE_NOTES.md): when the grid tiles (step == stat)
    the bucket plan's single hash aggregate beats the bucketed range
    join's join+aggregate; when windows overlap (step < stat) only the
    range join is correct — its grid-side fan-out is ≤ 6 rows per grid
    point regardless of the overlap factor, where a generalized tiling
    explode would fan the FULL data out by 2·stat/step rows each."""
    if choose_velocity_plan(stat_window, grid_step) == "bucket":
        return calc_velocity(df, value_cols, stat_window,
                             separation_window, **kw)
    # the range-join variant supports a narrower kwarg surface than the
    # bucket plan; reject the unsupported ones HERE with the dispatch
    # context — otherwise the same facade call crashes or not depending
    # on which way the grid_step rule flips (TypeError deep inside)
    import inspect
    supported = set(
        inspect.signature(calc_velocity_range_join).parameters)
    extra = set(kw) - supported
    if extra:
        raise NotImplementedError(
            f"velocity: grid_step={grid_step!r} dispatches to the "
            f"range-join variant, which does not support {sorted(extra)} "
            "(bucket-plan-only options like partition_by/smoothing/"
            "median_mode); drop the option or use the tiling grid "
            "(grid_step=None / == stat_window)")
    return calc_velocity_range_join(df, value_cols, stat_window,
                                    separation_window,
                                    grid_step=grid_step, **kw)


def plan_string(df: DataFrame, formatted: bool = False) -> str:
    """Executed-plan text for CI plan-shape assertions (PushedFilters,
    WholeStageCodegen spans, Exchange counts, Python-eval absence)."""
    if formatted:
        mode = df.sparkSession._jvm.org.apache.spark.sql.execution \
            .ExplainMode.fromString("formatted")
        return df._jdf.queryExecution().explainString(mode)
    return df._jdf.queryExecution().executedPlan().toString()
