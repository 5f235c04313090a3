"""Mergeable sketches for corpus-scale approximate statistics
(engine adds; no reference analogue — the reference's corpora fit in
pandas, a 100 TB corpus does not).

Both sketches here are DETERMINISTIC (md5-derived hashes, no RNG, no
engine-native hash), so the identical sketch is computable in any SQL
engine — which is what makes them oracle-checkable, auditable, and
mergeable across clusters/runs:

- Count-Min: d×w counter matrix; every update is d (row, bucket)
  increments → ONE combinable groupBy. Point estimate = min over the
  d counters. The sketch is d·w longs (16 KiB at 4×1024) regardless of
  corpus size — THE sublinear frequency structure for heavy-hitter
  screens at 100 TB.
- HyperLogLog (plain, bias-uncorrected beyond the standard α_m): 2^b
  registers, register = max rho(hash suffix) → ONE combinable max
  aggregate; estimate = α·m²/Σ2^(−reg). Registers are the sketch: union
  of corpora = elementwise max — the mergeability exact count_distinct
  lacks.

Spark's built-in ``approx_count_distinct`` (HLL++) is the production
default; this explicit variant exists where cross-engine reproducibility
of the SKETCH ITSELF matters (incremental stores, federation audits).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame
from . import memo, storage

__all__ = ["cms_bucket_col", "cms_build", "cms_estimate",
           "cms_inner_product", "cms_inner_product_from_counts",
           "hll_bucket_rho", "hll_registers",
           "hll_estimate", "hll_estimate_col",
           "hll_estimate_from_registers", "hll_merge",
           "kmv_hash52", "kmv_sketch", "kmv_estimate_col",
           "kmv_merge_col", "kmv_jaccard_col",
           "value_sample_sketch", "value_sample_merge_col",
           "sample_quantile_col",
           "update_kmv_store", "read_kmv_store",
           "update_value_sample_store", "read_value_sample_store",
           "update_cms_store", "read_cms_store"]

_H32 = 4294967296  # 2^32


def _group_cols_list(group_cols) -> list:
    """Accept one column NAME or a sequence of names. ``list('source')``
    explodes a bare string into characters — UNRESOLVED_COLUMN at best,
    a silent wrong groupBy if the frame happens to have single-letter
    columns (the curation.py:priority_sample_per_group guard, applied
    to the whole sketch family)."""
    return [group_cols] if isinstance(group_cols, str) else list(group_cols)


def _hash32(col: Column, salt: str) -> Column:
    """First 32 bits of md5(salt:value) as bigint — engine-portable."""
    return F.conv(F.substring(
        F.md5(F.concat(F.lit(salt + ":"), col.cast("string"))), 1, 8),
        16, 10).cast("bigint")


# ------------------------------------------------------------ Count-Min

def cms_bucket_col(col: Column, row: int, width: int,
                   salt: str = "cms") -> Column:
    return F.pmod(_hash32(col, f"{salt}:{row}"), F.lit(width))


def _cms_cells(item: Column, depth: int, width: int, salt: str) -> Column:
    """``_cell``: ``item``'s ``depth`` (row, bucket) cells, exploded."""
    return F.explode(F.array(*[
        F.struct(F.lit(r).alias("row"),
                 cms_bucket_col(item, r, width, salt).alias("bucket"))
        for r in range(depth)])).alias("_cell")


def _by_cell(cells: DataFrame):
    return cells.groupBy(F.col("_cell.row").alias("row"),
                         F.col("_cell.bucket").alias("bucket"))


def cms_build(items: DataFrame, item_col: str, depth: int = 4,
              width: int = 1024, salt: str = "cms") -> DataFrame:
    """Sketch from a multiset of items (one DataFrame row = one
    occurrence): explode each item into its ``depth`` (row, bucket)
    cells, count — a single map-side-combinable aggregate whose exchange
    is bounded by d·w cells, never by corpus size. Output:
    ``row, bucket, c``."""
    cells = items.select(_cms_cells(F.col(item_col), depth, width, salt))
    return _by_cell(cells).agg(F.count("*").alias("c"))


def cms_build_from_counts(counts: DataFrame, item_col: str,
                          count_col: str, depth: int = 4,
                          width: int = 1024,
                          salt: str = "cms") -> DataFrame:
    """CMS from a pre-aggregated ``(item, count)`` frame — cells are
    integer sums, so the sketch is BIT-IDENTICAL to :func:`cms_build`
    over the expanded multiset, but pays ``depth`` hashes per DISTINCT
    item instead of per occurrence (opt guide §1.2 per-task work: on a
    Zipf token stream that is a vocab/corpus-sized cut in hashing).
    Callers that already hold per-item counts (a groupBy they need
    anyway) should build from them. Output: ``row, bucket, c``."""
    cells = counts.select(F.col(count_col).alias("_w"),
                          _cms_cells(F.col(item_col), depth, width, salt))
    return _by_cell(cells).agg(F.sum("_w").alias("c"))


def cms_estimate(sketch: DataFrame, probes: DataFrame, probe_col: str,
                 depth: int = 4, width: int = 1024,
                 salt: str = "cms") -> DataFrame:
    """Point-frequency estimates for ``probes`` (small — broadcast):
    min over the d probed counters; absent cells count 0. Never
    underestimates; overestimates by collision mass only."""
    pr = probes.select(F.col(probe_col)).distinct()
    keyed = pr.select(probe_col,
                      _cms_cells(F.col(probe_col), depth, width, salt)) \
        .select(probe_col, "_cell.row", "_cell.bucket")
    joined = (F.broadcast(keyed)
              .join(sketch, ["row", "bucket"], "left")
              .withColumn("c", F.coalesce(F.col("c"), F.lit(0))))
    return joined.groupBy(probe_col).agg(F.min("c").alias("cms_est"))


def cms_inner_product(sketch_a: DataFrame, sketch_b: DataFrame) -> DataFrame:
    """Join-size estimation via the CMS inner product (Alon-Matias-
    Szegedy / Cormode-Muthukrishnan): |A ⋈ B on k| = Σ_key fA(k)·fB(k),
    estimated as min over rows r of Σ_bucket cA[r,b]·cB[r,b]. Never
    underestimates (collision mass only adds). Pure integer arithmetic
    over two d×w sketches — the estimate is exact-reproducible in any
    engine, and costs O(d·w) regardless of table sizes: THE way a
    planner sizes a shuffle join before paying for it.
    One-row output: ``join_size_est``."""
    a = sketch_a.select("row", "bucket", F.col("c").alias("_ca"))
    b = sketch_b.select("row", "bucket", F.col("c").alias("_cb"))
    per_row = (a.join(b, ["row", "bucket"])
               .groupBy("row")
               .agg(F.sum(F.col("_ca") * F.col("_cb")).alias("_ip")))
    # a row with NO colliding buckets has true inner product 0 — the
    # TIGHTEST bound — and must participate in the min; an inner-join-
    # only min ran over strictly positive rows (inflated bound) and an
    # empty sketch yielded NULL instead of the correct 0
    rows = (sketch_a.select("row").unionByName(sketch_b.select("row"))
            .distinct())
    filled = (rows.join(per_row, "row", "left")
              .select(F.coalesce(F.col("_ip"), F.lit(0).cast("bigint"))
                      .alias("_ip")))
    return filled.agg(F.coalesce(F.min("_ip"), F.lit(0).cast("bigint"))
                      .alias("join_size_est"))


def cms_inner_product_from_counts(counts: DataFrame, item_col: str,
                                  a_col: str, b_col: str) -> DataFrame:
    """:func:`cms_inner_product` of the two default-shaped sketches
    :func:`cms_build_from_counts` builds from the non-negative
    ``a_col`` and ``b_col`` of ONE per-item count frame, in one cell
    aggregate instead of two builds and a join: each non-NULL item is
    exploded to its cells once, and a cell carries both sums. A cell of
    one side only has a zero on the other, so its product adds nothing,
    as the join dropped it. One-row output: ``join_size_est``."""
    cells = (counts.where(F.col(item_col).isNotNull())
             .select(F.col(a_col).alias("_a"), F.col(b_col).alias("_b"),
                     _cms_cells(F.col(item_col), 4, 1024, "cms")))
    per_cell = _by_cell(cells).agg(F.sum("_a").alias("_ca"),
                                   F.sum("_b").alias("_cb"))
    per_row = per_cell.groupBy("row").agg(
        F.sum(F.col("_ca") * F.col("_cb")).alias("_ip"))
    return per_row.agg(F.coalesce(F.min("_ip"), F.lit(0).cast("bigint"))
                       .alias("join_size_est"))


# ---------------------------------------------------------- HyperLogLog

def hll_bucket_rho(col: Column, b: int = 8, salt: str = "hll"):
    """(bucket, rho): bucket = top ``b`` hash bits; rho = 1 + leading
    zeros of the remaining ``32−b`` bits (all-zero suffix → 32−b+1).
    The highest-set-bit test is an explicit comparison ladder — no
    float log2, whose exactness at powers of two differs by engine."""
    h = _hash32(col, salt)
    nbits = 32 - b
    bucket = F.floor(h / F.lit(1 << nbits)).cast("int")
    v = F.pmod(h, F.lit(1 << nbits))
    rho = F.lit(nbits + 1)
    # v >= 2^i (highest i wins) => rho = nbits - i
    expr = None
    for i in range(nbits - 1, -1, -1):
        cond = v >= F.lit(1 << i)
        expr = (F.when(cond, F.lit(nbits - i)) if expr is None
                else expr.when(cond, F.lit(nbits - i)))
    rho = expr.otherwise(rho)
    return bucket, rho


def hll_registers(items: DataFrame, item_col: str, b: int = 8,
                  salt: str = "hll") -> DataFrame:
    """Register table ``bucket, reg``: one combinable max aggregate.
    Only touched buckets appear; missing buckets are register 0 (the
    estimator supplies them). Merging two corpora's sketches is
    ``union → groupBy max`` — associative, order-free."""
    bucket, rho = hll_bucket_rho(F.col(item_col), b, salt)
    return (items.select(bucket.alias("bucket"), rho.alias("rho"))
            .groupBy("bucket").agg(F.max("rho").alias("reg")))


def hll_merge(*register_tables: DataFrame) -> DataFrame:
    """Union of sketches = elementwise register max — the mergeability
    that makes HLL federate across corpora/runs (union → one combinable
    max aggregate)."""
    u = register_tables[0]
    for r in register_tables[1:]:
        u = u.unionByName(r)
    return u.groupBy("bucket").agg(F.max("reg").alias("reg"))


def hll_estimate_col(inv_sum: Column, touched: Column,
                     b: int = 8) -> Column:
    """Raw HLL estimate α_m·m²/(Σ2^(−reg) + untouched) from a register
    aggregate: ``inv_sum`` is Σ2^(−reg) over the ``touched`` buckets,
    and each of the m − touched untouched buckets contributes 2^0.
    Rounded to 3 dp for cross-engine sum-order stability."""
    m = 1 << b
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return F.round(F.lit(alpha * m * m)
                   / (inv_sum + (F.lit(m) - touched)), 3)


def hll_estimate_from_registers(regs: DataFrame, b: int = 8,
                                out: str = "hll_est") -> DataFrame:
    """Estimate from a register table (see :func:`hll_registers`) with
    :func:`hll_estimate_col`. One-row output ``out``."""
    agg = regs.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("reg"))).alias("_s"),
        F.count("*").alias("_nb"))
    return agg.select(
        hll_estimate_col(F.col("_s"), F.col("_nb"), b).alias(out))


def hll_estimate(items: DataFrame, item_col: str, b: int = 8,
                 salt: str = "hll") -> DataFrame:
    """One-row DataFrame ``hll_est`` (raw HLL estimate, rounded to 3 dp
    for cross-engine sum-order stability): α_m·m²/Σ2^(−reg) with the
    2^b−touched buckets contributing 2^0 each."""
    return hll_estimate_from_registers(
        hll_registers(items, item_col, b, salt), b)


# ------------------------------------------- KMV (bottom-k / theta-style)

_H52 = 1 << 52    # 52-bit hashes fit a double exactly — portable


def kmv_hash52(col: Column, salt: str = "kmv") -> Column:
    """First 52 bits of md5(salt:value) as bigint. 52 bits so the
    normalized value is exactly representable as a double in every
    engine (no 64-bit→double rounding divergence)."""
    return F.conv(F.substring(
        F.md5(F.concat(F.lit(salt + ":"), col.cast("string"))), 1, 13),
        16, 10).cast("bigint")


def kmv_sketch(df: DataFrame, group_cols, item_col: str, k: int = 64,
               salt: str = "kmv", margin: float = 4.0,
               include_ndv: bool = False) -> DataFrame:
    """Per-group KMV sketch: the ``k`` SMALLEST distinct 52-bit item
    hashes, as a sorted array — the bottom-k/theta sketch family
    (Bar-Yossef et al.; Dasu/Johnson "theta sketch"). Unlike HLL it
    supports INTERSECTION/Jaccard estimates (:func:`kmv_jaccard_col`),
    and the sketch is a plain value mergeable with array ops
    (:func:`kmv_merge_col`) — no engine-native state.

    Scale shape: one distinct exchange over (group, hash) — the same
    exchange any exact count-distinct pays — then the bottom-k core
    shared with :func:`value_sample_sketch` (``_bottom_k``): a
    per-group survivor threshold ``margin·k/ndv`` and the rank on the
    same group exchange, eagerly localCheckpointed, with a lazy redo for
    groups the filter under-collected — so this call RUNS the sketch job
    (it is an aggregation, not a plan fragment). Output:
    ``<group_cols>, hs array<bigint>`` with ``size(hs) = min(k, ndv)``.

    ndv here counts distinct HASHES (52-bit collisions are the standard
    KMV error term, negligible under ~2^26 distinct items per group).

    ``include_ndv=True`` appends the EXACT per-group distinct-hash
    count as ``ndv`` — the sketch already pays the full distinct
    exchange, so the exact count is a free byproduct; callers that want
    both (sketch + exact, e.g. an estimate-vs-truth audit) should take
    it here instead of paying a second tokenize+distinct pass.
    """
    g = _group_cols_list(group_cols)
    # Internal grouping runs on ONE struct surrogate key: struct
    # equality is null-safe in Spark (row-ordering semantics), so a NULL
    # group key stays one group instead of being silently DROPPED by a
    # name-list inner join (NULL != NULL) — same bug class as the
    # store-merge null-fork finding, caught one layer deeper (r7).
    gk = F.struct(*[F.col(c) for c in g]).alias("_gk")
    # Dedup BEFORE hashing (r11): md5 runs once per DISTINCT
    # (group, item-string) instead of once per occurrence — on natural-
    # language corpora occurrences/vocab is 2-3 orders of magnitude
    # (436× on the bench corpus), and the md5 is the operator's
    # corpus-linear CPU term. Distinct is taken on the SAME string the
    # hash consumes, so distinct strings → distinct hashes and the
    # sketch is bit-identical (hash collisions collapse in the local
    # distinct below exactly as they did in the old (group, hash)
    # distinct). The explicit repartition on the group key lets the
    # hash-distinct AND the window share ONE exchange (HashPartitioning
    # on _gk satisfies both clusterings), so the exchange count is
    # unchanged — the first now carrying partial-deduped strings
    # instead of partial-deduped hashes
    # (plans/r11/doc_kmv_vocab_internal_{before,after}.txt). Wall at
    # sf0.1 is fixed-overhead-bound and unchanged (doc_kmv_vocab
    # 1.167 → 1.162 s min-of-7; doc_kmv_source_overlap 1.165 → 1.043);
    # the win is the corpus-linear term.
    pairs = (df.select(gk, F.col(item_col).cast("string").alias("_w"))
             .distinct()
             .select("_gk", kmv_hash52(F.col("_w"), salt).alias("_h"))
             .repartition("_gk")
             .distinct())
    out = _bottom_k(pairs, k, margin, F.col("_h"), ["_h"], "hs")
    return out.select(F.col("_gk.*"), "hs",
                      *([F.col("_n").alias("ndv")] if include_ndv else []))


def _bottom_k(rows: DataFrame, k: int, margin: float, elem: Column,
              order: list, name: str) -> DataFrame:
    """The bottom-k core of :func:`kmv_sketch` and
    :func:`value_sample_sketch`: per group ``_gk`` of ``rows`` (which
    carry a uniform 52-bit hash ``_h``), the array ``name`` of ``elem``
    over the ``k`` rows first by ``order``, plus the group's row count
    ``_n``.

    One heavy pass: per-group count and min as window functions over one
    group exchange, the survivor filter ``_h < margin·k/_n`` (≈margin·k
    rows per group; the group's minimum-hash row always survives, so
    every group reaches the fast frame), and the rank on the same
    exchange — eagerly localCheckpointed, group-sized. Groups the filter
    under-collected (fewer than ``min(k, _n)`` survivors —
    Chernoff-improbable at the default margin; tests force it with a
    degenerate one) are re-ranked unfiltered in a lazy redo branch, gated
    by a driver-side check on the checkpointed frame."""
    wg = Window.partitionBy("_gk")
    j = rows.select("*", F.count(F.lit(1)).over(wg).alias("_n"),
                    F.min("_h").over(wg).alias("_hmin"))
    thresh = F.lit(margin * k) / F.col("_n") * F.lit(float(_H52))
    surv = j.where((F.col("_n") <= F.lit(margin * k))
                   | (F.col("_h") < thresh)
                   | (F.col("_h") == F.col("_hmin")))
    w = Window.partitionBy("_gk").orderBy(*order)

    def rank(rows_: DataFrame) -> DataFrame:
        return (rows_.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") <= k)
                .groupBy("_gk")
                .agg(F.array_sort(F.collect_list(elem)).alias(name),
                     F.max("_n").alias("_n")))

    fast = rank(surv).localCheckpoint(eager=True)
    short = fast.where(F.size(name) < F.least(F.lit(k), F.col("_n")))
    if short.limit(1).count() == 0:
        return fast
    sg = short.select("_gk")
    return (fast.join(sg, "_gk", "left_anti")
            .unionByName(rank(j.join(sg, "_gk", "left_semi"))))


def kmv_estimate_col(hs: Column, k: int) -> Column:
    """Distinct-count estimate from a sketch array: exact size when the
    group never filled the sketch, else the classic (k−1)/h_(k)
    (normalized k-th minimum) estimator."""
    return F.when(F.size(hs) < k, F.size(hs).cast("double")) \
        .otherwise(F.lit(float(k - 1)) * F.lit(float(_H52))
                   / F.element_at(hs, k).cast("double"))


def value_sample_sketch(df: DataFrame, group_cols, key_col: str,
                        value_col: str, k: int = 128,
                        salt: str = "vsmpl",
                        margin: float = 4.0,
                        check_keys: bool = False) -> DataFrame:
    """Per-group deterministic uniform VALUE sample — the mergeable
    quantile/distribution sketch the bottom-k family implies: the
    values carried by the group's ``k`` rows with the SMALLEST 52-bit
    key hashes. Hashes are uniform, so the kept rows are a uniform
    k-sample of the group, pinned by the key (the same doc samples in
    everywhere, across runs, partitionings and engines), EXACT when the
    group holds ≤ k rows, and mergeable across disjoint corpora with
    plain array ops (:func:`value_sample_merge_col`) — what a 100 TB
    length/score distribution monitor wants: per-shard sketches folded
    driver-side, no global sort ever. Quantiles come off the sketch via
    :func:`sample_quantile_col` (percentile_cont lerp over the sampled
    values; standard uniform-sample error ~1/√k on the rank).

    Built by the same bottom-k core as :func:`kmv_sketch`, so this
    call RUNS the sketch job eagerly. Contract:
    ``key_col`` unique per row (duplicate keys collapse to one hash and
    bias the sample) — pass ``check_keys=True`` to enforce it with one
    extra count aggregate that raises instead of silently biasing (the
    mergestore.py key-hygiene pattern); null ``value_col`` rows are
    excluded up front (a quantile cannot use them). Output:
    ``<group_cols>, n_rows, vs array<struct<h bigint, v double>>``
    sorted by hash, ``size(vs) = min(k, n_rows)``.
    """
    g = _group_cols_list(group_cols)
    # struct surrogate key: null-safe group equality (see kmv_sketch)
    gk = F.struct(*[F.col(c) for c in g]).alias("_gk")
    base = df.where(F.col(value_col).isNotNull())
    if check_keys:
        r = base.agg(F.count(F.lit(1)).alias("_n"),
                     F.count_distinct(F.col(key_col)).alias("_nk")) \
            .collect()[0]
        if r["_n"] != r["_nk"]:
            raise ValueError(
                f"value_sample_sketch: key_col {key_col!r} is not "
                f"unique per row ({r['_n']} rows, {r['_nk']} distinct "
                "keys) — duplicate keys collapse to one hash and BIAS "
                "the sample; deduplicate or choose a row-unique key")
    rows = base.select(gk, kmv_hash52(F.col(key_col), salt).alias("_h"),
                       F.col(value_col).cast("double").alias("_v"))
    out = _bottom_k(rows, k, margin,
                    F.struct(F.col("_h").alias("h"), F.col("_v").alias("v")),
                    ["_h", "_v"], "vs")
    return out.select(F.col("_gk.*"), F.col("_n").alias("n_rows"), "vs")


def value_sample_merge_col(a: Column, b: Column, k: int) -> Column:
    """Sample sketch of the UNION of two DISJOINT row sets from their
    sketches alone: the k hash-smallest of the concatenation (every
    candidate for the union's bottom-k is in one input's bottom-k).
    Associative and order-free; ``array_distinct`` makes re-merging an
    overlapping sketch idempotent (identical (h, v) rows collapse)."""
    return F.slice(F.array_sort(F.array_distinct(F.concat(a, b))), 1, k)


def sample_quantile_col(vs: Column, q: float,
                        dp: int | None = 6) -> Column:
    """``percentile_cont(q)`` over a :func:`value_sample_sketch`'s
    values — the SQL lerp ``lo·(1−f) + hi·f`` on the sorted sample
    (identical formula to rolling_quantile_blocked and DuckDB
    quantile_cont, so estimates hash-match across engines). NULL for an
    empty sketch (the CASE short-circuits the element_at under ANSI).
    ``dp=None`` skips rounding — oracle-parity callers apply the
    portable ``floor(x·10^dp + 0.5)`` form themselves."""
    vals = F.array_sort(F.transform(vs, lambda x: x["v"]))
    n = F.size(vals)
    pos = F.lit(1.0) + (n.cast("double") - F.lit(1.0)) * F.lit(float(q))
    lo = F.element_at(vals, F.floor(pos).cast("int"))
    hi = F.element_at(vals, F.ceil(pos).cast("int"))
    frac = pos - F.floor(pos)
    est = lo * (F.lit(1.0) - frac) + hi * frac
    return F.when(n > 0, F.round(est, dp) if dp is not None else est)


def kmv_merge_col(a: Column, b: Column, k: int) -> Column:
    """Sketch of the UNION of two groups from their sketches alone:
    the k smallest of the combined arrays (every candidate for the
    union's bottom-k is in one input's bottom-k). Associative and
    order-free — the cross-corpus mergeability HLL has, with set ops."""
    return F.slice(F.array_sort(F.array_union(a, b)), 1, k)


def kmv_jaccard_col(a: Column, b: Column, k: int) -> Column:
    """Jaccard estimate between two sketched sets: among the union
    sketch's cells (the k smallest combined hashes — a uniform sample
    of the union), the fraction present in BOTH inputs."""
    u = kmv_merge_col(a, b, k)
    both = F.size(F.array_intersect(F.array_intersect(u, a), b))
    # two empty sketches → empty union: 0/0 THROWS under ANSI; Jaccard
    # of two empty sets is undefined → NULL (DuckDB's 0/0)
    return F.when(F.size(u) > 0,
                  both.cast("double") / F.size(u).cast("double"))


# ------------------------------------------- incremental sketch stores

# snapshot dirs committed by a _SUCCESS marker (storage protocol); the
# next snapshot number is latest committed + 1, so a retry overwrites
# a crashed update's markerless orphan
_KMV = storage.Layout("kmv-b", "_SUCCESS")
_VS = storage.Layout("vs-b", "_SUCCESS")
_CMS = storage.Layout("cms-b", "_SUCCESS")


def update_kmv_store(spark, batch: DataFrame, path: str, group_cols,
                     item_col: str, k: int = 64,
                     salt: str = "kmv") -> dict:
    """Fold a batch into per-group KMV sketches maintained AT REST —
    cardinality/overlap tracking over a growing corpus with per-batch
    cost ∝ batch: sketch the batch (one distinct exchange over batch
    items), then merge with the stored sketches via
    :func:`kmv_merge_col` (bottom-k merge is EXACT, so the store always
    equals a from-scratch sketch of everything ever ingested — pinned
    in tests). Snapshots are ``kmv-b<n>`` dirs committed by their
    _SUCCESS marker; a crashed update leaves a markerless orphan the
    retry overwrites, and older snapshots past the previous one are
    pruned. Replay-IDEMPOTENT without any dedup bookkeeping — KMV is a
    set sketch, so re-ingesting the same items merges identical hashes
    to the identical sketch: a checkpoint-retried batch converges.

    Sketch GEOMETRY ``(k, salt)`` rides on every snapshot row (two
    literal columns — no layout change) and a mismatched update raises:
    merging bottom-k sets drawn from DIFFERENT salted hash spaces, or
    truncating a larger-k store to a smaller k, silently corrupts every
    estimate (the r9 CMS-geometry fix, applied to the whole sketch
    store family). Returns ``{"batch", "groups"}``."""
    g = _group_cols_list(group_cols)
    return _update_sample_store(
        spark, kmv_sketch(batch, g, item_col, k=k, salt=salt), path, g,
        _KMV, "hs", kmv_merge_col, k, salt)


def _update_sample_store(spark, sketch: DataFrame, path: str,
                         group_cols: list, layout: storage.Layout,
                         col: str, merge_col, k: int, salt: str) -> dict:
    """Fold a batch's ``<group_cols>, <col>`` sketch table into the
    sample store at ``path`` (the KMV and value-sample stores): keyed on
    the group columns, a group only one side holds keeps that side's
    sketch, a group both hold merges with ``merge_col``. The next
    generation carries the ``(k, salt)`` stamp."""
    last = storage.latest(storage.tree(spark, path, only=layout.marker),
                          layout)
    merged, nxt = sketch, 0
    if last is not None:
        cur = storage.read_parquet(spark, layout.dir(path, last))
        _check_sketch_geometry(cur, path, k=k, salt=salt)
        merged = storage.fold_keyed(
            cur.drop("_k", "_salt"), sketch, group_cols,
            {col: lambda old, new: F.when(old.isNull(), new)
             .when(new.isNull(), old).otherwise(merge_col(old, new, k))})
        nxt = last + 1
    merged = merged.withColumn("_k", F.lit(int(k))) \
        .withColumn("_salt", F.lit(salt))
    storage.write_generation(spark, merged.coalesce(1), path, layout, nxt)
    # count the one-file generation just written: counting ``merged``
    # would run the whole keyed fold (live read + outer join) again
    groups = storage.read_parquet(spark, layout.dir(path, nxt)).count()
    return {"batch": nxt, "groups": int(groups)}


def _check_sketch_geometry(snapshot: DataFrame, path: str, **want) -> None:
    """Raise when a stored sketch snapshot's ``_k``/``_salt`` (literal
    geometry columns every r9+ snapshot carries) differ from what the
    caller is about to merge/read with — mixing salted hash spaces or
    truncating k silently corrupts estimates. Pre-r9 snapshots lack the
    columns and are refused with a rebuild message."""
    cols = snapshot.columns
    if "_k" not in cols or "_salt" not in cols:
        raise ValueError(
            f"sketch store at {path} predates geometry stamping — "
            "rebuild it (pre-r9 snapshots cannot prove their k/salt)")
    rows = snapshot.select("_k", "_salt").limit(1).collect()
    if not rows:
        # zero-row snapshot (a committed empty first batch): the
        # geometry stamp is row-literal, so an empty table carries none
        # — and there are no sketches to corrupt. Accept; the next
        # non-empty write stamps the caller's geometry. Without this,
        # one empty micro-batch bricked the store permanently
        # (IndexError on every later update/read).
        return
    got = rows[0]
    have = {"k": got["_k"], "salt": got["_salt"]}
    for name, v in want.items():
        if have[name] != v:
            raise ValueError(
                f"sketch store at {path} was built with {name}="
                f"{have[name]!r}; caller passed {v!r} — merging "
                "mismatched sketch geometries corrupts estimates")


def read_kmv_store(spark, path: str, k: int | None = None,
                   salt: str | None = None) -> DataFrame:
    """The newest committed sketch table: ``<group_cols>, hs``. Pass
    ``k``/``salt`` to assert the store's stamped geometry matches what
    the reader's estimates assume."""
    return _read_sample_store(spark, path, _KMV, "KMV",
                              "update_kmv_store", k, salt)


def _read_sample_store(spark, path: str, layout: storage.Layout,
                       label: str, updater: str, k: int | None,
                       salt: str | None) -> DataFrame:
    """The newest committed table of a sample store, its geometry
    checked against whichever of ``k``/``salt`` is given and the stamp
    columns dropped."""
    last = storage.latest(storage.tree(spark, path, only=layout.marker),
                          layout)
    if last is None:
        raise ValueError(f"{label} store at {path} has no committed "
                         f"snapshots — {updater} first")
    out = storage.read_parquet(spark, layout.dir(path, last))
    if k is not None or salt is not None:
        _check_sketch_geometry(out, path, **{
            n: v for n, v in (("k", k), ("salt", salt)) if v is not None})
    return out.drop("_k", "_salt")


def update_value_sample_store(spark, batch: DataFrame, path: str,
                              group_cols, key_col: str, value_col: str,
                              k: int = 128, salt: str = "vsmpl") -> dict:
    """Fold a batch into per-group VALUE-SAMPLE sketches maintained AT
    REST — distribution/quantile tracking over a growing corpus with
    per-batch cost ∝ batch: sketch the batch
    (:func:`value_sample_sketch`), merge with the stored sketches via
    :func:`value_sample_merge_col` (bottom-k-by-hash merge of DISJOINT
    batches is EXACT — the store always equals a from-scratch sketch of
    everything ever ingested, pinned in tests). Same snapshot protocol
    as the KMV store (``vs-b<n>`` dirs committed by _SUCCESS; a crashed
    update leaves a markerless orphan the retry overwrites; older
    snapshots pruned). Replay-idempotent: a re-ingested row contributes
    the identical (h, v) struct, which the merge's array_distinct
    collapses — so a checkpoint-retried batch converges. The at-rest
    table is ``<group_cols>, vs`` only (no row counts: a replay-safe
    count needs the key-set sketch, which is what the KMV store is).
    Geometry ``(k, salt)`` is stamped on every snapshot row and a
    mismatched update raises — same guard as the KMV/CMS stores (r9).
    Returns ``{"batch", "groups"}``."""
    g = _group_cols_list(group_cols)
    bsk = value_sample_sketch(batch, g, key_col, value_col, k=k,
                              salt=salt).drop("n_rows")
    return _update_sample_store(spark, bsk, path, g, _VS, "vs",
                                value_sample_merge_col, k, salt)


def read_value_sample_store(spark, path: str, k: int | None = None,
                            salt: str | None = None) -> DataFrame:
    """The newest committed sample table: ``<group_cols>, vs``. Pass
    ``k``/``salt`` to assert the store's stamped geometry."""
    return _read_sample_store(spark, path, _VS, "value-sample",
                              "update_value_sample_store", k, salt)


def _cms_batch_cells(batch: DataFrame, item_col: str, depth: int,
                     width: int, salt: str) -> DataFrame:
    """Batch occurrences → CMS cells via a per-item pre-aggregation
    (r11): ``cms_build_from_counts`` is bit-identical to ``cms_build``
    over the expanded multiset but pays ``depth`` md5s per DISTINCT
    item instead of per occurrence — the fold's corpus-linear hashing
    term drops by the batch's occurrence/vocab ratio (436× on the
    bench corpus), and the pre-agg exchange is vocab-bounded after
    partial aggregation (same order as the d·w cell exchange it
    precedes)."""
    counts = batch.groupBy(F.col(item_col)).agg(F.count("*").alias("_n"))
    return cms_build_from_counts(counts, item_col, "_n", depth, width,
                                 salt)


def _cms_state_key(t: storage.Tree, base: str) -> tuple:
    """The memo key of ``base``'s ledger, from a walk ``t`` of it."""
    return ("cms_state", base, storage.listing(t))


def _cms_state(spark, path: str, base: str, **want) -> list:
    """The rows of generation ``base``'s ``state/`` ledger — one per
    writer, carrying the geometry — after two refusals: a pre-watermark
    generation (no ``state/`` table at all, or a bare batch-id set) and
    a stored geometry that differs from any non-None
    ``depth``/``width``/``salt`` in ``want``. ONE collect of the
    writers-sized table serves the geometry check, the watermark lookup
    and the carried-forward ledger rows; it is memoized on the
    ledger's file listing, so the warm reads of one generation run no
    job."""
    state = f"{base}/state"
    t = storage.tree(spark, state)

    def collect():
        # a walk, not a failed read, finds a missing ledger: reading it
        # would surface an opaque PATH_NOT_FOUND before the guidance
        ledger = storage.read_parquet(spark, state) \
            if storage.data_files(t) else None
        if ledger is None or "app_id" not in ledger.columns:
            raise ValueError(
                f"CMS store at {path} uses the pre-watermark ledger "
                "layout (bare batch_id set) — rebuild the store; the "
                "old layout can neither scope writers nor bound ledger "
                "growth")
        return ledger.collect()

    rows = memo.get(spark, _cms_state_key(t, base), collect)
    geo = {n: rows[0][n] for n in ("depth", "width", "salt")}
    if any(v is not None and geo[n] != v for n, v in want.items()):
        raise ValueError(
            f"CMS store at {path} was built with geometry "
            f"(depth={geo['depth']}, width={geo['width']}, "
            f"salt={geo['salt']!r}); caller expected "
            + ", ".join(f"{n}={v!r}" for n, v in want.items()
                        if v is not None)
            + " — a different (row,bucket) space corrupts counts and "
            "probe estimates")
    return rows


def update_cms_store(spark, batch: DataFrame, path: str, item_col: str,
                     batch_id, depth: int = 4, width: int = 1024,
                     salt: str = "cms", app_id: str = "default") -> dict:
    """Fold a batch of item OCCURRENCES into a Count-Min sketch
    maintained AT REST — corpus-scale frequency tracking with per-batch
    cost ∝ batch, sketch size d·w forever.

    CMS is a COUNTER sketch, so replay safety cannot come from value
    idempotence the way it does for the KMV/value-sample stores
    (re-merging identical hashes is a no-op; re-adding identical counts
    DOUBLES them). Exactly-once folding instead comes from a WATERMARK
    LEDGER scoped by writer identity — the Delta ``txnAppId/txnVersion``
    pattern: each snapshot carries one ``(app_id, last_id)`` row per
    writer, and a batch is folded iff ``batch_id > last_id`` for its
    ``app_id``. Contract: ``batch_id`` is an INTEGER, MONOTONICALLY
    increasing per ``app_id`` (Structured Streaming's ``batch_id`` under
    one checkpoint is exactly that); a checkpoint-retried replay of the
    last id is a detected no-op. Two writers (a fresh checkpoint whose
    ids restart at 0, a backfill job) must use DISTINCT ``app_id``s —
    the r8 bare-id ledger silently skipped a new run's genuinely new
    batches when ids recycled. The watermark also bounds the ledger at
    one row per writer instead of one row per batch ever (r8 VERDICT
    #3): update cost no longer grows with ingest history.

    CONCURRENCY: ``app_id`` scopes batch-ID SEQUENCES (logical streams),
    not concurrent processes — updates must be SERIALIZED across all
    writers. The read-latest → write-next → marker commit has no mutual
    exclusion: two simultaneous updaters would both target the same
    ``cms-b<n+1>`` and one writer's fold could be overwritten while its
    watermark survives (a permanent silent undercount). Interleave a
    backfill with a live stream by pausing the stream or routing the
    backfill through the same serialized foreachBatch loop; real
    multi-writer commits need an optimistic-concurrency log (Delta),
    which plain parquet directories cannot express.

    Sketch GEOMETRY ``(depth, width, salt)`` is persisted in the state
    table and validated on every update — union-summing sketches with
    different geometry would silently corrupt counts and break the CMS
    never-undercount guarantee (r8 ADVICE, medium).

    Snapshot layout mirrors the KMV store with two tables per
    generation: ``cms-b<n>/sketch`` (row, bucket, c) and
    ``cms-b<n>/state`` (app_id, last_id, depth, width, salt), committed
    ATOMICALLY by one manually written ``_SUCCESS`` marker after BOTH
    tables land (the ivfstore two-table commit point); markerless
    orphans are invisible and older snapshots past the previous one are
    pruned. Returns ``{"batch", "skipped"}``."""
    try:
        bid = int(batch_id)
    except (TypeError, ValueError):
        raise TypeError(
            f"update_cms_store: batch_id must be an integer monotonic "
            f"per app_id (got {batch_id!r}) — a counter store cannot be "
            "made replay-safe without one; use the set sketches")
    last = storage.latest(storage.tree(spark, path, only=_CMS.marker),
                          _CMS)
    if last is not None:
        base = _CMS.dir(path, last)
        rows = _cms_state(spark, path, base, depth=depth, width=width,
                          salt=salt)
        prev = [r["last_id"] for r in rows if r["app_id"] == app_id]
        if prev and bid <= prev[0]:
            return {"batch": last, "skipped": True}
        merged = (storage.read_parquet(spark, f"{base}/sketch")
                  .unionByName(_cms_batch_cells(batch, item_col, depth,
                                                width, salt))
                  .groupBy("row", "bucket").agg(F.sum("c").alias("c")))
        others = [(r["app_id"], r["last_id"]) for r in rows
                  if r["app_id"] != app_id]
        nxt = last + 1
    else:
        merged = _cms_batch_cells(batch, item_col, depth, width, salt)
        others = []
        nxt = 0
    ledger = local_frame(
        spark, [(a, i, depth, width, salt)
                for a, i in others + [(app_id, bid)]],
        "app_id string, last_id long, depth int, width int, salt string")
    gen = _CMS.dir(path, nxt)
    merged.coalesce(1).write.mode("overwrite").parquet(f"{gen}/sketch")
    ledger.coalesce(1).write.mode("overwrite").parquet(f"{gen}/state")
    # the tables' own _SUCCESS files live inside the subdirs; the
    # SNAPSHOT-level marker lands only after both tables committed
    storage.commit(spark, gen, _CMS.marker)
    storage.retire(spark, path, _CMS)
    # the ledger just written is the next call's read (a local collect)
    memo.put(spark, _cms_state_key(storage.tree(spark, f"{gen}/state"),
                                   gen), ledger.collect())
    return {"batch": nxt, "skipped": False}


def read_cms_store(spark, path: str, depth: int | None = None,
                   width: int | None = None,
                   salt: str | None = None) -> DataFrame:
    """The newest committed sketch table: ``row, bucket, c`` — feed to
    :func:`cms_estimate` / :func:`cms_inner_product`. Pass any of
    ``depth``/``width``/``salt`` to assert the store's persisted
    geometry matches what the reader's probe hashing assumes — a
    mismatched reader computes probe buckets in a different space and
    silently breaks the never-undercount guarantee (r8 ADVICE)."""
    last = storage.latest(storage.tree(spark, path, only=_CMS.marker),
                          _CMS)
    if last is None:
        raise ValueError(f"CMS store at {path} has no committed "
                         "snapshots — update_cms_store first")
    base = _CMS.dir(path, last)
    if depth is not None or width is not None or salt is not None:
        _cms_state(spark, path, base, depth=depth, width=width, salt=salt)
    return storage.read_parquet(spark, f"{base}/sketch")
