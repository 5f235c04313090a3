"""Distributed connected components — duplicate-cluster resolution.

The missing step between near-dup PAIR generation (dedup.py) and a
retention decision at 100 TB: pairs form chains (A~B, B~C but not A~C),
so "keep one per duplicate group" is a connected-components problem,
not a groupBy.

Implementation: iterative min-label propagation on the symmetrized edge
list — each round every node adopts the smallest component id among
itself and its neighbours (one shuffle, map-side combinable min),
followed by a POINTER JUMP (adopt your label's label — path halving),
which turns O(diameter) convergence into O(log diameter): a 40-hop
chain closes in ~7 rounds instead of 40. ``max_iter`` hard-bounds
pathology.

Each round ends in ``localCheckpoint`` — without it the logical plan
nests one join deeper per round and Catalyst's analysis/codegen blows
up long before the data does (measured: driver-side OOM at ~40 rounds
on a 41-node chain). Checkpointing keeps the per-round plan constant
size; the driver only ever sees the 1-row convergence count.

At 1000-executor scale this is the Hash-to-Min family (Rastogi et al.,
ICDE'13): rounds × shuffles keyed on node id, state = one (id, label)
row per node — never materializing components as rows of pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, DoubleType, StructField, StructType

from ..session import local_frame

__all__ = ["connected_components", "pagerank", "triangle_stats",
           "SMALL_GRAPH_THRESHOLD"]

# Graphs of at most this many edge rows are solved on the driver:
# connected_components counts the caller's OCCURRENCE rows (duplicates
# and both directions) and pagerank the edge list its rounds would read;
# 0 sends every non-empty graph to the distributed path.
SMALL_GRAPH_THRESHOLD = 100_000


# triangle counting lives in graph_triangle.py (two physical plans —
# sparse oriented-array and dense broadcast-bitset — behind one operator);
# re-exported here so graph.py remains the single graph-operator namespace.
from .graph_triangle import triangle_stats  # noqa: E402,F401


def pagerank(edges: DataFrame, src: str = "u", dst: str = "v",
             iters: int = 3, damping: float = 0.85,
             round_dp: int = 9, assume_distinct: bool = False
             ) -> DataFrame:
    """PageRank on a directed edge list where EVERY node has at least
    one out-edge (symmetrize first when that is not guaranteed —
    dangling-mass redistribution is deliberately out of scope so the
    iteration stays a pure join+agg). Output: ``id, pr``.

    The canonical Pregel-on-DataFrames shape: per iteration ONE
    shuffle-join of the rank vector (which carries ``_outdeg`` with it)
    onto the edge list keyed on source, ONE map-side combinable
    ``groupBy(dst).sum``, and one node-sized broadcast-scale left join
    of contributions back onto the degree frame (keeps rank rows for
    in-degree-0 nodes) — rank state never leaves the cluster and is one
    row per node; the only driver scalar is N. (A self-loop
    augmentation that folds the left join into the aggregate was A/B
    tested and is ~1.5× SLOWER at sf0.1 — the left join is
    broadcast-cheap while the widened union+conditional-agg scan is
    not.)

    Materialization is decided here, from the input plan. The edge
    list and the node-degree frame feed every round: the degree frame
    is always checkpointed, and the edge list is checkpointed unless
    its plan already reads only checkpoint blocks
    (``plans.chooser.is_checkpoint_backed``: projections, filters and
    unions over ``localCheckpoint`` output), where a second copy would
    store the same bytes again. Every round but the last ends in an
    EAGER ``localCheckpoint``, so each runs ONCE as its own shallow AQE
    plan: executing the nested tree costs ~1 s of pure AQE re-planning
    at sf0.1 local[32] (r7 VERDICT #7, A/B'd: per-round 2.4 s vs
    nested-lazy 3.4 s min-of-3 end-to-end), and a lazy checkpoint is no
    cheaper — under AQE, ``toRdd`` materializes query stages, so it
    runs the jobs at construction anyway. The last round is returned
    lazy like any operator's output: the caller's action runs it, and a
    caller fanning several actions off the result checkpoints it.

    Every reduction is rounded at ``round_dp`` BEFORE feeding the next
    step, so the trajectory is bit-reproducible across engines and
    partitionings (the same fixed-decimal discipline as
    operators/classifier.py) — which is what lets an unrolled SQL
    oracle hash-match the full iteration.

    Size gate: the edge count comes with N, from the degree frame,
    and an edge list of at most ``SMALL_GRAPH_THRESHOLD`` rows (read at
    call time) is collected as Arrow and iterated on the driver
    (:func:`_pagerank_local`, the same rounds in numpy and the same
    rounding), the ranks returned as a ``LocalRelation``. A bigger
    graph runs the distributed rounds job for job as without a gate.
    """
    from ..plans.chooser import is_checkpoint_backed
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if not assume_distinct:
        # duplicate edges would double-count contributions; callers
        # whose edge list is distinct BY CONSTRUCTION (e.g. a distinct
        # list unioned with its disjoint reverse) skip this full-edge
        # exchange with assume_distinct=True
        e = e.distinct()
    # checkpoint the EDGE LIST first: deg and every round derive from
    # it, and without this each of their jobs re-executes the caller's
    # whole edge construction (measured 2× a 4.8 s join+distinct at
    # sf0.1 in ss_pagerank). localCheckpoint, not cache(): a cached
    # plan pins the session's cache registry per distinct input forever
    # (the r5 pair-engine hygiene rule); checkpoint blocks free on GC.
    if not is_checkpoint_backed(e):
        e = e.localCheckpoint(eager=True)
    # ONE node-sized state frame carries both roles: (id, _outdeg) is
    # the node list AND the degree table, and the rank vector keeps
    # _outdeg with it across iterations — the per-iteration join of
    # rank onto edges delivers pr AND outdeg in one pass, and no
    # edges⨝degree frame is ever materialized.
    # deliberately EAGER + separate count (r12 A/B): riding the count
    # on a lazy checkpoint (the store-path fusion) saves one job here
    # but measured SLOWER both orders at sf0.1 (min 3.08/3.13 lazy vs
    # 2.54/2.81 eager, 5 reps interleaved with the order swapped) —
    # the per-round consumers pay more reading the lazily-materialized
    # blocks than the dedicated checkpoint job costs.
    deg = (e.groupBy("u").agg(F.count("*").alias("_outdeg"))
           .localCheckpoint(eager=True))
    # N and the edge count in the one job that counted N alone: the
    # size gate costs a bigger graph nothing
    n, m = deg.agg(F.count("*"), F.sum("_outdeg")).first()
    if (m or 0) <= SMALL_GRAPH_THRESHOLD:
        tbl = e.toArrow()
        # a NULL id is a node the joins never match: left to the
        # distributed path, which defines it
        if not (tbl["u"].null_count or tbl["v"].null_count):
            return _pagerank_local(e.sparkSession, tbl,
                                   e.schema["u"].dataType, iters, damping,
                                   round_dp)
    # (1-d)/n is built from the SAME primitive ops an external SQL twin
    # would use — literal subtraction and division in the engine, never
    # a Python-folded constant (1.0-0.85 != the SQL literal 0.15 at the
    # last ulp) — so both engines feed identical doubles to round().
    base = (F.lit(1.0) - F.lit(damping)) / F.lit(float(n))
    pr = deg.select(F.col("u").alias("id"), "_outdeg",
                    F.round(F.lit(1.0) / F.lit(float(n)),
                            round_dp).alias("pr"))
    # the rank vector is node-sized; when that provably fits a broadcast
    # (n known from the degree count — ~48 B/row, 64 MB budget), hint it
    # into BOTH per-round joins. Per-round eager materialization hides
    # sizes from AQE, so without the hint the contribution join fell
    # back to shuffling the EDGES every round (r8 accepted trade:
    # shuffle grew 18.6 → 41.7 MB buying wall) — the gated hint keeps
    # the r8 wall AND reclaims the shuffle (r9, measured in
    # SCALE_NOTES). Past the gate (a 100 TB-scale node set) the
    # node-×-iteration-bounded shuffle join remains the right plan.
    bcast_ranks = n * 48 <= 64 * 1024 * 1024
    for it in range(iters):
        prj = pr.withColumnRenamed("id", "u")
        if bcast_ranks:
            prj = F.broadcast(prj)
        contrib = (e.join(prj, "u")
                   .groupBy(F.col("v").alias("id"))
                   .agg(F.round(F.sum(F.col("pr") / F.col("_outdeg")),
                                round_dp).alias("_s")))
        if bcast_ranks:
            contrib = F.broadcast(contrib)
        pr = (deg.select(F.col("u").alias("id"), "_outdeg")
              .join(contrib, "id", "left")
              .select("id", "_outdeg",
                      F.round(base
                              + F.lit(damping) * F.coalesce("_s", F.lit(0.0)),
                              round_dp).alias("pr")))
        if it < iters - 1:
            pr = pr.localCheckpoint(eager=True)
    return pr.select("id", "pr")


def _pagerank_local(spark: SparkSession, tbl, id_type: DataType,
                    iters: int, damping: float, round_dp: int) -> DataFrame:
    """:func:`pagerank`'s rounds over the collected edge list ``tbl``
    (``u, v``, deduplicated or not as the distributed rounds read it),
    with numpy. Every value is computed by the same double
    operations as the distributed plan and rounded by
    :func:`_round_half_up`, so the ranks are bit-identical to it except
    where a sum of three or more contributions lies within float error
    of a rounding half: there the order of the distributed sum (its
    partitioning) decides."""
    import numpy as np
    schema = StructType([StructField("id", id_type),
                         StructField("pr", DoubleType())])
    if not tbl.num_rows:
        return local_frame(spark, [], schema)
    u, v = tbl["u"].to_numpy(), tbl["v"].to_numpy()
    ids = np.unique(np.concatenate([u, v]))
    ui, vi = np.searchsorted(ids, u), np.searchsorted(ids, v)
    outdeg = np.bincount(ui, minlength=len(ids)).astype(np.float64)
    node = outdeg > 0       # deg: the nodes with an out-edge
    n = float(node.sum())
    base = (1.0 - damping) / n
    pr = np.full(len(ids),
                 _round_half_up(spark, np.array([1.0 / n]), round_dp)[0])
    for _ in range(iters):
        s = np.bincount(vi, weights=pr[ui] / outdeg[ui], minlength=len(ids))
        pr = _round_half_up(
            spark, base + damping * _round_half_up(spark, s, round_dp),
            round_dp)
    return local_frame(spark, zip(ids[node].tolist(), pr[node].tolist()),
                       schema)


def _round_half_up(spark: SparkSession, x, dp: int):
    """Spark's ``round(x, dp)`` of a double array:
    ``BigDecimal.valueOf(x).setScale(dp, HALF_UP)`` — HALF_UP on the
    decimal form ``Double.toString`` gives. Away from a half, that is
    ``floor(|x|·10^dp)`` plus one above the half, divided back by
    ``10^dp`` (one correctly rounded division, as ``doubleValue`` is).
    Within the float error of a half — where the JVM's decimal form
    decides, and JDK 17's is not always the shortest — and past 2^52,
    the decimal form is the JVM's own ``Double.toString``."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    scale = 10.0 ** dp
    t = np.abs(x) * scale
    ok = np.isfinite(t) & (t < 2.0 ** 52)
    t = np.where(ok, t, 0.0)
    whole = np.floor(t)
    frac = t - whole
    k = (whole + (frac > 0.5)).astype(np.int64)
    out = np.where(x < 0, -k, k) / scale
    near_half = ~(np.abs(frac - 0.5) > 1e-12 * np.maximum(t, 1.0))
    out = np.where(np.isfinite(x), out, x)
    idx = np.flatnonzero((near_half | ~ok) & np.isfinite(x))
    if idx.size:
        vals, inv = np.unique(x[idx], return_inverse=True)
        to_string = spark._jvm.java.lang.Double.toString
        q = Decimal(1).scaleb(-dp)
        out[idx] = np.array([float(Decimal(to_string(float(v)))
                                   .quantize(q, ROUND_HALF_UP))
                             for v in vals])[inv]
    return out


def connected_components(edges: DataFrame, src: str = "a_id",
                         dst: str = "b_id",
                         max_iter: int = 25,
                         small_graph_threshold: int = SMALL_GRAPH_THRESHOLD
                         ) -> DataFrame:
    """Component labels for every node appearing in ``edges``
    (undirected). Output: ``id, component`` where component = min node
    id reachable; deterministic regardless of partitioning.

    Size gate: a dedup graph is usually TINY relative to the corpus it
    came from (edges = verified near-dup pairs), and the distributed
    loop pays 3-4 jobs per iteration — pure overhead at that size. The
    gate counts the caller's OCCURRENCE edge rows off the materialized
    checkpoint (the count doubles as its materializing action): at most
    ``small_graph_threshold`` rows take the driver path, where the
    labels come from a union-find with path compression over those raw
    rows — direction and duplicates are free in union-find, so the
    small path pays NO symmetrizing union and NO distinct exchange, and
    the driver collect is bounded by ``small_graph_threshold`` rows.
    Occurrences are at least the distinct undirected edges, so a
    duplicate-heavy generator merely takes the distributed path
    earlier. Identical min-label output. Bigger graphs take the
    min-label-propagation + pointer-jump loop unchanged — the
    O(log diameter)-round plan a billion-edge graph needs. Pass
    ``small_graph_threshold=0`` to force the distributed path.
    """
    # materialize the caller's edge plan ONCE (r11): a union of
    # `edges` with its own reversal evaluates the caller's whole
    # pair-generation plan PER BRANCH — for a banded-Hamming or
    # posting-list pair frame that is the candidate join + verify
    # twice. The checkpoint is LAZY with the gate's count as its
    # materializing action (one blocking job — the r12 store-path
    # shape), and skipped when the edge plan already reads only
    # checkpoint blocks. DELIBERATE trade (r11 ADVICE): the checkpoint
    # stores the pre-distinct OCCURRENCE-sized multiset — for a
    # duplicate-heavy pair generator that is more executor storage than
    # the distinct set, and localCheckpoint blocks are lost on executor
    # failure; callers with heavy duplication should distinct() first.
    # The gate counts OCCURRENCE rows (r12): driver union-find needs
    # neither the symmetrizing union nor a distinct, so the small path
    # pays no full-edge distinct EXCHANGE to bound the collect.
    from ..plans.chooser import is_checkpoint_backed
    e0 = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if not is_checkpoint_backed(e0):
        e0 = e0.localCheckpoint(eager=False)
    if e0.count() <= small_graph_threshold:
        tbl = e0.toArrow()
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:        # path compression
                parent[x], x = r, parent[x]
            return r

        for u, v in zip(tbl["u"].to_pylist(), tbl["v"].to_pylist()):
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:                 # union by MIN id ⇒ root = min
                if rv < ru:
                    ru, rv = rv, ru
                parent[rv] = ru
        rows = [(x, find(x)) for x in parent]
        dtype = dict(e0.dtypes)["u"]
        return local_frame(e0.sparkSession, rows,
                           f"id {dtype}, component {dtype}")
    # distributed path: symmetrize + distinct off the materialized
    # occurrence blocks (both union branches are memory scans), then
    # checkpoint eagerly — every iteration's prop join reads it
    e = (e0.unionByName(e0.select(F.col("v").alias("u"),
                                  F.col("u").alias("v")))
         .distinct()
         .localCheckpoint(eager=True))
    labels = (e.select(F.col("u").alias("id"))
              .distinct()
              .withColumn("component", F.col("id"))
              .localCheckpoint())
    for _ in range(max_iter):
        # neighbour minimum: each edge u->v proposes v's current label to u
        prop = (e.join(labels.withColumnRenamed("id", "v"), "v")
                .groupBy("u").agg(F.min("component").alias("_nbr")))
        stepped = (labels.join(prop.withColumnRenamed("u", "id"), "id", "left")
                   .select("id",
                           F.least("component",
                                   F.coalesce("_nbr", F.col("component")))
                           .alias("component")))
        # pointer jump (path halving): adopt the current label OF my label
        ptr = labels.select(F.col("id").alias("component"),
                            F.col("component").alias("_cc"))
        new = (stepped.join(ptr, "component", "left")
               .select("id",
                       F.least("component",
                               F.coalesce("_cc", F.col("component")))
                       .alias("component"))
               .localCheckpoint())
        changed = (new.join(labels.withColumnRenamed("component", "_old"), "id")
                   .where(F.col("component") != F.col("_old")).count())
        labels = new
        if changed == 0:
            break
    return labels
