"""Similarity search over embedding columns (driver-mandated extension).

Embeddings are ``array<float>`` columns. Dot products / norms are computed
with higher-order functions (``zip_with`` + ``aggregate``) — JVM-side,
codegen-friendly, no UDFs, so a 100 TB scan streams through whole-stage
codegen without Python in the loop.

Paths:
- brute-force top-k: broadcast the query vector(s), score every row, one
  ``row_number`` cut — the exact baseline.
- hyperplane-LSH buckets: deterministic pseudo-random hyperplanes
  (``sin(i·97 + j·31)`` components — reproducible in any engine, no RNG
  state) assign each vector a sign-pattern bucket; candidate search only
  touches matching buckets. The scale path: bucket count 2^H bounds each
  join partition.
- IVF-style coarse quantization: assign to nearest of k sampled centroid
  rows, search within the assigned cell (probe=1) — demonstrates the
  partition-pruned ANN layout.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .partitioning import ensure_parallelism, input_bytes

__all__ = [
    "rrf_fuse",
    "dot_expr", "norm_expr", "cosine_expr", "knn_brute_force",
    "knn_brute_matmul",
    "hard_negatives", "hard_negatives_ivf", "hard_negatives_matmul",
    "hyperplane_bucket_col", "md5_plane", "md5_bucket_col", "probe_masks",
    "knn_lsh_multi", "ivf_assign", "ivf_search",
    "quantize_uint8", "random_projection", "pq_codebook", "pq_codes",
    "pq_adc_knn", "pq_train_codebook", "semantic_dedup",
    "kmeans_lloyd", "dim_stats", "gram_matrix", "pca_components",
    "whiten", "grouped_gram_pairs", "ivf_adc_rerank",
]


def _round_half_up_scalar(x, dp: int) -> float:
    """Scalar HALF_UP round with shortest-repr decimal semantics —
    what Spark/DuckDB ``round()`` computes. Python's builtin ``round``
    is HALF_EVEN on the BINARY value: a mean whose shortest decimal
    repr lands exactly on a .5 boundary flips the other way, and a
    driver-side model parameter (k-means centroid) that differs by
    1e-6 from the oracle's diverges every subsequent iteration.
    Accepts float or decimal.Decimal (exact — no binary detour)."""
    from decimal import ROUND_HALF_UP, Decimal
    d = x if isinstance(x, Decimal) else Decimal(repr(float(x)))
    return float(d.quantize(Decimal(1).scaleb(-dp), ROUND_HALF_UP))


def _round_half_up_np(a, dp: int):
    """Vectorized HALF_UP to ``dp`` decimals that matches Spark/DuckDB's
    DECIMAL-based round on every input. The fast path
    (``floor(|x|·10^dp + 0.5)``) evaluates the tie test in BINARY
    floating point, so a cosine whose shortest decimal representation
    sits exactly on the .5 boundary can land on the other side of the
    boundary than the engines' decimal-string rounding — a rank could
    flip vs the oracle on adversarial inputs. Elements within 1e-8 of a
    boundary (a measure-zero sliver of any real batch) are re-rounded
    through ``Decimal(repr(x)).quantize(HALF_UP)`` — exactly the
    shortest-repr decimal semantics Java's ``BigDecimal.valueOf`` and
    DuckDB apply — so the composite is boundary-exact AND stays one
    numpy pass in the common case. Ties round away from zero in all
    three implementations."""
    import numpy as np
    scale = float(10 ** dp)
    r = np.sign(a) * np.floor(np.abs(a) * scale + 0.5) / scale
    frac = np.abs(a) * scale
    near = np.abs(frac - np.floor(frac) - 0.5) < 1e-8
    if near.any():
        from decimal import ROUND_HALF_UP, Decimal
        q = Decimal(1).scaleb(-dp)
        r[near] = np.array(
            [float(Decimal(repr(float(x))).quantize(q,
                                                    rounding=ROUND_HALF_UP))
             for x in np.atleast_1d(a[near])], dtype="float64")
    return r


def rrf_fuse(legs: Sequence[DataFrame], id_col: str = "doc_id",
             rank_col: str = "rank", k_const: int = 60,
             round_dp: int = 6) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher SIGIR'09) — the
    standard way to combine a lexical (BM25) and a semantic (kNN)
    ranking without score calibration: fused = Σ_legs 1/(k + rank),
    missing-from-a-leg contributes 0. Ranks are INTEGERS, so the fused
    double is a fixed-order sum of exact reciprocals — engine-exact
    after rounding, unlike score-weighted fusion.

    Plan: each leg arrives already cut to its top-k (tiny), so the
    full-outer joins and the final rank window run on k·legs rows —
    driver/model-sized work after corpus-sized legs, no corpus shuffle
    here. Contract: leg ids must be non-null — a NULL id never matches
    across legs under the plain equi-join, so it would surface as one
    spurious single-leg row per leg instead of one fused row. Output:
    ``id_col, fused, rank`` (rank over fused desc, id asc)."""
    if not legs:
        raise ValueError("rrf_fuse: no legs")
    fused = None
    terms = []
    for i, leg in enumerate(legs):
        part = leg.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(float(k_const)) + F.col(rank_col)))
            .alias(f"_s{i}"))
        fused = part if fused is None else fused.join(part, id_col,
                                                      "full_outer")
        terms.append(F.coalesce(F.col(f"_s{i}"), F.lit(0.0)))
    score = terms[0]
    for t in terms[1:]:
        score = score + t
    w = Window.orderBy(F.col("fused").desc(), F.col(id_col))
    return (fused.withColumn("fused", F.round(score, round_dp))
            .withColumn("rank", F.row_number().over(w).cast("bigint"))
            .select(id_col, "fused", "rank"))


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def grouped_gram_pairs(df: DataFrame, group_col: str,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       threshold: float = 0.95,
                       group_cap: int = 16384) -> DataFrame:
    """All ``a_id < b_id`` pairs with cosine ≥ ``threshold`` WITHIN each
    group (LSH bucket, IVF cluster, …) via a per-group blocked BLAS
    gram matrix inside ``applyInPandas``.

    The pair SET is identical to the group equi-self-join with a
    per-pair :func:`cosine_expr` cut, but each pair costs a fused
    multiply-add row of an ``n_blk×d @ d×c`` matmul instead of an
    interpreted ``aggregate``/``zip_with`` evaluation (~19 µs/pair
    measured), and parallelism is per-group. Cosine is computed as
    ``dot / (‖a‖·‖b‖)`` — the same operand shape as the declarative
    and SQL forms, so drift is sum-order ulps.

    A group larger than ``group_cap`` rows fails fast with the fix
    spelled out: a c-row group costs c²·d flops and c·d·8 bytes in ONE
    task — the same degenerate-corpus hazard the banded-Hamming engines
    refuse via ``max_candidate_mass``. Output: ``a_id, b_id, cosine``.

    Zero-norm or non-finite vectors also fail fast (named error): their
    cosine is 0/0, and the three engines disagree on what that means —
    the declarative twin under this repo's ANSI sessions THROWS an
    opaque DIVIDE_BY_ZERO mid-query, DuckDB's ``0/0`` is NULL (the pair
    silently vanishes), and numpy's NaN compares FALSE against the
    threshold (also silently vanishes). Failing fast matches the ANSI
    form but names the offending ids and the fix. A dedup corpus with
    undefined-direction embeddings is a data bug; filter or re-embed
    upstream.
    """
    from pyspark.sql.types import DoubleType, StructField, StructType
    id_field = df.schema[id_col]
    out_schema = StructType([StructField("a_id", id_field.dataType),
                             StructField("b_id", id_field.dataType),
                             StructField("cosine", DoubleType())])
    cap = int(group_cap)
    thr = float(threshold)

    def group_gram(pdf):
        import numpy as np
        import pandas as pd
        n = len(pdf)
        if n > cap:
            raise ValueError(
                f"group holds {n} rows > group_cap={cap}: a single-task "
                f"gram would cost {n * (n - 1) // 2:.2e} pair-flops·d. "
                f"Refine the grouping (more LSH planes / more clusters) "
                f"or raise the cap.")
        if n < 2:
            return pd.DataFrame({"a_id": [], "b_id": [], "cosine": []})
        pdf = pdf.sort_values("__id").reset_index(drop=True)
        ids = pdf["__id"].to_numpy()
        V = np.vstack([np.asarray(v, dtype=np.float64)
                       for v in pdf["__vec"]])
        norms = np.sqrt(np.einsum("ij,ij->i", V, V))
        if not np.isfinite(norms).all() or (norms == 0).any():
            bad_ids = ids[~np.isfinite(norms) | (norms == 0)][:5]
            raise ValueError(
                f"grouped_gram_pairs: zero-norm or non-finite vectors "
                f"(ids {bad_ids.tolist()}…): cosine is 0/0 — the ANSI "
                f"expression form throws, DuckDB and numpy silently "
                f"drop the pair. Filter or re-embed these rows "
                f"upstream.")
        outs = []
        blk = 1024
        with np.errstate(divide="ignore", invalid="ignore"):
            for i0 in range(0, n, blk):
                i1 = min(i0 + blk, n)
                S = (V[i0:i1] @ V.T) / np.outer(norms[i0:i1], norms)
                jj, kk = np.nonzero(S >= thr)
                keep = (jj + i0) < kk  # a<b in sorted-id order
                outs.append((jj[keep] + i0, kk[keep],
                             S[jj[keep], kk[keep]]))
        aa = np.concatenate([o[0] for o in outs])
        bb = np.concatenate([o[1] for o in outs])
        cc = np.concatenate([o[2] for o in outs])
        return pd.DataFrame({"a_id": ids[aa], "b_id": ids[bb],
                             "cosine": cc})

    renamed = df.select(F.col(group_col), F.col(id_col).alias("__id"),
                        F.col(vec_col).alias("__vec"))
    return renamed.groupBy(group_col).applyInPandas(group_gram, out_schema)


def knn_brute_force(df: DataFrame, query: DataFrame, k: int = 10,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    query_id_col: str = "query_id") -> DataFrame:
    """Exact top-k by cosine for each query vector.

    ``query``: ``(query_id, embedding)`` — small, broadcast. One scan of
    the corpus, per-query ``row_number`` cut (ties broken by id for
    determinism). Output: ``query_id, vec_id, cosine, rank``.
    """
    q = F.broadcast(query.select(F.col(query_id_col),
                                 F.col(vec_col).alias("_qv")))
    scored = (ensure_parallelism(df.select(F.col(id_col), F.col(vec_col)))
              .crossJoin(q)
              .withColumn("cosine", cosine_expr(F.col(vec_col), F.col("_qv"))))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(query_id_col, id_col, "cosine", "rank"))


def knn_brute_matmul(df: DataFrame, query: DataFrame, k: int = 10,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     query_id_col: str = "query_id",
                     round_dp: int = 6) -> DataFrame:
    """Exact top-k cosine via per-batch numpy MATMUL — the brute-force
    path you actually run at 1e8+ vectors: the query matrix (model-
    sized) is normalized once on the driver and shipped to every Arrow
    batch, which computes all batch×query cosines in ONE BLAS matmul
    and emits only its per-query top-k (``k·|Q|`` rows per batch, not
    batch×|Q|). A final window over the per-batch survivors cuts the
    global top-k.

    Exactness of the batch cut: both levels rank by the SAME total
    order — (HALF-UP-rounded cosine desc, id asc) — so the global
    top-k is a prefix of the union of batch top-ks (no margin factor
    needed). Rounding is sign-aware floor(|x|·10^dp + 0.5) to match
    Spark/DuckDB ``round`` (numpy rounds half-even — the repo's known
    tie hazard); ranking on the rounded value keeps the numpy-vs-SQL
    summation-order noise (~1e-16) from ever flipping a rank.
    Output: ``query_id, vec_id, cosine, rank`` (cosine rounded).

    Zero-norm contract (deliberate deviation): a zero-norm vector's
    norm is mapped to ∞ so its cosine is a well-defined 0 and it ranks
    LAST. The raw ``dot/(‖a‖·‖b‖)`` expression yields 0/0 there — a
    DIVIDE_BY_ZERO throw under this repo's ANSI sessions, a NULL (row
    ordered by the engine's null-ordering rule) in DuckDB. A corpus
    with zero vectors therefore diverges from the expression twin by
    design; clean it upstream if oracle parity matters.
    """
    import numpy as np
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)
    qrows = query.select(query_id_col, vec_col).collect()
    if not qrows:
        raise ValueError("knn_brute_matmul: empty query set")
    qids = np.array([int(r[0]) for r in qrows], dtype="int64")
    Q = np.array([[float(x) for x in r[1]] for r in qrows], dtype="float64")
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    qn[qn == 0] = np.inf
    Qt = (Q / qn).T                        # d × |Q|
    out_schema = StructType([
        StructField(query_id_col, LongType(), False),
        StructField(id_col, LongType(), False),
        StructField("cosine", DoubleType(), True),
    ])

    def _batches(it):
        import pandas as pd
        for pdf in it:
            if not len(pdf):
                continue
            C = np.array(pdf[vec_col].tolist(), dtype="float64")
            ids = pdf[id_col].to_numpy(dtype="int64")
            cn = np.linalg.norm(C, axis=1, keepdims=True)
            cn[cn == 0] = np.inf
            cos = (C / cn) @ Qt            # batch × |Q|
            # HALF_UP to round_dp BEFORE the cut so the batch order
            # equals the global order; boundary-exact vs decimal round
            r = _round_half_up_np(cos, round_dp)
            kk = min(k, len(ids))
            # per-query top-k under (rounded desc, id asc): lexsort on
            # (-rounded, id) — stable and total
            out_q, out_i, out_c = [], [], []
            for j in range(r.shape[1]):
                order = np.lexsort((ids, -r[:, j]))[:kk]
                out_q.append(np.full(kk, qids[j], dtype="int64"))
                out_i.append(ids[order])
                out_c.append(r[order, j])
            yield pd.DataFrame({
                query_id_col: np.concatenate(out_q),
                id_col: np.concatenate(out_i),
                "cosine": np.concatenate(out_c)})

    survivors = (ensure_parallelism(df.select(F.col(id_col), F.col(vec_col)))
                 .mapInPandas(_batches, out_schema))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(),
                                                 F.col(id_col))
    return (survivors.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(query_id_col, id_col, "cosine", "rank"))


def hard_negatives_matmul(df: DataFrame, query: DataFrame, k: int = 5,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id",
                          label_col: str = "label",
                          query_id_col: str = "query_id",
                          round_dp: int = 6) -> DataFrame:
    """MATMUL variant of :func:`hard_negatives` — hard-negative mining
    runs over the WHOLE corpus with MANY queries (every anchor in a
    fine-tuning set), which is exactly the regime where the per-batch
    BLAS matmul beats the crossJoin expression path ~20× (see
    SCALE_NOTES' kNN sweep). Same construction as
    :func:`knn_brute_matmul` — per-batch cosines in one matmul, the
    label-inequality mask applied to each query's column BEFORE the
    per-batch cut, both cut levels ranked by the identical
    (HALF-UP-rounded cosine desc, id asc) total order ⇒ the global
    top-k is a prefix of the batch survivors. Output matches
    :func:`hard_negatives` re-ranked on the rounded cosine:
    ``query_id, vec_id, label, cosine, rank``. Contract limits: ids and
    labels must be integral non-null (int64 numpy mask path — a null
    query label raises instead of silently returning every row, where
    SQL's ``label <> NULL`` returns none); string labels and zero-norm
    vectors (NaN-vs-0 divergence, see :func:`knn_brute_matmul`) use the
    expression variant.
    """
    import numpy as np
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)
    qrows = query.select(query_id_col, vec_col, label_col).collect()
    if not qrows:
        raise ValueError("hard_negatives_matmul: empty query set")
    qids = [int(r[0]) for r in qrows]
    qlabels = [r[2] for r in qrows]
    if any(lab is None for lab in qlabels):
        raise ValueError(
            "hard_negatives_matmul: null query label — SQL's "
            "'label <> NULL' matches nothing, the numpy mask would "
            "match everything; filter null-labelled queries first")
    Q = np.array([[float(x) for x in r[1]] for r in qrows], dtype="float64")
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    qn[qn == 0] = np.inf
    Qt = (Q / qn).T
    out_schema = StructType([
        StructField(query_id_col, LongType(), False),
        StructField(id_col, LongType(), False),
        StructField(label_col, LongType(), True),
        StructField("cosine", DoubleType(), True),
    ])

    def _batches(it):
        import pandas as pd
        for pdf in it:
            if not len(pdf):
                continue
            C = np.array(pdf[vec_col].tolist(), dtype="float64")
            ids = pdf[id_col].to_numpy(dtype="int64")
            labs = pdf[label_col].to_numpy(dtype="int64")
            cn = np.linalg.norm(C, axis=1, keepdims=True)
            cn[cn == 0] = np.inf
            r = (C / cn) @ Qt
            r = _round_half_up_np(r, round_dp)
            frames = []
            for j in range(r.shape[1]):
                valid = np.nonzero(labs != qlabels[j])[0]
                if not len(valid):
                    continue
                rj, iv = r[valid, j], ids[valid]
                order = np.lexsort((iv, -rj))[:min(k, len(valid))]
                frames.append(pd.DataFrame({
                    query_id_col: np.full(len(order), qids[j],
                                          dtype="int64"),
                    id_col: iv[order],
                    label_col: labs[valid][order],
                    "cosine": rj[order]}))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    survivors = (ensure_parallelism(
        df.select(F.col(id_col), F.col(vec_col), F.col(label_col)))
        .mapInPandas(_batches, out_schema))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(),
                                                 F.col(id_col))
    return (survivors.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(query_id_col, id_col, label_col, "cosine", "rank"))


def hard_negatives(df: DataFrame, query: DataFrame, k: int = 5,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   label_col: str = "label",
                   query_id_col: str = "query_id") -> DataFrame:
    """Contrastive hard-negative mining (the training-pair prep step of
    embedding-model fine-tuning): for each labelled query vector, the
    top-k highest-cosine corpus vectors with a DIFFERENT label — the
    negatives the model currently confuses most.

    Same scale shape as :func:`knn_brute_force` — broadcast query side,
    ONE corpus scan — with the label-inequality filter applied before
    ranking, so the window sees only eligible rows. Exact baseline; at
    1e9 vectors use :func:`hard_negatives_ivf` (probe-pruned).
    Output: ``query_id, vec_id, label, cosine, rank``.
    """
    q = F.broadcast(query.select(F.col(query_id_col),
                                 F.col(vec_col).alias("_qv"),
                                 F.col(label_col).alias("_ql")))
    scored = (ensure_parallelism(
        df.select(F.col(id_col), F.col(vec_col), F.col(label_col)))
        .crossJoin(q)
        .where(F.col(label_col) != F.col("_ql"))
        .withColumn("cosine", cosine_expr(F.col(vec_col), F.col("_qv"))))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(),
                                                 F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(query_id_col, id_col, label_col, "cosine", "rank"))


def hard_negatives_ivf(df: DataFrame, centroids: DataFrame,
                       query: DataFrame, k: int = 5, nprobe: int = 2,
                       vec_col: str = "embedding", id_col: str = "vec_id",
                       label_col: str = "label",
                       query_id_col: str = "query_id",
                       centroid_id_col: str = "centroid_id") -> DataFrame:
    """Probe-pruned hard-negative mining: assign the corpus to IVF
    cells once, mine each query's negatives inside its ``nprobe``
    nearest cells only — the same partition-pruned layout as
    :func:`ivf_search`, so cost scales with nprobe/k_cells of the
    corpus, not the corpus. Approximate (a hard negative outside the
    probed cells is missed — by construction those are far from the
    query); recall vs the exact miner is pinned in tests."""
    corpus = (ivf_assign(df, centroids, vec_col, id_col, centroid_id_col,
                         keep_vec=True)
              .join(df.select(F.col(id_col), F.col(label_col)), id_col)
              .select(F.col(id_col), F.col(vec_col), F.col(label_col),
                      F.col(centroid_id_col)))
    c = F.broadcast(centroids.select(F.col(centroid_id_col),
                                     F.col(vec_col).alias("_cv")))
    qs = (query.select(F.col(query_id_col), F.col(vec_col).alias("_qv"),
                       F.col(label_col).alias("_ql"))
          .crossJoin(c)
          .withColumn("_cos", cosine_expr(F.col("_qv"), F.col("_cv"))))
    wq = Window.partitionBy(query_id_col).orderBy(F.col("_cos").desc(),
                                                  F.col(centroid_id_col))
    probes = (qs.withColumn("_rn", F.row_number().over(wq))
              .where(F.col("_rn") <= nprobe)
              .select(query_id_col, centroid_id_col, "_qv", "_ql"))
    scored = (corpus.join(F.broadcast(probes), on=centroid_id_col)
              .where(F.col(label_col) != F.col("_ql"))
              .withColumn("cosine", cosine_expr(F.col(vec_col),
                                                F.col("_qv"))))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(),
                                                 F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(query_id_col, id_col, label_col, "cosine", "rank"))


def _plane_component(h: int, j: Column | int) -> Column:
    """Deterministic hyperplane h component j: sin(h·97 + j·31) — portable
    to any engine (the DuckDB oracle reproduces it verbatim)."""
    jj = F.lit(j) if isinstance(j, int) else j
    return F.sin(F.lit(h * 97).cast("double") + jj.cast("double") * 31.0)


def hyperplane_bucket_col(vec_col: str, num_planes: int = 4) -> Column:
    """Sign-pattern bucket id in [0, 2^num_planes): bit h = 1 iff
    dot(vec, plane_h) > 0."""
    v = F.col(vec_col)
    bucket = None
    for h in range(num_planes):
        proj = F.aggregate(
            F.zip_with(v, F.transform(F.sequence(F.lit(0), F.size(v) - 1),
                                      lambda j: _plane_component(h, j)),
                       lambda x, p: x * p),
            F.lit(0.0), lambda acc, t: acc + t)
        bit = F.when(proj > 0, F.lit(1 << h)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("int")


def md5_plane(plane_idx: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component j is
    ``md5(f"{plane_idx}:{j}")``'s first 32 bits scaled to [-1, 1).

    Unlike the ``sin(h·97 + j·31)`` family (kept for the bucket-parity
    queries), md5 components are INDEPENDENT across planes — adjacent
    sin-planes correlate as ½·cos(97·Δh) ≈ −0.46, which defeats
    multi-table OR-amplification (measured: recall stuck at 0.70).
    Constants are computed once driver-side and embedded as literals in
    the plan (and verbatim in the DuckDB oracle) — zero per-row hash
    cost at scan time."""
    import hashlib
    return [int(hashlib.md5(f"{plane_idx}:{j}".encode()).hexdigest()[:8], 16)
            / 2147483648.0 - 1.0 for j in range(dim)]


def md5_bucket_col(vec_col: str, num_planes: int, dim: int,
                   table: int = 0) -> Column:
    """Sign-pattern bucket from md5-derived literal planes (table t uses
    plane indices t·H .. t·H+H−1)."""
    v = F.col(vec_col)
    bucket = None
    for h in range(num_planes):
        plane = F.array(*[F.lit(c) for c in
                          md5_plane(table * num_planes + h, dim)])
        proj = F.aggregate(F.zip_with(v, plane, lambda x, p: x * p),
                           F.lit(0.0), lambda acc, t_: acc + t_)
        bit = F.when(proj > 0, F.lit(1 << h)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("int")


def probe_masks(num_planes: int, probe_hamming: int) -> list[int]:
    """XOR masks enumerating every bucket within Hamming distance
    ``probe_hamming`` of a query's own bucket (mask 0 = the bucket
    itself). For H planes, Σ_{d≤r} C(H,d) masks — e.g. H=4, r=1 → 5."""
    return [m for m in range(1 << num_planes)
            if bin(m).count("1") <= probe_hamming]


def knn_lsh_multi(df: DataFrame, query: DataFrame, k: int = 10,
                  vec_col: str = "embedding", id_col: str = "vec_id",
                  query_id_col: str = "query_id", num_planes: int = 4,
                  num_tables: int = 4, probe_hamming: int = 1,
                  dim: int = 64) -> DataFrame:
    """Approximate top-k via OR-combined multi-table hyperplane LSH with
    multi-probe (the standard recall amplification: L independent tables,
    each probed at its own bucket plus Hamming≤r neighbors; a candidate
    survives if ANY table/probe matches).

    Candidate bound per query: L · Σ_{d≤r} C(H,d) · n/2^H matches before
    the distinct (H=4, L=4, r=1 → ≤ 5L/16 of the corpus; the union is
    smaller). Recall: a neighbor whose per-bit agreement is p is found
    w.p. 1 − (1 − P[Binom(H,1−p) ≤ r])^L — e.g. p=0.6 (this corpus's
    ~70° top-10 neighbors, an adversarially hard regime) → 0.92
    expected; real embedding corpora (p ≥ 0.85) prune far harder at the
    same recall. Floor pinned in tests/test_properties.py.

    Plans are md5-derived literal constants (:func:`md5_plane`) — plan
    independence is what makes the OR work, and the DuckDB oracle
    reproduces them digit-for-digit.
    Output: ``query_id, vec_id, cosine, rank``.
    """
    masks = probe_masks(num_planes, probe_hamming)
    base = ensure_parallelism(df.select(F.col(id_col), F.col(vec_col)))
    cand = None
    for t in range(num_tables):
        corpus = base.withColumn("_bkt", md5_bucket_col(vec_col, num_planes,
                                                        dim, table=t))
        qb = query.withColumn("_qbkt",
                              md5_bucket_col(vec_col, num_planes, dim, table=t))
        probes = F.array(*[F.col("_qbkt").bitwiseXOR(F.lit(m)) for m in masks])
        q = F.broadcast(qb.withColumn("_bkt", F.explode(probes))
                        .select(F.col(query_id_col),
                                F.col(vec_col).alias("_qv"), F.col("_bkt")))
        c = (corpus.join(q, on="_bkt")
             .select(query_id_col, id_col, vec_col, "_qv"))
        cand = c if cand is None else cand.unionByName(c)
    cand = cand.dropDuplicates([query_id_col, id_col])
    scored = cand.withColumn("cosine",
                             cosine_expr(F.col(vec_col), F.col("_qv")))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(),
                                                 F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(query_id_col, id_col, "cosine", "rank"))


def ivf_assign(df: DataFrame, centroids: DataFrame,
               vec_col: str = "embedding", id_col: str = "vec_id",
               centroid_id_col: str = "centroid_id",
               keep_vec: bool = False,
               literals: bool | None = None,
               literals_min_bytes: int = 64 << 20) -> DataFrame:
    """IVF coarse assignment: each vector → nearest centroid (max cosine,
    ties to the lowest centroid id).

    Two physical strategies with identical results:

    - ``literals=True`` — the BULK path: the centroid table is
      model-sized (k×d floats), so collect it once and assign in a
      single projection against k literal arrays (all k cosines in one
      array expression; argmax = ``array_position(arr, array_max(arr))``,
      first occurrence → lowest centroid id on ties). ZERO shuffle, zero
      join, zero aggregate — at a 10⁹-row corpus this removes an
      exchange of every (id, vector) row. Costs a fixed ~0.5 s per plan
      (centroid-collect action + codegen over k·d literal nodes).
    - ``literals=False`` — the SMALL path: broadcast crossJoin collapsed
      map-side through a ``max_by`` hash aggregate; the exchange carries
      one narrow row per vector. No collect, tiny plan — faster whenever
      the exchange is cheaper than half a second of fixed overhead.

    ``literals=None`` decides from scan-file metadata (no job):
    literal assignment once the input exceeds ``literals_min_bytes``
    (64 MiB — well past the point where the per-row exchange outweighs
    the fixed plan cost), the aggregate path below it, and — when the
    size is unknowable from metadata — the SMALL path unless the
    session's scheduling width exceeds 64 cores (a constant probe; the
    input's own partition count is NOT consulted because reading it
    via .rdd would execute the upstream pipeline under AQE). Writing the output partitioned by ``centroid_id``
    gives the partition-pruned ANN layout at rest. ``keep_vec=True``
    carries the vector through (free on the literal path — same scan
    row; on the aggregate path it rides the max_by payload).
    """
    if literals is None:
        size = input_bytes(df)
        if size is None:
            # NOT df.rdd.getNumPartitions(): under AQE, .rdd finalizes
            # the adaptive plan by RUNNING every upstream query stage —
            # the whole input pipeline would execute at plan-construction
            # time and again at the action (the toRdd hazard pagerank's
            # docstring documents). With no metadata to read, proxy
            # "wide input" by the session's scheduling width instead —
            # a constant, no job.
            sc = df.sparkSession.sparkContext
            literals = sc.defaultParallelism > 64
        else:
            literals = size >= literals_min_bytes

    if literals:
        rows = sorted(centroids.select(F.col(centroid_id_col),
                                       F.col(vec_col)).collect(),
                      key=lambda r: r[centroid_id_col])
        cid_arr = F.array(*[F.lit(r[centroid_id_col]) for r in rows])
        coss = F.array(*[
            cosine_expr(F.col(vec_col),
                        F.array(*[F.lit(float(x)) for x in r[vec_col]]))
            for r in rows])
        work = ensure_parallelism(df.select(F.col(id_col), F.col(vec_col)))
        # alias the cosine array once so codegen's subexpression
        # elimination provably computes the k dot products once per row
        mx = F.array_max(F.col("_coss"))
        scored = (work.withColumn("_coss", coss)
                  .select(F.col(id_col), F.col(vec_col),
                          F.element_at(cid_arr,
                                       F.array_position(F.col("_coss"), mx)
                                       .cast("int"))
                          .alias(centroid_id_col),
                          mx.alias("cosine")))
        out = [id_col, centroid_id_col, "cosine"]
        if keep_vec:
            out.insert(1, vec_col)
        return scored.select(*out)

    c = F.broadcast(centroids.select(
        F.col(centroid_id_col), F.col(vec_col).alias("_cv")))
    work = ensure_parallelism(df.select(F.col(id_col), F.col(vec_col)))
    scored = (work.crossJoin(c)
              .withColumn("_cos", cosine_expr(F.col(vec_col), F.col("_cv"))))
    payload = [F.col(centroid_id_col), F.col("_cos")]
    if keep_vec:
        payload.append(F.col(vec_col))
    best = scored.groupBy(id_col).agg(
        F.max_by(F.struct(*payload),
                 F.struct(F.col("_cos"), (-F.col(centroid_id_col)).alias("_t"))
                 ).alias("_b"))
    out = [F.col(id_col), F.col(f"_b.{centroid_id_col}").alias(centroid_id_col),
           F.col("_b._cos").alias("cosine")]
    if keep_vec:
        out.append(F.col(f"_b.{vec_col}").alias(vec_col))
    return best.select(*out)


def ivf_search(df: DataFrame, centroids: DataFrame, query: DataFrame,
               k: int = 10, nprobe: int = 2,
               vec_col: str = "embedding", id_col: str = "vec_id",
               query_id_col: str = "query_id",
               centroid_id_col: str = "centroid_id") -> DataFrame:
    """Full IVF top-k search: probe the ``nprobe`` nearest cells per query.

    1. Corpus → cell via :func:`ivf_assign` (one broadcast scan).
    2. Each query → its ``nprobe`` nearest centroids (cos desc,
       centroid_id asc tie-break).
    3. Score only corpus vectors living in a probed cell; ``row_number``
       cut to top-k per query (ties by id).

    At rest, write the corpus partitioned by ``centroid_id``: step 3 then
    becomes a partition-pruned scan of nprobe/k_cells of the data — the
    canonical distributed-ANN layout. Output:
    ``query_id, vec_id, cosine, rank``.
    """
    corpus = (ivf_assign(df, centroids, vec_col, id_col, centroid_id_col,
                         keep_vec=True)
              .select(F.col(id_col), F.col(vec_col), F.col(centroid_id_col)))
    c = F.broadcast(centroids.select(F.col(centroid_id_col),
                                     F.col(vec_col).alias("_cv")))
    qs = (query.select(F.col(query_id_col), F.col(vec_col).alias("_qv"))
          .crossJoin(c)
          .withColumn("_cos", cosine_expr(F.col("_qv"), F.col("_cv"))))
    wq = Window.partitionBy(query_id_col).orderBy(F.col("_cos").desc(),
                                                  F.col(centroid_id_col))
    probes = (qs.withColumn("_rn", F.row_number().over(wq))
              .where(F.col("_rn") <= nprobe)
              .select(query_id_col, centroid_id_col, "_qv"))
    scored = (corpus.join(F.broadcast(probes), on=centroid_id_col)
              .withColumn("cosine", cosine_expr(F.col(vec_col), F.col("_qv"))))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(),
                                                 F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(query_id_col, id_col, "cosine", "rank"))


def semantic_dedup(df: DataFrame, centroids: DataFrame,
                   threshold: float = 0.9,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   centroid_id_col: str = "centroid_id") -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023,
    arXiv:2303.09540): cluster the corpus coarsely, then inside each
    cluster drop every vector that has a higher-priority near-duplicate
    (cosine ≥ ``threshold``). Priority = lowest id (deterministic);
    the greedy drop rule — x is dropped iff some SURVIVING-or-not y with
    y_id < x_id and cos(x, y) ≥ τ shares its cluster — is the standard
    SemDeDup approximation, not a transitive closure (pairs straddling
    cluster boundaries are not compared; that is the method's documented
    recall trade-off, and exactly why it scales).

    Plan: one broadcast-centroid assignment scan (:func:`ivf_assign` —
    map-side max_by, one narrow shuffle), then each cluster is closed
    by :func:`grouped_gram_pairs` — candidate volume is Σ|cluster|²,
    never n², and the per-pair cosine is a BLAS gram row instead of an
    interpreted expression (emb_semantic_dedup 3.1 → ~1 s at sf0.1).
    At 100 TB the cluster count grows with the corpus (√n-ish rule),
    so per-cluster membership stays bounded — the ``group_cap``
    fail-fast names the fix when it does not. Output: ``id_col,
    centroid_id, kept`` (every input row, kept = false for dropped
    near-dups).
    """
    asg = ivf_assign(df, centroids, vec_col, id_col, centroid_id_col,
                     keep_vec=True)
    dropped = (grouped_gram_pairs(asg, centroid_id_col, id_col, vec_col,
                                  threshold)
               .select(F.col("b_id").alias(id_col))
               .distinct())
    return (asg.select(F.col(id_col), F.col(centroid_id_col))
            .join(dropped.withColumn("_dropped", F.lit(True)),
                  on=id_col, how="left")
            .select(F.col(id_col), F.col(centroid_id_col),
                    F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept")))


def quantize_uint8(df: DataFrame, vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """Asymmetric per-dimension uint8 quantization — the vector-DB
    compression step (4× over float32, 8× over float64) that makes a
    100 TB embedding corpus scan-able: q = round((v − min_d) /
    (max_d − min_d) · 255) per dimension d.

    Plan: posexplode → one groupBy on dimension for min/max (64 rows —
    broadcast back) → pure-expression quantize. Constant-dimension stats
    mean the dequant table rides along as metadata, not data.
    Output: ``id_col, i (1-based dim), q`` (flat rows, engine-portable).
    """
    ex = (df.withColumn("_v64", F.col(vec_col).cast("array<double>"))
          .select(F.col(id_col), F.posexplode("_v64").alias("_p", "_v")))
    stats = ex.groupBy("_p").agg(F.min("_v").alias("_lo"),
                                 F.max("_v").alias("_hi"))
    q = (F.when(F.col("_hi") > F.col("_lo"),
                F.round((F.col("_v") - F.col("_lo"))
                        / (F.col("_hi") - F.col("_lo")) * 255.0, 0))
         .otherwise(F.lit(0.0))).cast("bigint")
    return (ex.join(F.broadcast(stats), "_p")
            .select(F.col(id_col), (F.col("_p") + 1).alias("i"),
                    q.alias("q")))


def random_projection(df: DataFrame, vec_col: str = "embedding",
                      id_col: str = "vec_id", out_dim: int = 8,
                      dim: int = 64, base_plane: int = 100) -> DataFrame:
    """Johnson-Lindenstrauss random projection to ``out_dim`` dims via
    md5-derived literal planes (:func:`md5_plane`, offset ``base_plane``
    so the LSH tables' planes are never reused) — the sketching step
    before a cheaper ANN index or a disk-light corpus copy. Distances
    are preserved within (1 ± ε) for out_dim = O(log n / ε²).

    Planes are plan literals: zero per-row hash cost, trivially
    reproducible in any engine. Output: ``id_col, p_0 .. p_{k-1}``.
    """
    v = F.col(vec_col)
    cols = []
    for j in range(out_dim):
        plane = F.array(*[F.lit(c) for c in md5_plane(base_plane + j, dim)])
        proj = F.aggregate(F.zip_with(v, plane, lambda x, p: x * p),
                           F.lit(0.0), lambda acc, t_: acc + t_)
        cols.append(proj.alias(f"p_{j}"))
    return df.select(F.col(id_col), *cols)


def pq_codebook(subspaces: int = 4, codewords: int = 8,
                dim: int = 64) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks: codeword c of
    subspace s is an md5-derived pseudo-random vector over the
    subspace's dim/subspaces components (:func:`md5_plane` family,
    disjoint index range). Real PQ trains these with k-means; the
    TRAINED constants would be embedded the same way — as plan literals
    broadcast to every task, zero per-row hash cost."""
    sub = dim // subspaces
    # scale md5 components (RMS 1/sqrt(3)) to the per-component RMS of a
    # unit-norm dim-vector (1/sqrt(dim)) — untrained codewords must live
    # at the data's magnitude or quantization cells never separate
    # (measured: unscaled books gave ADC shortlists no better than
    # chance; scaled books put exact-top10 coverage at a usable level)
    scale = (3.0 / dim) ** 0.5
    return [[[x * scale for x in md5_plane(1000 + s * codewords + c, sub)]
             for c in range(codewords)] for s in range(subspaces)]


def pq_codes(df: DataFrame, vec_col: str = "embedding",
             id_col: str = "vec_id", subspaces: int = 4,
             codewords: int = 8, dim: int = 64,
             book: list | None = None,
             round_dists: int | None = None) -> DataFrame:
    """Product-quantization encoding (Jégou et al., TPAMI'11): split each
    vector into ``subspaces`` blocks, assign each block to its nearest
    codeword by squared L2 — the storage layout vector stores use to keep
    billion-scale indexes in RAM (64-dim float → ``subspaces`` small ints
    here; 8 codewords → 3 bits/subspace).

    Pure row-local expressions: per block, an array of ``codewords``
    squared distances (aggregate over zip_with — fixed evaluation order,
    engine-portable) and an ``array_position(min)`` argmin with
    first-occurrence tie-break. No shuffle, no UDF; encoding 100 TB of
    vectors is a single codegen'd scan.
    Output: ``id_col, c0 .. c{subspaces-1}`` (int codes).
    """
    sub = dim // subspaces
    if book is None:
        book = pq_codebook(subspaces, codewords, dim)
    work = ensure_parallelism(df.select(F.col(id_col), F.col(vec_col)))
    cols = []
    for s in range(subspaces):
        sl = F.slice(F.col(vec_col), s * sub + 1, sub)
        def _d(c, s=s, sl=sl):
            d = F.aggregate(
                F.zip_with(sl, F.array(*[F.lit(x) for x in book[s][c]]),
                           lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda acc, v: acc + v)
            # `is not None`, not truthiness: round_dists=0 (round to
            # integers) is a legitimate request a falsy check drops
            return F.round(d, round_dists) if round_dists is not None \
                else d
        dists = F.array(*[_d(c) for c in range(codewords)])
        code = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        cols.append(code.alias(f"c{s}"))
    return work.select(F.col(id_col), *cols)


def pq_adc_knn(df: DataFrame, query: DataFrame, k: int = 10,
               vec_col: str = "embedding", id_col: str = "vec_id",
               query_id_col: str = "query_id", subspaces: int = 4,
               codewords: int = 8, dim: int = 64,
               book: list | None = None,
               round_dists: int | None = None) -> DataFrame:
    """Approximate kNN by PQ asymmetric distance computation (ADC):
    corpus vectors are represented ONLY by their :func:`pq_codes`; a
    query's distance to a corpus row is Σ_s d²(q_sub_s, codeword[s][c_s])
    — the scan touches ``subspaces`` small ints per row instead of
    ``dim`` floats (the RAM/IO argument for PQ at billion scale).

    Plan: corpus → codes (shuffle-free scan); queries broadcast; per
    (query, subspace, codeword) squared distances are plan literals ×
    query columns, and the per-row lookup is ``element_at`` by code. One
    broadcast join + one top-k window per query. Ranking quality bounded
    by quantization error — the re-rank pass (exact distance on the
    ADC top-m) is :func:`knn_brute_force` over the candidate ids.
    Output: ``query_id, vec_id, adc_dist, rank``.
    """
    sub = dim // subspaces
    if book is None:
        book = pq_codebook(subspaces, codewords, dim)
    codes = pq_codes(df, vec_col, id_col, subspaces, codewords, dim,
                     book=book, round_dists=round_dists)
    q = F.broadcast(query.select(F.col(query_id_col),
                                 F.col(vec_col).alias("_qv")))
    j = codes.join(q)
    dist = None
    for s in range(subspaces):
        qs = F.slice(F.col("_qv"), s * sub + 1, sub)
        tbl = F.array(*[
            F.aggregate(
                F.zip_with(qs, F.array(*[F.lit(x) for x in book[s][c]]),
                           lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda acc, v: acc + v)
            for c in range(codewords)])
        term = F.element_at(tbl, F.col(f"c{s}") + 1)
        dist = term if dist is None else dist + term
    w = Window.partitionBy(query_id_col).orderBy(F.col("_adc").asc(),
                                                 F.col(id_col))
    return (j.withColumn("_adc", dist)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(query_id_col, id_col, F.col("_adc").alias("adc_dist"),
                    "rank"))


def pq_train_codebook(df: DataFrame, vec_col: str = "embedding",
                      subspaces: int = 4, codewords: int = 8,
                      dim: int = 64, iters: int = 1) -> list[list[list[float]]]:
    """Lloyd/k-means training for the PQ codebooks, seeded from the
    scaled md5 book: each iteration assigns every subvector to its
    nearest current codeword (the :func:`pq_codes` expression) and
    recomputes codewords as cell means.

    The per-cell means are DECIMAL-summed (order-proof — the collected
    constants must be bit-reproducible for oracle parity) and the
    codebook (subspaces × codewords × dim/subspaces floats ≤ a few KB)
    is collected driver-side — the standard shape: codebooks are tiny
    trained constants; the training data never leaves the cluster.
    Empty cells keep their seed codeword.
    """
    sub = dim // subspaces
    book = pq_codebook(subspaces, codewords, dim)
    for _ in range(iters):
        sel = []
        for s in range(subspaces):
            sl = F.slice(F.col(vec_col), s * sub + 1, sub)
            dists = F.array(*[
                F.round(F.aggregate(
                    F.zip_with(sl, F.array(*[F.lit(x) for x in book[s][c]]),
                               lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0), lambda acc, v: acc + v), 9)
                for c in range(codewords)])
            code = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
            sel.append(code.alias(f"_c{s}"))
            sel.append(sl.alias(f"_v{s}"))
        assigned = df.select(*sel)
        aggs = []
        for s in range(subspaces):
            for i in range(sub):
                comp = F.element_at(f"_v{s}", i + 1).cast("decimal(30,12)")
                for c in range(codewords):
                    m = F.when(F.col(f"_c{s}") == c, comp)
                    aggs.append(F.sum(m).alias(f"s_{s}_{c}_{i}"))
                    aggs.append(F.count(m).alias(f"n_{s}_{c}_{i}"))
        row = assigned.agg(*aggs).first()
        new = []
        for s in range(subspaces):
            ws = []
            for c in range(codewords):
                n = row[f"n_{s}_{c}_0"]
                if not n:
                    ws.append(book[s][c])
                else:
                    ws.append([float(row[f"s_{s}_{c}_{i}"]) / row[f"n_{s}_{c}_{i}"]
                               for i in range(sub)])
            new.append(ws)
        book = new
    return book


def kmeans_lloyd(df: DataFrame, k: int = 4, iters: int = 2,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 dim: int = 64) -> tuple[DataFrame, list[list[float]]]:
    """Full-vector Lloyd's k-means (the iterative-algorithm pattern:
    broadcast model out, aggregate model update back).

    Init: the ``k`` lowest-``id_col`` vectors (deterministic, no RNG).
    Each iteration:

    - assign: current centroids ride into the plan as k×dim literals;
      squared-L2 per centroid is a ``zip_with``/``aggregate`` fold
      (JVM codegen), argmin ties to the lowest cluster id. One scan, no
      shuffle, no join.
    - update: per-(cluster, dim) means via ONE hash aggregate over the
      ``posexplode``d vectors — partials combine map-side, the exchange
      carries ≤ k·dim rows. The driver collect is bounded by MODEL size
      (k·dim doubles), never data size — the parameter-server shape.

    Cross-engine determinism (so an unrolled SQL oracle matches
    bit-for-bit): distances are rounded to 9 dp before argmin; centroid
    component sums are DECIMAL(30,12) (order-proof) and the resulting
    means rounded to 6 dp before the next broadcast.

    Returns (assignments ``(id_col, cluster, d2)``, final centroids).
    """
    init = (df.orderBy(id_col).limit(k)
            .select(F.col(vec_col).cast("array<double>")).collect())
    # HALF_UP, not Python round (HALF_EVEN-on-binary): the centroids
    # are broadcast model state — one boundary flip diverges every
    # later assignment vs the decimal-rounding SQL oracle
    cents = [[_round_half_up_scalar(x, 6) for x in r[0]] for r in init]

    def assign(frame: DataFrame) -> DataFrame:
        dists = F.array(*[
            F.round(F.aggregate(
                F.zip_with(F.col(vec_col).cast("array<double>"),
                           F.array(*[F.lit(c) for c in cent]),
                           lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda acc, v: acc + v), 9)
            for cent in cents])
        mn = F.array_min(dists)
        return frame.select(
            F.col(id_col), F.col(vec_col),
            (F.array_position(dists, mn) - 1).cast("int").alias("cluster"),
            mn.alias("d2"))

    for _ in range(iters):
        a = assign(df)
        upd = (a.select("cluster", F.posexplode(
                   F.col(vec_col).cast("array<double>")).alias("dim", "v"))
               .groupBy("cluster", "dim")
               .agg(F.sum(F.col("v").cast("decimal(30,12)")).alias("s"),
                    F.count("*").alias("n"))
               .collect())
        new = [list(c) for c in cents]
        acc: dict[int, list[float]] = {}
        for row in upd:
            # exact Decimal division + HALF_UP quantize — the sum is
            # already DECIMAL(30,12), so stay in decimal all the way to
            # the 6-dp mean instead of detouring through binary floats
            from decimal import Decimal
            acc.setdefault(row["cluster"], [0.0] * dim)[row["dim"]] = \
                _round_half_up_scalar(row["s"] / Decimal(row["n"]), 6)
        for cid, vec in acc.items():
            new[cid] = vec
        cents = new

    return assign(df).select(id_col, "cluster", "d2"), cents


def whiten(df: DataFrame, vec_col: str = "embedding",
           dim: int = 64, top: int = 8, eps: float = 1e-9,
           out_col: str = "whitened") -> DataFrame:
    """PCA whitening: project each vector onto the ``top`` principal
    components and scale by 1/√(λ+eps), so the output has (empirically)
    identity covariance — the standard pre-step before cosine-based
    semantic dedup / retrieval when raw embedding dimensions are
    correlated (anisotropic embeddings inflate cosine similarity).

    Model fitting = :func:`pca_components` (one distributed Gram pass +
    a driver-side dim×dim eigh — model-sized, legitimate). The
    transform itself is a LITERAL-matrix projection: out[j] =
    Σ_i (x[i] − μ[i])·W[j][i] / √(λ_j+eps), all literal arithmetic —
    ZERO shuffle, zero join, whole-stage codegen, same bulk shape as
    ivf_assign's literal path. Adds ``out_col`` (array<double>, length
    ``top``)."""
    import numpy as np
    stats = gram_matrix(df, vec_col, dim)
    n, s, _ = stats
    mu = (np.asarray(s) / n).tolist()
    vals, comps = pca_components(df, vec_col, dim, top, stats=stats)
    x = F.col(vec_col)
    outs = []
    for j in range(top):
        # clamp before the sqrt: eigh's numerical noise can make a
        # trailing eigenvalue of a rank-deficient corpus slightly
        # negative beyond eps, and a negative base ** 0.5 is a COMPLEX
        # in Python — float(complex) then dies with an opaque TypeError
        scale = 1.0 / float((max(float(vals[j]), 0.0) + eps) ** 0.5)
        term = None
        for i in range(dim):
            t = (x[i] - F.lit(mu[i])) * F.lit(comps[j][i])
            term = t if term is None else term + t
        outs.append(term * F.lit(scale))
    return df.withColumn(out_col, F.array(*outs))


def dim_stats(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension mean/variance across the corpus: ``posexplode`` →
    one (dim)-keyed hash aggregate (partials combine map-side; the
    exchange carries ``dim`` rows of sums). Population variance via
    E[x²]−E[x]² on DECIMAL sums so the result is order-proof. Output:
    ``dim (0-based), mean, var`` — the normalization constants every
    embedding pipeline computes before whitening/quantization."""
    ex = df.select(F.posexplode(F.col(vec_col).cast("array<double>"))
                   .alias("dim", "v"))
    agg = ex.groupBy("dim").agg(
        F.sum(F.col("v").cast("decimal(30,12)")).alias("_s"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(30,12)")).alias("_s2"),
        F.count("*").alias("_n"))
    mean = (F.col("_s") / F.col("_n")).cast("double")
    ex2 = (F.col("_s2") / F.col("_n")).cast("double")
    return agg.select("dim", F.round(mean, 6).alias("mean"),
                      F.round(ex2 - mean * mean, 6).alias("var"))


def gram_matrix(df: DataFrame, vec_col: str = "embedding",
                dim: int = 64) -> tuple[int, list[float], list[list[float]]]:
    """Distributed Gram/covariance accumulation — the mapInPandas
    pattern for second-order statistics at 100 TB: each Arrow batch
    contributes ONE partial (count, column-sum vector, dim×dim
    Gram from a numpy matmul), so the shuffle-free reduce moves
    O(partitions · dim²) floats instead of O(rows · dim²) exploded
    terms. Returns (n, sums[dim], gram[dim][dim]); covariance =
    gram/n − outer(mean, mean) — see :func:`pca_components`."""
    import pandas as pd

    out_schema = (f"n long, s array<double>, g array<double>")

    def part(batches):
        import numpy as np
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray([np.asarray(v, dtype=np.float64)
                            for v in pdf[vec_col]])
            yield pd.DataFrame({
                "n": [len(x)],
                "s": [x.sum(axis=0).tolist()],
                "g": [(x.T @ x).ravel().tolist()],
            })

    parts = df.select(vec_col).mapInPandas(part, out_schema).collect()
    n = sum(r["n"] for r in parts)
    s = [0.0] * dim
    g = [0.0] * (dim * dim)
    for r in parts:
        for i, v in enumerate(r["s"]):
            s[i] += v
        for i, v in enumerate(r["g"]):
            g[i] += v
    return n, s, [g[i * dim:(i + 1) * dim] for i in range(dim)]


def pca_components(df: DataFrame, vec_col: str = "embedding",
                   dim: int = 64, top: int = 8, stats=None):
    """PCA over the corpus: covariance from :func:`gram_matrix` (one
    distributed pass), then an eigendecomposition of the dim×dim matrix
    on the driver — legitimate because the matrix is model-sized (64²
    doubles), not data-sized. Returns (eigvals desc, components) for the
    ``top`` components; project with a zip_with dot against the
    broadcast component rows. Pass ``stats=(n, s, g)`` (a prior
    :func:`gram_matrix` result) to skip the distributed pass."""
    import numpy as np
    n, s, g = stats if stats is not None else gram_matrix(df, vec_col, dim)
    mu = np.asarray(s) / n
    cov = np.asarray(g) / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:top]
    return vals[order].tolist(), vecs[:, order].T.tolist()


def ivf_adc_rerank(df: DataFrame, centroids: DataFrame, query: DataFrame,
                   k: int = 5, shortlist: int = 20, nprobe: int = 2,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   query_id_col: str = "query_id",
                   centroid_id_col: str = "centroid_id",
                   subspaces: int = 4, codewords: int = 8, dim: int = 64,
                   book: list | None = None) -> DataFrame:
    """The full production ANN read path — IVF coarse prune → PQ ADC
    shortlist → exact re-rank — as one composed plan (the FAISS
    ``IVFx,PQy`` + refine layout, re-expressed in DataFrame ops):

    1. corpus → cell (:func:`ivf_assign`) and PQ codes
       (:func:`pq_codes`) in one scan — at rest this frame is written
       partitioned by cell with ONLY ``(id, c0..c{s-1})`` resident, the
       few-bytes-per-vector representation that keeps 10⁹ vectors in RAM;
    2. each query probes its ``nprobe`` nearest cells (broadcast
       centroid table — model-sized);
    3. ADC over probed cells only: the query's subspace×codeword
       distance table is plan-literal arithmetic; candidates ranked by
       code lookups, cut to ``shortlist`` per query;
    4. exact cosine ONLY on the shortlist: the survivor ids are
       broadcast back against the full-vector corpus (a point-lookup
       fetch at scale — never a corpus shuffle), re-ranked, cut to k.

    Recall comes from nprobe and shortlist; the expensive exact math
    touches queries×shortlist rows regardless of corpus size.  Output:
    ``query_id, vec_id, cosine, adc_rank, rank``.
    """
    if book is None:
        book = pq_codebook(subspaces, codewords, dim)
    sub = dim // subspaces
    assigned = ivf_assign(df, centroids, vec_col, id_col, centroid_id_col,
                          keep_vec=True)
    # code columns inline on the assigned frame (same expressions as
    # pq_codes) — cell + codes come out of the ONE corpus scan, no join
    code_cols = []
    for s in range(subspaces):
        sl = F.slice(F.col(vec_col), s * sub + 1, sub)
        dists = F.array(*[
            F.aggregate(
                F.zip_with(sl, F.array(*[F.lit(x) for x in book[s][c2]]),
                           lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda acc, v: acc + v)
            for c2 in range(codewords)])
        code_cols.append((F.array_position(dists, F.array_min(dists)) - 1)
                         .cast("int").alias(f"c{s}"))
    codes = assigned.select(F.col(id_col), F.col(centroid_id_col),
                            *code_cols)

    c = F.broadcast(centroids.select(F.col(centroid_id_col),
                                     F.col(vec_col).alias("_cv")))
    qs = (query.select(F.col(query_id_col), F.col(vec_col).alias("_qv"))
          .crossJoin(c)
          .withColumn("_cos", cosine_expr(F.col("_qv"), F.col("_cv"))))
    wq = Window.partitionBy(query_id_col).orderBy(F.col("_cos").desc(),
                                                  F.col(centroid_id_col))
    probes = (qs.withColumn("_rn", F.row_number().over(wq))
              .where(F.col("_rn") <= nprobe)
              .select(query_id_col, centroid_id_col, "_qv"))

    cand = codes.join(F.broadcast(probes), on=centroid_id_col)
    dist = None
    for s in range(subspaces):
        qsl = F.slice(F.col("_qv"), s * sub + 1, sub)
        tbl = F.array(*[
            F.aggregate(
                F.zip_with(qsl, F.array(*[F.lit(x) for x in book[s][c2]]),
                           lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda acc, v: acc + v)
            for c2 in range(codewords)])
        term = F.element_at(tbl, F.col(f"c{s}") + 1)
        dist = term if dist is None else dist + term
    wa = Window.partitionBy(query_id_col).orderBy(F.col("_adc").asc(),
                                                  F.col(id_col))
    short = (cand.withColumn("_adc", dist)
             .withColumn("adc_rank", F.row_number().over(wa))
             .where(F.col("adc_rank") <= shortlist)
             .select(query_id_col, id_col, "adc_rank", "_qv"))

    fetched = df.select(F.col(id_col), F.col(vec_col)) \
        .join(F.broadcast(short), id_col)
    wr = Window.partitionBy(query_id_col).orderBy(F.col("_ecos").desc(),
                                                  F.col(id_col))
    return (fetched.withColumn("_ecos", cosine_expr(F.col(vec_col),
                                                    F.col("_qv")))
            .withColumn("rank", F.row_number().over(wr))
            .where(F.col("rank") <= k)
            .select(query_id_col, id_col, F.col("_ecos").alias("cosine"),
                    "adc_rank", "rank"))
