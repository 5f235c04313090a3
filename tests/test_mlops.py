"""Tests for the round-3 ML-pipeline additions: bloom semi join,
Lloyd k-means, dimension stats / Gram / PCA, segment dedup, temperature
sampling — each checked against an independent reimplementation (plain
Spark join, numpy, or brute-force Python) per SURVEY §5's differential
strategy."""

import math
import random

import pytest
from pyspark.sql import functions as F

from datatools_spark.operators.bloom import (
    bloom_build, bloom_semi_join, bloom_test_col,
)
from datatools_spark.operators.curation import temperature_sample
from datatools_spark.operators.dedup import segment_dedup
from datatools_spark.operators.similarity import (
    dim_stats, gram_matrix, kmeans_lloyd, pca_components,
)

from .conftest import count_jobs


@pytest.fixture(scope="module")
def vecs(spark):
    rnd = random.Random(7)
    rows = [(i, [rnd.gauss(i % 3, 1.0) for _ in range(8)]) for i in range(200)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


# ---------------------------------------------------------------- bloom

def test_bloom_semi_join_equals_plain(spark):
    probe = spark.range(0, 5000).select(F.col("id").alias("k"))
    build = spark.range(0, 5000, 7).select(F.col("id").alias("bk"))
    got = sorted(r["k"] for r in
                 bloom_semi_join(probe, build, "k", "bk").collect())
    want = sorted(r["k"] for r in
                  probe.join(build.withColumnRenamed("bk", "k").distinct(),
                             "k", "left_semi").collect())
    assert got == want


def test_bloom_no_false_negatives_and_filters_most(spark):
    build = spark.range(0, 100).select(F.col("id").alias("bk"))
    words = bloom_build(build, "bk", num_bits=1 << 16, num_hashes=4)
    probe = spark.range(0, 20000).select(F.col("id").alias("k"))
    passed = probe.where(
        bloom_test_col(F.col("k"), words, 1 << 16, 4)).collect()
    ids = {r["k"] for r in passed}
    assert set(range(100)) <= ids          # never drops a true member
    # 100 keys * 4 hashes in 65536 bits -> fpr well under 1%
    assert len(ids) - 100 < 20000 * 0.01


def test_bloom_filter_runs_before_join(spark):
    probe = spark.range(0, 1000).select(F.col("id").alias("k"))
    build = spark.range(0, 10).select(F.col("id").alias("bk"))
    plan = bloom_semi_join(probe, build, "k", "bk") \
        ._jdf.queryExecution().executedPlan().toString()
    semi = plan.lower().find("leftsemi")
    filt = plan.find("md5")
    assert semi != -1 and filt != -1 and filt > semi, \
        "bloom md5 filter should sit below (after, in plan text) the semi join"


# --------------------------------------------------------------- kmeans

def _np_lloyd(rows, k, iters, dim):
    cents = [[round(float(x), 6) for x in v]
             for _, v in sorted(rows)[:k]]
    for it in range(iters + 1):
        assign = {}
        for i, v in sorted(rows):
            ds = [round(sum((a - b) * (a - b) for a, b in zip(v, c)), 9)
                  for c in cents]
            assign[i] = ds.index(min(ds))
        if it == iters:
            return assign, cents
        new = [list(c) for c in cents]
        for cid in range(k):
            mem = [v for i, v in rows if assign[i] == cid]
            if mem:
                new[cid] = [round(sum(m[d] for m in mem) / len(mem), 6)
                            for d in range(dim)]
        cents = new


def test_kmeans_matches_reference_loop(spark, vecs):
    assigns, cents = kmeans_lloyd(vecs, k=3, iters=2, dim=8)
    got = {r["vec_id"]: r["cluster"] for r in assigns.collect()}
    rows = [(r["vec_id"], r["embedding"]) for r in vecs.collect()]
    want, want_cents = _np_lloyd(rows, 3, 2, 8)
    assert got == want
    for a, b in zip(cents, want_cents):
        assert a == pytest.approx(b, abs=1e-6)


def test_kmeans_partitions_all_rows(spark, vecs):
    assigns, _ = kmeans_lloyd(vecs, k=3, iters=1, dim=8)
    assert assigns.count() == vecs.count()
    assert assigns.select("cluster").distinct().count() <= 3


# ----------------------------------------------------- dim stats / PCA

def test_dim_stats_matches_numpy(spark, vecs):
    np = pytest.importorskip("numpy")
    x = np.asarray([r["embedding"] for r in vecs.collect()])
    got = {r["dim"]: (r["mean"], r["var"]) for r in dim_stats(vecs).collect()}
    for d in range(8):
        assert got[d][0] == pytest.approx(x[:, d].mean(), abs=1e-6)
        assert got[d][1] == pytest.approx(x[:, d].var(), abs=1e-6)


def test_gram_matrix_matches_numpy(spark, vecs):
    np = pytest.importorskip("numpy")
    x = np.asarray([r["embedding"] for r in vecs.collect()])
    n, s, g = gram_matrix(vecs, dim=8)
    assert n == len(x)
    assert np.allclose(s, x.sum(axis=0))
    assert np.allclose(g, x.T @ x)


def test_pca_components_match_numpy_eigh(spark, vecs):
    np = pytest.importorskip("numpy")
    x = np.asarray([r["embedding"] for r in vecs.collect()])
    vals, comps = pca_components(vecs, dim=8, top=3)
    want = np.sort(np.linalg.eigvalsh(np.cov(x.T, bias=True)))[::-1][:3]
    assert np.allclose(vals, want, atol=1e-8)
    # components are unit-norm and orthogonal
    c = np.asarray(comps)
    assert np.allclose(c @ c.T, np.eye(3), atol=1e-8)


# -------------------------------------------- ivf assignment strategies

def test_ivf_assign_strategies_identical(spark, vecs):
    from datatools_spark.operators.similarity import ivf_assign
    cents = vecs.where(F.col("vec_id") < 5) \
        .select(F.col("vec_id").alias("centroid_id"), "embedding")
    lit = sorted(map(tuple, ivf_assign(vecs, cents, literals=True).collect()))
    agg = sorted(map(tuple, ivf_assign(vecs, cents, literals=False).collect()))
    assert lit == agg


def test_ivf_assign_literal_path_has_no_exchange(spark, vecs):
    from datatools_spark.operators.similarity import ivf_assign
    cents = vecs.where(F.col("vec_id") < 5) \
        .select(F.col("vec_id").alias("centroid_id"), "embedding")
    plan = ivf_assign(vecs, cents, literals=True) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ------------------------------------------------------- segment dedup

@pytest.fixture(scope="module")
def seg_docs(spark):
    rows = [
        (0, "a b c d e f"),        # segs (w=3): "a b c", "d e f"
        (1, "a b c x y z"),        # first seg duplicates doc 0's
        (2, "d e f a b c"),        # both segs are dups of doc 0
        (3, "unique words only"),
        (4, "   "),                # blank: dropped entirely
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_segment_dedup_keeps_first_occurrence(spark, seg_docs):
    out = {r["doc_id"]: r for r in
           segment_dedup(seg_docs, seg_words=3).collect()}
    assert out[0]["text_kept"] == "a b c d e f"
    assert out[1]["text_kept"] == "x y z"
    assert out[2]["text_kept"] == ""
    assert out[3]["text_kept"] == "unique words only"
    assert 4 not in out
    assert out[2]["n_segments"] == 2 and out[2]["n_kept"] == 0


def test_segment_dedup_idempotent(spark, seg_docs):
    once = segment_dedup(seg_docs, seg_words=3) \
        .where(F.col("text_kept") != "") \
        .select("doc_id", F.col("text_kept").alias("text"))
    twice = segment_dedup(once, seg_words=3)
    assert all(r["n_kept"] == r["n_segments"] for r in twice.collect())


# ------------------------------------------------------------ BPE train

def _ref_bpe(words, rounds):
    """Classic sequential BPE: count pairs, merge winner left-to-right
    (merged token not re-considered within the pass)."""
    from collections import Counter
    toks = [[c for c in w] for w in words if len(w) >= 2]
    merges = []
    for r in range(rounds):
        cnt = Counter()
        for t in toks:
            for i in range(len(t) - 1):
                cnt[(t[i], t[i + 1])] += 1
        if not cnt:
            break
        pair = min(cnt, key=lambda p: (-cnt[p], p))
        merges.append((r, f"{pair[0]} {pair[1]}", cnt[pair]))
        out = []
        for t in toks:
            nt, i = [], 0
            while i < len(t):
                if i + 1 < len(t) and (t[i], t[i + 1]) == pair:
                    nt.append(t[i] + t[i + 1])
                    i += 2
                else:
                    nt.append(t[i])
                    i += 1
            out.append(nt)
        toks = out
    return merges, toks


def test_bpe_train_matches_sequential_reference(spark):
    from datatools_spark.operators.text import bpe_train
    words = ["hello", "hell", "help", "banana", "bandana", "aaa",
             "abababab", "x", "lowlow"]
    df = spark.createDataFrame([(0, " ".join(words))],
                               "doc_id long, text string")
    merges, toks = bpe_train(df, rounds=4)
    want_merges, want_toks = _ref_bpe(words, 4)
    assert merges == want_merges
    got = sorted(tuple(r["t"]) for r in toks.collect())
    toks.unpersist()
    assert got == sorted(map(tuple, want_toks))


def test_bpe_encode_applies_merges_in_order(spark):
    from datatools_spark.operators.text import bpe_encode, bpe_train
    words = ["hello", "hell", "help", "banana", "bandana", "aaa",
             "abababab", "x", "lowlow"]
    df = spark.createDataFrame([(0, " ".join(words))],
                               "doc_id long, text string")
    merges, toks = bpe_train(df, rounds=4)
    # encoding the TRAINING corpus reproduces the trained tokenization
    # for every length>=2 word, and passes length-1 words through whole
    enc = {tuple(r["t"]) for r in bpe_encode(df, merges).collect()}
    want = {tuple(r["t"]) for r in toks.collect()} | {("x",)}
    toks.unpersist()
    assert enc == want
    # a NEW document reuses the frozen merges (no retraining): "hehe"
    # gets the round-1 "h e" merge applied greedily left-to-right
    pair0 = merges[0][1]
    df2 = spark.createDataFrame([(1, "hehe zz")], "doc_id long, text string")
    enc2 = {tuple(r["t"]) for r in bpe_encode(df2, merges).collect()}
    if pair0 == "h e":
        assert ("he", "he") in enc2
    assert ("z", "z") in enc2 or ("zz",) in enc2


# ------------------------------------------------------------ sketches

@pytest.fixture(scope="module")
def words(spark):
    rnd = random.Random(11)
    rows = [(f"w{rnd.randint(0, 1999)}",) for _ in range(20000)]
    return spark.createDataFrame(rows, "w string")


def test_cms_never_undercounts_and_is_tight(spark, words):
    from datatools_spark.operators.sketches import cms_build, cms_estimate
    sketch = cms_build(words, "w", depth=4, width=1024)
    assert sketch.count() <= 4 * 1024          # sketch is size-bounded
    probes = spark.createDataFrame(
        [("w0",), ("w7",), ("absent",)], "word string")
    est = {r["word"]: r["cms_est"]
           for r in cms_estimate(sketch, probes, "word").collect()}
    exact = {w: c for w, c in
             words.groupBy("w").count().collect()}
    for w in ("w0", "w7"):
        assert est[w] >= exact[w]              # CMS never undercounts
        assert est[w] <= exact[w] + 20000 * 4 / 1024   # e*N/w bound, loose
    assert est["absent"] >= 0


def test_hll_estimate_close_and_mergeable(spark, words):
    from datatools_spark.operators.sketches import (
        hll_estimate, hll_registers,
    )
    import pyspark.sql.functions as SF
    exact = words.select("w").distinct().count()
    est = hll_estimate(words, "w").collect()[0]["hll_est"]
    assert abs(est - exact) / exact < 0.15     # sigma ~= 1.04/sqrt(256)
    # mergeability: registers(a UNION b) == elementwise max of registers
    a = words.where(SF.length("w") % 2 == 0)
    b = words.where(SF.length("w") % 2 != 0)
    ra = hll_registers(a, "w")
    rb = hll_registers(b, "w")
    merged = (ra.unionByName(rb).groupBy("bucket")
              .agg(SF.max("reg").alias("reg")))
    full = hll_registers(words, "w")
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, full.collect()))


# ---------------------------------------------------------- incremental

def test_incremental_rollup_equals_full_recompute(spark):
    from datatools_spark.operators.incremental import (
        finish_rollup, merge_rollups, partial_rollup,
    )
    rnd = random.Random(3)
    rows = [(i % 7, rnd.uniform(-5, 5)) for i in range(5000)]
    df = spark.createDataFrame(rows, "k int, value double")
    full = finish_rollup(partial_rollup(df, ["k"], "value"))
    # three arbitrary splits, merged in two different orders
    s1, s2, s3 = (df.where(F.pmod((F.col("value") * 100).cast("int"), F.lit(3)) == i)
                  for i in range(3))
    parts = [partial_rollup(s, ["k"], "value") for s in (s1, s2, s3)]
    m1 = finish_rollup(merge_rollups(parts[0], parts[1], parts[2]))
    m2 = finish_rollup(merge_rollups(parts[2], parts[0], parts[1]))
    want = sorted(map(tuple, full.collect()))
    assert sorted(map(tuple, m1.collect())) == want
    assert sorted(map(tuple, m2.collect())) == want


# -------------------------------------------------- temperature sample

@pytest.fixture(scope="module")
def sourced(spark):
    rows = [(i, "big" if i < 800 else ("mid" if i < 950 else "small"))
            for i in range(1000)]
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_temperature_rates_flatten_the_tail(spark, sourced):
    out = temperature_sample(sourced, alpha=0.5, base_rate=0.25)
    rates = {r["source"]: r["_rate"] for r in
             out.select("source", "_rate").distinct().collect()}
    assert rates["big"] == pytest.approx(0.25, abs=1e-6)
    assert rates["big"] < rates["mid"] < rates["small"] <= 1.0
    # alpha=1 keeps raw proportions: every source at base_rate
    flat = temperature_sample(sourced, alpha=1.0, base_rate=0.25)
    assert {r["_rate"] for r in
            flat.select("_rate").distinct().collect()} == {0.25}


def test_temperature_sample_deterministic(spark, sourced):
    a = sorted(r["doc_id"] for r in
               temperature_sample(sourced, alpha=0.5, base_rate=0.5).collect())
    b = sorted(r["doc_id"] for r in
               temperature_sample(sourced, alpha=0.5, base_rate=0.5).collect())
    assert a == b and 0 < len(a) <= 1000


# ----------------------------------------------------------- classifier

@pytest.fixture(scope="module")
def lang_docs(spark):
    """Synthetic two-language corpus: 'en-like' docs share a stopword
    set the others lack, so a bag-of-words model is learnable."""
    rnd = random.Random(11)
    en = ["the", "of", "and", "glacier", "melt", "rate"]
    de = ["der", "und", "von", "gletscher", "schmelze", "rate"]
    rows = []
    for i in range(300):
        vocab = en if i % 2 == 0 else de
        rows.append((i, " ".join(rnd.choice(vocab) for _ in range(30)),
                     "en" if i % 2 == 0 else "de"))
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_logreg_loss_decreases_and_learns(spark, lang_docs):
    from datatools_spark.operators.classifier import (
        hashed_features, score_logreg, train_logreg,
    )
    feats = hashed_features(
        lang_docs, label=(F.col("lang") == "en"), dim=16).cache()

    def mean_logloss(w, b):
        scored = score_logreg(feats, w, b, score_dp=9)
        eps = 1e-9
        return scored.agg(F.avg(
            -F.col("label") * F.log(F.col("score") + eps)
            - (1 - F.col("label")) * F.log(1 - F.col("score") + eps)
        ).alias("ll")).first()["ll"]

    l0 = mean_logloss([0.0] * 16, 0.0)           # ln 2
    w1, b1 = train_logreg(feats, dim=16, iters=1, lr=8.0)
    w3, b3 = train_logreg(feats, dim=16, iters=3, lr=8.0)
    l1, l3 = mean_logloss(w1, b1), mean_logloss(w3, b3)
    assert abs(l0 - math.log(2)) < 1e-6
    assert l1 < l0 and l3 < l1            # every GD step reduces loss
    acc = (score_logreg(feats, w3, b3)
           .agg(F.avg((F.col("pred") == F.col("label")).cast("double")))
           .first()[0])
    assert acc > 0.95                     # separable vocab → learned
    feats.unpersist()


def test_logreg_scoring_is_shuffle_free(spark, lang_docs):
    """Scoring under literal weights is featurize + project — any
    Exchange in the plan is a regression (training's only exchange is
    the dim-bounded gradient aggregate)."""
    from datatools_spark.operators.classifier import (
        hashed_features, score_logreg,
    )
    feats = hashed_features(lang_docs, label=(F.col("lang") == "en"), dim=16)
    plan = (score_logreg(feats, [0.1] * 16, 0.0)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_logreg_gradient_exchange_is_dim_bounded(spark, lang_docs):
    """The training aggregate's shuffle carries per-partition partials
    of dim+1 doubles: plan must show a partial/final HashAggregate pair
    (map-side combine), no join, no row-level exchange."""
    from datatools_spark.operators.classifier import hashed_features
    feats = hashed_features(lang_docs, label=(F.col("lang") == "en"), dim=16)
    agg = feats.agg(*[F.sum(F.col("x")[i]).alias(f"g{i}")
                      for i in range(16)])
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("HashAggregate") == 2  # partial + final


# ------------------------------------------------------- hard negatives

@pytest.fixture(scope="module")
def labeled_vecs(spark):
    """Three directional clusters (centered on scaled basis axes) so
    cosine bucketing is meaningful and no vector/centroid has zero
    norm."""
    rnd = random.Random(13)
    rows = []
    for i in range(200):
        c = i % 3
        v = [rnd.gauss(0.0, 1.0) for _ in range(8)]
        v[c] += 5.0
        rows.append((i, v, c))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")


def _centroids3(spark):
    return spark.createDataFrame(
        [(c, [5.0 if d == c else 0.0 for d in range(8)]) for c in range(3)],
        "centroid_id int, embedding array<double>")


def test_hard_negatives_labels_differ_and_are_hardest(spark, labeled_vecs):
    from datatools_spark.operators.similarity import (
        cosine_expr, hard_negatives,
    )
    q = labeled_vecs.where(F.col("vec_id") < 3) \
        .select(F.col("vec_id").alias("query_id"), "embedding", "label")
    out = hard_negatives(labeled_vecs, q, k=5).collect()
    assert len(out) == 15
    qlab = {r["query_id"]: r["label"] for r in q.collect()}
    # negatives never share the query's label
    assert all(r["label"] != qlab[r["query_id"]] for r in out)
    # rank-1 really is the max cosine among different-label rows
    ql = {r["query_id"]: r for r in q.collect()}
    for qid in (0, 1, 2):
        best = max(r["cosine"] for r in out if r["query_id"] == qid)
        brute = (labeled_vecs.where(F.col("label") != qlab[qid])
                 .select(cosine_expr(
                     F.col("embedding"),
                     F.lit(ql[qid]["embedding"]).cast("array<double>"))
                     .alias("c"))
                 .agg(F.max("c")).first()[0])
        assert abs(best - brute) < 1e-9


def test_hard_negatives_ivf_recall_vs_exact(spark, labeled_vecs):
    from datatools_spark.operators.similarity import (
        hard_negatives, hard_negatives_ivf,
    )
    q = labeled_vecs.where(F.col("vec_id") < 10) \
        .select(F.col("vec_id").alias("query_id"), "embedding", "label")
    exact = {(r["query_id"], r["vec_id"])
             for r in hard_negatives(labeled_vecs, q, k=5).collect()}
    cents = _centroids3(spark)
    approx = {(r["query_id"], r["vec_id"])
              for r in hard_negatives_ivf(
                  labeled_vecs, cents, q, k=5, nprobe=2).collect()}
    assert len(approx & exact) / len(exact) >= 0.8
    # probing EVERY cell recovers the exact result
    full = {(r["query_id"], r["vec_id"])
            for r in hard_negatives_ivf(
                labeled_vecs, cents, q, k=5, nprobe=3).collect()}
    assert full == exact


# ------------------------------------------------------------- pagerank

def test_pagerank_mass_conservation_and_hub(spark):
    from datatools_spark.operators.graph import pagerank
    # star graph, symmetrized: hub 0 <-> spokes 1..8
    edges = [(0, i) for i in range(1, 9)] + [(i, 0) for i in range(1, 9)]
    e = spark.createDataFrame(edges, "u long, v long")
    pr = {r["id"]: r["pr"] for r in pagerank(e, iters=5).collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-6   # no dangling → mass kept
    assert pr[0] > max(pr[i] for i in range(1, 9)) * 3  # hub dominates
    spoke = [pr[i] for i in range(1, 9)]
    assert max(spoke) == min(spoke)             # symmetry → equal spokes


def test_pagerank_uniform_on_regular_graph(spark):
    from datatools_spark.operators.graph import pagerank
    # directed 6-cycle: every node indeg = outdeg = 1 → uniform PR
    e = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "u long, v long")
    pr = [r["pr"] for r in pagerank(e, iters=4).collect()]
    assert max(pr) == min(pr)
    assert abs(pr[0] - 1 / 6) < 1e-6


@pytest.fixture
def distributed_pagerank(monkeypatch):
    """Every graph takes pagerank's distributed path, whose job budget
    the tests below pin (their graphs are under the driver-path gate)."""
    from datatools_spark.operators import graph
    monkeypatch.setattr(graph, "SMALL_GRAPH_THRESHOLD", 0)


def test_pagerank_iteration_job_budget(spark, distributed_pagerank):
    # r11 VERDICT #3: pin the jobs-per-iteration floor so it is
    # measured, not re-argued. Construction runs a FIXED per-round job
    # budget, and the last round (returned lazy) adds ZERO construction
    # jobs.
    from datatools_spark.operators.graph import pagerank
    e = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "u long, v long"
    ).localCheckpoint(eager=True)
    counts = {iters: count_jobs(spark, lambda: pagerank(e, iters=iters))[1]
              for iters in (2, 3, 4)}
    per_round = counts[3] - counts[2]
    assert per_round == counts[4] - counts[3]   # linear in iters
    assert per_round <= 6        # measured: 4 (prj broadcast, shuffle
    # map stage, result stage, checkpoint) on local[*]/AQE — a
    # regression that adds a blocking job per round trips this
    assert counts[2] <= 12       # preamble (edge + deg ckpt, N count)
    # + 1 checkpointed round; the lazy last round contributes nothing


def test_pagerank_checkpoints_only_unmaterialized_edges(
        spark, distributed_pagerank):
    # pagerank decides the edge checkpoint from the plan: a union of
    # projections over a checkpoint (the ss_pagerank shape) is read as
    # it is, while the same edges computed from spark.range pay exactly
    # one more job — the edge checkpoint — for identical ranks
    from datatools_spark.operators.graph import pagerank

    def edges(half):
        return half.unionByName(
            half.select(F.col("v").alias("u"), F.col("u").alias("v")))

    half = spark.range(8).select((F.col("id") * 2).alias("u"),
                                 ((F.col("id") * 3 % 8) * 2 + 1).alias("v"))
    stored = edges(half.localCheckpoint(eager=True))
    computed = edges(half)
    pr_s, n_stored = count_jobs(
        spark, lambda: pagerank(stored, iters=3, assume_distinct=True))
    pr_c, n_computed = count_jobs(
        spark, lambda: pagerank(computed, iters=3, assume_distinct=True))
    assert n_computed == n_stored + 1
    assert n_stored <= 12        # measured 12 on local[*]/AQE
    assert (sorted((r["id"], r["pr"]) for r in pr_s.collect())
            == sorted((r["id"], r["pr"]) for r in pr_c.collect()))


def test_pagerank_default_runs_each_round_once(spark, distributed_pagerank):
    # every round but the last is eagerly materialized at construction
    # (executing the nested lazy tree paid ~1 s of AQE re-planning at
    # sf0.1), so an action on the result runs ONE round's jobs — the
    # same as an action on a one-round pagerank — and re-runs no
    # checkpointed round
    from datatools_spark.operators.graph import pagerank
    e = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "u long, v long"
    ).localCheckpoint(eager=True)
    n_action = {iters: count_jobs(spark, pagerank(e, iters=iters).collect)[1]
                for iters in (1, 3)}
    assert n_action[3] == n_action[1] <= 6


def test_pagerank_small_graph_driver_path_job_count(spark):
    # the driver path over a checkpointed distinct edge list (the
    # ss_pagerank shape): the degree checkpoint and its N-and-edge-count
    # aggregate (2 AQE stage-jobs each; the distributed path runs the
    # same two) and the Arrow collect; the ranks are a LocalRelation,
    # so an action on them runs no job
    from datatools_spark.operators.graph import pagerank
    e = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "u long, v long"
    ).localCheckpoint(eager=True)
    pr, n_build = count_jobs(
        spark, lambda: pagerank(e, iters=3, assume_distinct=True))
    assert n_build <= 5          # measured 5 on local[*]/AQE
    rows, n_action = count_jobs(spark, pr.collect)
    assert n_action == 0
    assert {r["pr"] for r in rows} == {0.166666667}


def _ranks(df):
    return sorted((r["id"], r["pr"]) for r in df.collect())


def _random_graph(rnd):
    """Edges over up to 60 nodes with duplicates, self-loops and
    dst-only nodes."""
    n = rnd.randrange(2, 60)
    return [(rnd.randrange(n), rnd.randrange(n + 5))
            for _ in range(rnd.randrange(1, 4 * n))]


def _half_graph(rnd):
    """Out-degree 1 or 2 and in-degree at most 2 (a permutation cycle
    plus a partial second permutation): every contribution sum has at
    most two terms, so its double does not depend on summation order,
    and a rank with an odd 9th decimal halved lands on a 9-dp half."""
    n = rnd.randrange(3, 40)
    p, q = list(range(n)), list(range(n))
    rnd.shuffle(p)
    rnd.shuffle(q)
    return ([(i, p[i]) for i in range(n)]
            + [(i, q[i]) for i in range(n) if rnd.random() < 0.5])


@pytest.mark.parametrize("seed", range(8))
def test_pagerank_driver_path_equals_distributed(spark, seed, monkeypatch):
    """Bit for bit, on seeded random graphs and on graphs whose
    contributions land on rounding halves (where ``Double.toString``
    decides HALF_UP), and on 1024 nodes, whose first rank 1/1024 is
    itself a 9-dp half."""
    from datatools_spark.operators import graph
    rnd = random.Random(seed)
    edges = (_random_graph(rnd), _half_graph(rnd),
             [(i, (i * 7 + 1) % 1024) for i in range(1024)])[seed % 3]
    df = spark.createDataFrame(edges, "u long, v long")
    iters = rnd.randrange(1, 5)
    fast = graph.pagerank(df, iters=iters)
    assert fast._jdf.queryExecution().analyzed().getClass() \
        .getSimpleName() == "LocalRelation"
    monkeypatch.setattr(graph, "SMALL_GRAPH_THRESHOLD", 0)
    assert _ranks(fast) == _ranks(graph.pagerank(df, iters=iters))


def test_pagerank_rounding_equals_spark_round(spark):
    """The driver path's HALF_UP rounding equals Spark's ``round`` on
    exact 9-dp halves, their neighbouring doubles, negatives, zero and
    values past 2^52 at 9 dp."""
    np = pytest.importorskip("numpy")
    from datatools_spark.operators.graph import _round_half_up
    rnd = random.Random(5)
    halves = [(2 * rnd.randrange(10 ** 6) + 1) * 5e-10 for _ in range(200)]
    xs = np.array(halves + [0.0009765625, 0.0, -0.0, 1e7 + 5e-10, 3.5e12]
                  + [rnd.uniform(-2, 2) for _ in range(200)])
    xs = np.concatenate([xs, np.nextafter(xs, np.inf),
                         np.nextafter(xs, -np.inf), -xs])
    want = [r[0] for r in spark.createDataFrame(
        [(float(x),) for x in xs], "x double")
        .select(F.round("x", 9)).collect()]
    assert _round_half_up(spark, xs, 9).tolist() == want


# ------------------------------------------------------------- whitening

def test_whiten_identity_covariance_and_no_shuffle(spark, vecs):
    np = pytest.importorskip("numpy")
    from datatools_spark.operators.similarity import whiten
    out = whiten(vecs, dim=8, top=4)
    w = np.asarray([r["whitened"] for r in out.collect()])
    assert w.shape[1] == 4
    cov = np.cov(w.T, bias=True)
    assert np.allclose(cov, np.eye(4), atol=1e-6)   # whitened = isotropic
    assert np.allclose(w.mean(axis=0), 0, atol=1e-6)
    # transform under literal model: pure projection, zero shuffles
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan


# ------------------------------------------------- sketch compositions

def test_cms_inner_product_never_underestimates(spark):
    from datatools_spark.operators.sketches import cms_build, cms_inner_product
    rnd = random.Random(3)
    a = spark.createDataFrame([(rnd.randrange(200),) for _ in range(3000)],
                              "k long")
    b = spark.createDataFrame([(rnd.randrange(200),) for _ in range(3000)],
                              "k long")
    est = cms_inner_product(cms_build(a, "k"), cms_build(b, "k")) \
        .first()["join_size_est"]
    exact = a.join(b, "k").count()
    assert est >= exact                       # CMS IP is an upper bound
    # collision mass: ~n²/w of the f_A·f_B cross terms leak in — with
    # 200 keys × 15 avg count in 1024 buckets that is ~25% overshoot
    assert est <= exact * 1.5


def test_hll_overlap_inclusion_exclusion_close(spark):
    from datatools_spark.operators.sketches import (
        hll_estimate_from_registers, hll_merge, hll_registers,
    )
    a = spark.range(0, 3000).select(F.col("id").alias("k"))
    b = spark.range(2000, 5000).select(F.col("id").alias("k"))
    ra, rb = hll_registers(a, "k"), hll_registers(b, "k")
    ea = hll_estimate_from_registers(ra).first()["hll_est"]
    eb = hll_estimate_from_registers(rb).first()["hll_est"]
    eu = hll_estimate_from_registers(hll_merge(ra, rb)).first()["hll_est"]
    overlap = ea + eb - eu                    # true overlap = 1000
    assert 600 < overlap < 1400               # I-E noise compounds; ~3σ band


def test_connected_components_driver_gate_equals_distributed(spark):
    import random
    from datatools_spark.operators.graph import connected_components
    rnd = random.Random(17)
    # random graph: chains, a big clique, singleton-free by construction
    edges = [(rnd.randrange(200), rnd.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    fast = {(r["id"], r["component"])
            for r in connected_components(df).collect()}
    slow = {(r["id"], r["component"])
            for r in connected_components(
                df, small_graph_threshold=0).collect()}
    assert fast == slow and fast
    # min-label semantics: every component label is the min member id
    comp = {}
    for i, c in fast:
        comp.setdefault(c, []).append(i)
    for c, members in comp.items():
        assert c == min(members)


def test_connected_components_small_path_job_floor(spark):
    """r12: the driver-gate path runs 3 jobs over the caller's
    materialized edge blocks — the gate count (2 AQE stage-jobs; it
    also materializes the lazy checkpoint) and the occurrence collect.
    No symmetrizing union, no distinct exchange (union-find needs
    neither); a regression that reintroduces them (measured 5 jobs)
    trips this bound, which keeps the siblings' +1 AQE headroom."""
    from datatools_spark.operators.graph import connected_components
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "a_id long, b_id long") \
        .localCheckpoint(eager=True)  # caller plan cost out of the count
    out, n_jobs = count_jobs(spark, lambda: connected_components(df))
    assert n_jobs <= 4
    assert {(r["id"], r["component"]) for r in out.collect()} == {
        (i, 0) for i in range(41)}


def test_knn_matmul_equals_bruteforce_reranked(spark):
    import random
    from datatools_spark.operators.similarity import (
        knn_brute_force, knn_brute_matmul)
    from pyspark.sql import functions as F
    rnd = random.Random(29)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(16)])
            for i in range(500)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # force many small batches so the per-batch cut is actually exercised
    df = df.repartition(16)
    q = spark.createDataFrame(rows[:4],
                              "query_id long, embedding array<double>")
    got = {(r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
           for r in knn_brute_matmul(df, q, k=7).collect()}
    # reference: brute force re-ranked under the SAME rounded total order
    bf = knn_brute_force(df, q, k=500)
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(
        F.round("cosine", 6).desc(), F.col("vec_id"))
    want = {(r["query_id"], r["rank"]): (r["vec_id"],
                                         round(r["cosine"], 6))
            for r in bf.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 7)
            .select("query_id", "vec_id",
                    F.round("cosine", 6).alias("cosine"), "rank")
            .collect()}
    assert got == want
    # self-match is rank 1 with cosine 1.0
    for qid in range(4):
        assert got[(qid, 1)] == (qid, 1.0)


def test_hard_negatives_matmul_equals_expression_reranked(spark):
    import random
    from datatools_spark.operators.similarity import (
        hard_negatives, hard_negatives_matmul)
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    rnd = random.Random(41)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(16)], i % 3)
            for i in range(400)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long") \
        .repartition(16)
    q = spark.createDataFrame(
        rows[:5], "query_id long, embedding array<double>, label long")
    got = {(r["query_id"], r["rank"]): (r["vec_id"], r["label"],
                                        r["cosine"])
           for r in hard_negatives_matmul(df, q, k=6).collect()}
    bf = hard_negatives(df, q, k=400)
    w = Window.partitionBy("query_id").orderBy(
        F.round("cosine", 6).desc(), F.col("vec_id"))
    want = {(r["query_id"], r["rank"]): (r["vec_id"], r["label"],
                                         round(r["cosine"], 6))
            for r in bf.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 6).collect()}
    assert got == want and got
    # no negative shares its query's label
    for (qid, _), (_, lab, _) in got.items():
        assert lab != qid % 3


def test_round_half_up_np_boundary_exact():
    """ADVICE r4: floor(|x|*10^dp + 0.5) evaluates the tie in binary FP,
    so decimal-boundary cosines can round opposite to Spark/DuckDB's
    decimal-string HALF_UP. The helper must match Decimal(repr) HALF_UP
    on exact-boundary, near-boundary, and ordinary values, both signs."""
    import numpy as np
    from decimal import ROUND_HALF_UP, Decimal
    from datatools_spark.operators.similarity import _round_half_up_np

    vals = np.array([0.1234565, -0.1234565, 0.9999995, -0.9999995,
                     0.0000005, 0.1234564999, 0.123456, 0.7071067811865476,
                     -0.5000005, 1.0, -1.0, 0.0])
    got = _round_half_up_np(vals.copy(), 6)
    q = Decimal("1e-6")
    want = np.array([float(Decimal(repr(float(x)))
                           .quantize(q, rounding=ROUND_HALF_UP))
                     for x in vals])
    assert np.array_equal(got, want), (got, want)


def test_rrf_fuse_semantics(spark):
    """RRF: fused = sum 1/(60+rank) over legs, missing leg contributes
    0, ties broken by id; a doc ranked well in BOTH legs beats a doc
    ranked top in only one."""
    from datatools_spark.operators.similarity import rrf_fuse
    lex = spark.createDataFrame([(1, 1), (2, 2), (3, 3)],
                                "doc_id long, rank long")
    sem = spark.createDataFrame([(2, 1), (3, 2), (9, 3)],
                                "doc_id long, rank long")
    got = {r["doc_id"]: (r["fused"], r["rank"])
           for r in rrf_fuse([lex, sem]).collect()}
    assert set(got) == {1, 2, 3, 9}
    # doc 2: 1/62 + 1/61 > doc 1: 1/61 alone
    assert got[2][1] == 1 and got[3][1] == 2
    assert got[1][0] == round(1 / 61, 6)
    assert got[2][0] == round(1 / 62 + 1 / 61, 6)
    assert got[9][0] == round(1 / 63, 6)


def test_ivf_index_stats_detects_hot_cell_and_drift(spark, tmp_path):
    """Index health: a planted hot cell trips the skew verdict; vectors
    far from every stored centroid inflate drift_ratio; a balanced
    well-fitted index passes both."""
    import math
    import random
    from datatools_spark.operators.ivfstore import (build_ivf_index,
                                                    ivf_index_stats)
    rnd = random.Random(7)
    schema = "vec_id long, embedding array<double>"

    def around(base, n, start_id, eps=0.02):
        return [(start_id + i,
                 [x + rnd.uniform(-eps, eps) for x in base])
                for i in range(n)]

    # 4 orthogonal centroids, balanced tight clusters -> healthy
    dim = 4
    cvecs = []
    for j in range(dim):
        v = [0.0] * dim
        v[j] = 1.0
        cvecs.append(v)
    c0, c1 = cvecs[0], cvecs[1]
    cents = spark.createDataFrame(
        list(enumerate(cvecs)), "centroid_id long, embedding array<double>")
    healthy = sum((around(cvecs[j], 20, j * 100) for j in range(dim)), [])
    idx1 = str(tmp_path / "healthy")
    build_ivf_index(spark, spark.createDataFrame(healthy, schema),
                    cents, idx1)
    h = ivf_index_stats(spark, idx1).collect()
    assert all(r["needs_recluster"] == 0 and r["needs_retrain"] == 0
               for r in h)
    assert {r["centroid_id"]: r["n_vectors"] for r in h} \
        == {j: 20 for j in range(dim)}

    # hot cell needs k=8: with one hot cell, skew = hot/(total/k)
    # asymptotes at k, so k=4 can never trip the 4.0 threshold -- at
    # k=8, 199 of 200 in one cell gives 199/25 = 7.96 > 4.
    dim8 = 8
    cvecs8 = []
    for j in range(dim8):
        v = [0.0] * dim8
        v[j] = 1.0
        cvecs8.append(v)
    cents8 = spark.createDataFrame(
        list(enumerate(cvecs8)), "centroid_id long, embedding array<double>")
    hot_schema = schema
    hot = [(i, [1.0 if d == 0 else rnd.uniform(-0.02, 0.02)
                for d in range(dim8)]) for i in range(199)] \
        + [(500, [1.0 if d == 1 else 0.0 for d in range(dim8)])]
    idx2 = str(tmp_path / "hot")
    build_ivf_index(spark, spark.createDataFrame(hot, hot_schema),
                    cents8, idx2)
    s = ivf_index_stats(spark, idx2).collect()
    # 199 / (200/8 = 25) = 7.96 > 4
    assert all(r["needs_recluster"] == 1 for r in s)

    # drift is BASELINE-relative (vs build_residual recorded at build
    # time): build on tight clusters, then APPEND vectors sitting far
    # from every stored centroid -> current residual inflates past the
    # baseline and the retrain verdict fires; the build itself reports
    # drift_ratio ~1 (a self-relative denominator would scream drift on
    # any index containing one perfectly-fitting cell)
    from datatools_spark.operators.ivfstore import update_ivf_index
    far = [0.5 * math.sqrt(2), 0.5 * math.sqrt(2), 0.0, 0.0]
    idx3 = str(tmp_path / "drift")
    build_ivf_index(spark,
                    spark.createDataFrame(around(c0, 20, 0)
                                          + around(c1, 20, 100), schema),
                    cents, idx3)
    at_build = ivf_index_stats(spark, idx3).collect()
    assert all(r["needs_retrain"] == 0 for r in at_build)
    assert all(abs(r["drift_ratio"] - 1.0) < 0.01 for r in at_build)
    update_ivf_index(spark,
                     spark.createDataFrame(around(far, 40, 700, eps=0.01),
                                           schema), idx3)
    d = ivf_index_stats(spark, idx3).collect()
    assert all(r["needs_retrain"] == 1 for r in d)
    assert all(r["drift_ratio"] > 10 for r in d)


def test_pq_codes_honours_integer_rounding(spark):
    """round_dists=0 is a legitimate request (round distances to
    integers before argmin); the old truthiness check silently dropped
    it. Codes under round_dists=0 must equal codes computed with an
    explicit 0-dp rounded distance argmin."""
    from datatools_spark.operators.similarity import pq_codebook, pq_codes
    from pyspark.sql import functions as F
    df = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 1) % 7).cast("double") / 3.0
                  for i in range(8)]).alias("embedding"))
    book = pq_codebook(2, 4, 8)
    got = {r["vec_id"]: (r["c0"], r["c1"])
           for r in pq_codes(df, subspaces=2, codewords=4, dim=8,
                             book=book, round_dists=0).collect()}
    want = {r["vec_id"]: (r["c0"], r["c1"])
            for r in pq_codes(df, subspaces=2, codewords=4, dim=8,
                              book=book, round_dists=9).collect()}
    # rounding to integers coarsens ties; the call must at least apply
    # SOME rounding (schema+run) and stay deterministic
    assert set(got) == set(want) and len(got) == 40


def test_whiten_rank_deficient_corpus_does_not_crash(spark):
    """A rank-deficient corpus (every vector identical, large
    magnitude) drives trailing eigenvalues numerically NEGATIVE beyond
    eps; (neg)**0.5 is complex in Python and float(complex) raised an
    opaque TypeError before the clamp."""
    from datatools_spark.operators.similarity import whiten
    from pyspark.sql import functions as F
    df = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(1e4 + i) for i in range(6)]).alias("embedding"))
    out = whiten(df, dim=6, top=4).collect()
    assert len(out) == 50
    assert all(all(v == v for v in r["whitened"]) for r in out)  # no NaN


def test_temperature_sample_rejects_identity_base_rate(spark, sourced):
    """base_rate >= 1 with alpha < 1 caps every rate at 1 — a silent
    identity; the call must refuse loudly (r9 self-review)."""
    with pytest.raises(ValueError, match="identity"):
        temperature_sample(sourced, alpha=0.5, base_rate=1.0)


def test_source_balanced_sample_ignores_token_free_sources(spark):
    """A source whose docs are all empty must not drag min(total) to 0
    and zero every other source's rate: the non-empty sources still
    downsample to the smallest NON-EMPTY source's budget; the empty
    source drops (NULL rate)."""
    from datatools_spark.operators.curation import source_balanced_sample
    rows = [(i, "w " * 20, "big") for i in range(100)] \
        + [(200 + i, "w " * 5, "small") for i in range(20)] \
        + [(400 + i, "", "empty") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = source_balanced_sample(df).collect()
    assert len(out) > 0                               # not an empty sample
    assert {r["source"] for r in out} <= {"big", "small"}
    rates = {r["source"]: r["_rate"] for r in out}
    assert rates["small"] == 1.0                       # floor source keeps all


def test_cms_inner_product_zero_overlap_and_empty(spark):
    """Rows with no colliding buckets contribute 0 (the tightest bound)
    and an empty sketch estimates 0, not NULL."""
    from datatools_spark.operators.sketches import cms_build, cms_inner_product
    from pyspark.sql import functions as F
    a = spark.range(10).select(F.concat(F.lit("a"), F.col("id").cast("string")).alias("k"))
    empty = spark.createDataFrame([], "k string")
    est = cms_inner_product(cms_build(a, "k"), cms_build(empty, "k")).collect()
    assert est[0]["join_size_est"] == 0
    est2 = cms_inner_product(cms_build(empty, "k"), cms_build(empty, "k")).collect()
    assert est2[0]["join_size_est"] == 0


def test_kmv_sketch_accepts_bare_string_group_col(spark):
    """list('source') explodes into characters — a bare column NAME must
    be accepted as one group column across the sketch family."""
    from datatools_spark.operators.sketches import kmv_sketch
    from pyspark.sql import functions as F
    df = spark.range(100).select(
        (F.col("id") % 2).cast("string").alias("source"),
        F.concat(F.lit("w"), F.col("id").cast("string")).alias("item"))
    rows = kmv_sketch(df, "source", "item", k=16).collect()
    assert len(rows) == 2 and set(rows[0].asDict()) == {"source", "hs"}


def test_contamination_counts_benchmark_without_id_col(spark):
    """The benchmark side contributes only its shingle set — an eval
    table keyed by qid (no doc_id column) must work."""
    from datatools_spark.operators.curation import contamination_counts
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "totally novel words here")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [("q1", "quick brown fox")], "qid string, text string")
    out = {r["doc_id"]: r["contaminated"]
           for r in contamination_counts(corpus, bench).collect()}
    assert out == {1: True, 2: False}
