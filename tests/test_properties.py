"""Property-based tests (SURVEY §5 plan #4): randomized series with gaps,
duplicates, and all-null days asserting operator invariants; hypothesis
drives the pure-python helpers, seeded RNG drives the Spark invariants
(one Spark job per trial keeps the suite fast)."""

import datetime as dt
import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from datatools_spark.functions.timeutils import parse_duration_seconds
from datatools_spark.functions.units import convert
from datatools_spark.operators.extrema import daily_extrema
from datatools_spark.operators.fillna import ffill, interpolate_linear
from datatools_spark.operators.intervals import union_keep_first
from datatools_spark.operators.dedup import minhash_signature


@given(st.integers(1, 500), st.sampled_from(["s", "T", "min", "H", "D"]))
def test_duration_roundtrip_scaling(n, unit):
    base = parse_duration_seconds(f"1{unit}")
    assert parse_duration_seconds(f"{n}{unit}") == pytest.approx(n * base)


@given(st.sampled_from(["mbar", "ft", "in", "m", "mm", "mH2O", "ftH2O"]),
       st.sampled_from(["mbar", "ft", "in", "m", "mm", "mH2O", "ftH2O"]))
def test_unit_roundtrip_inverse(a, b):
    try:
        k = convert(a, b)
    except KeyError:
        return
    assert k * convert(b, a) == pytest.approx(1.0)


def _random_series(seed: int, with_nulls=True):
    rng = random.Random(seed)
    t0 = dt.datetime(2024, 3, 1)
    rows, t = [], t0
    for _ in range(rng.randint(120, 400)):
        t += dt.timedelta(minutes=rng.choice([5, 15, 15, 60, 240]))
        v = None if (with_nulls and rng.random() < 0.15) else \
            round(rng.uniform(-50, 50), 2)   # 2dp → deliberate ties
        rows.append((t, v))
    return rows


@pytest.mark.parametrize("seed", [1, 7, 42])
def test_extrema_invariants_random(spark, seed):
    rows = _random_series(seed)
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    vals = {}
    for t, v in rows:
        if v is not None:
            vals.setdefault(t.date(), []).append((v, t))
    for r in daily_extrema(df).collect():
        day = r["day"].date()
        vs = [v for v, _ in vals[day]]
        assert r["min_val"] == min(vs) and r["max_val"] == max(vs)
        # tie-pinning: earliest timestamp among equal extremes
        assert r["min_time"] == min(t for v, t in vals[day] if v == min(vs))
        assert r["max_time"] == min(t for v, t in vals[day] if v == max(vs))
        assert r["min_time"].date() == day and r["max_time"].date() == day


@pytest.mark.parametrize("seed", [3, 11])
def test_interpolation_bounded_and_ffill_idempotent(spark, seed):
    rows = _random_series(seed)
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    non_null = [v for _, v in rows if v is not None]
    lo, hi = min(non_null), max(non_null)
    for r in interpolate_linear(df, ["value"]).collect():
        if r["value"] is not None:
            assert lo - 1e-9 <= r["value"] <= hi + 1e-9   # convexity bound
    once = ffill(df, ["value"])
    twice = ffill(once, ["value"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


@pytest.mark.parametrize("seed", [5])
def test_union_keep_first_unique_keys(spark, seed):
    rng = random.Random(seed)
    mk = lambda: spark.createDataFrame(
        [(rng.randint(0, 30), rng.random()) for _ in range(40)],
        "k int, v double")
    out = union_keep_first([mk(), mk(), mk()], ["k"])
    keys = [r["k"] for r in out.collect()]
    assert len(keys) == len(set(keys))


def test_minhash_identical_docs_identical_signatures(spark):
    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, "completely different words here now ok")],
        "doc_id long, text string")
    sigs = {r["doc_id"]: tuple(r[f"mh_{i}"] for i in range(8))
            for r in minhash_signature(df, num_hashes=8).collect()}
    assert sigs[1] == sigs[2] != sigs[3]


def test_ngram_pairs_equal_python_jaccard(spark):
    """The inverted-index join returns exactly the pairs a pure-Python
    exact word-3-shingle Jaccard finds, at every threshold."""
    from datatools_spark.operators.dedup import ngram_jaccard_pairs
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    docs = [(i, " ".join(rng.choices(vocab, k=rng.randint(2, 40))))
            for i in range(40)]
    # planted near-dups: copies with one word appended / swapped
    for i in range(40, 60):
        base = docs[i - 40][1]
        docs.append((i, base + " extra" if i % 2 else base))
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    def shingles(text):
        w = text.split()
        return {" ".join(w[j:j + 3]) for j in range(len(w) - 2)}

    sets = {i: shingles(t) for i, t in docs}
    for t in (0.2, 0.5, 0.8):
        want = set()
        for a, sa in sets.items():
            for b, sb in sets.items():
                if a < b and sa and sb:
                    j = len(sa & sb) / len(sa | sb)
                    if j >= t:
                        want.add((a, b, round(j, 9)))
        got = {(r.a_id, r.b_id, round(r.jaccard, 9))
               for r in ngram_jaccard_pairs(df, threshold=t).collect()}
        assert got == want and (t > 0.2 or got)


def test_approx_aggregates_within_error_bounds(spark):
    """The 100 TB toggles: approx_count_distinct (HLL, rsd=0.05) and
    percentile_approx stay within their documented error of the exact
    answers on the driver testdata."""
    import pyspark.sql.functions as F
    from datatools_spark.queries import _t
    ev = _t(spark, "/root/testdata/sf0.01", "events")
    r = ev.agg(
        F.countDistinct("user_id").alias("exact_d"),
        F.approx_count_distinct("user_id", rsd=0.05).alias("approx_d"),
        F.expr("median(value)").alias("exact_m"),
        F.percentile_approx("value", 0.5, 10000).alias("approx_m"),
        F.min("value").alias("lo"), F.max("value").alias("hi")).first()
    assert abs(r.approx_d - r.exact_d) <= 0.15 * r.exact_d  # 3×rsd
    assert abs(r.approx_m - r.exact_m) <= 0.01 * (r.hi - r.lo)


def test_ann_recall_floor_vs_brute_force(spark):
    """LSH and IVF are approximate — pin their recall@10 against the
    exact brute-force baseline on the driver testdata (deterministic
    planes/centroids ⇒ deterministic recall). Also regression-guards
    knn_lsh_multi end-to-end (a query-side bucket/rename bug once broke
    the LSH path)."""
    import pyspark.sql.functions as F
    import datatools_spark.operators.similarity as SIM
    from datatools_spark.queries import _t
    e = _t(spark, "/root/testdata/sf0.01", "embeddings") \
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    q = e.where(F.col("vec_id").isin(0, 1, 2)) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    brute = {(r.query_id, r.vec_id)
             for r in SIM.knn_brute_force(e, q, k=10).collect()}
    lsh = {(r.query_id, r.vec_id)
           for r in SIM.knn_lsh_multi(e, q, k=10, num_planes=4, num_tables=4,
                                      probe_hamming=1, dim=64).collect()}
    cent = e.where(F.col("vec_id") < 8) \
        .select(F.col("vec_id").alias("centroid_id"), "embedding")
    ivf = {(r.query_id, r.vec_id)
           for r in SIM.ivf_search(e, cent, q, k=10, nprobe=2).collect()}
    assert len(brute) == 30
    # multi-table OR + Hamming-1 multiprobe over INDEPENDENT md5 planes:
    # measured 1.00 (deterministic); single-probe sin-plane legacy = 0.40
    assert len(brute & lsh) / len(brute) >= 0.9
    assert len(brute & ivf) / len(brute) >= 0.85   # measured 0.90


def test_ngram_max_df_drops_stop_shingles_keeps_dups(spark):
    """The max_df skew guard: a shingle present in EVERY doc no longer
    explodes the join, while true near-dup pairs (connected via rare
    shingles) survive with their exact Jaccard."""
    from datatools_spark.operators.dedup import ngram_jaccard_pairs
    stop = "the quick brown"
    docs = [(i, f"{stop} fox{i} a{i} b{i}") for i in range(20)]
    docs += [(100, f"{stop} unique words here now"),
             (101, f"{stop} unique words here now")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    full = {(r.a_id, r.b_id): round(r.jaccard, 9)
            for r in ngram_jaccard_pairs(df, threshold=0.9).collect()}
    capped = {(r.a_id, r.b_id): round(r.jaccard, 9)
              for r in ngram_jaccard_pairs(df, threshold=0.9,
                                           max_df=5).collect()}
    assert full[(100, 101)] == 1.0
    assert capped == full  # exact dups connected via their rare shingles


def test_weighted_jaccard_guarded_path_equals_brute_force(spark, tmp_path):
    """doc_weighted_jaccard_pairs with a STOP shingle (df > 100): the
    r9 plan derives per-doc weight totals from the capped posting lists
    plus a stop-membership pass, and restores the pairs' stop-shingle
    weight mass with the correction join — the result must equal a
    brute-force array_intersect computation over the FULL shingle sets.
    120 docs share one shingle (df=120 > max_df=100, forcing the
    guarded branch the sf-corpora never exercise); near-dup pairs share
    rare shingles too."""
    import pyspark.sql.functions as F

    from datatools_spark.operators.text import word_shingles, words_col
    from datatools_spark.queries import QUERIES
    stop = "zz yy xx"
    docs = [(i, f"{stop} fox{i} a{i} b{i} c{i}") for i in range(116)]
    # two exact-dup groups connected via rare shingles
    docs += [(200, f"{stop} unique words here now today"),
             (201, f"{stop} unique words here now today"),
             (300, f"{stop} other shared tail phrase bits"),
             (301, f"{stop} other shared tail phrase bits")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    df.write.parquet(str(tmp_path / "documents.parquet"))
    got = {(r.a_id, r.b_id): r.wjaccard
           for r in QUERIES["doc_weighted_jaccard_pairs"](
               spark, str(tmp_path)).collect()}
    # brute force over full sets (120 docs -> crossJoin is fine here)
    sets = (df.withColumn("_w", words_col("text"))
            .select("doc_id", F.sort_array(word_shingles(
                "text", 3, from_words_col="_w")).alias("shs")))
    n = sets.where(F.size("shs") > 0).count()
    idf = (sets.select(F.explode("shs").alias("s"))
           .groupBy("s").agg(F.count("*").alias("df"))
           .select("s", F.round(F.log(F.lit(float(n)) / F.col("df")), 6)
                   .alias("w")))
    dec6 = lambda c: c.cast("decimal(30,6)")  # noqa: E731
    tw = (sets.select("doc_id", F.explode("shs").alias("s"))
          .join(idf, "s").groupBy("doc_id")
          .agg(F.sum(dec6(F.col("w"))).alias("tw")))
    a = sets.select(F.col("doc_id").alias("a_id"), F.col("shs").alias("sa"))
    b = sets.select(F.col("doc_id").alias("b_id"), F.col("shs").alias("sb"))
    pairs = (a.crossJoin(b).where(F.col("a_id") < F.col("b_id"))
             .select("a_id", "b_id",
                     F.explode(F.array_intersect("sa", "sb")).alias("s"))
             .join(idf, "s").groupBy("a_id", "b_id")
             .agg(F.sum(dec6(F.col("w"))).alias("iw")))
    wj = (F.col("iw").cast("double")
          / (F.col("tw_a") + F.col("tw_b") - F.col("iw")).cast("double"))
    want = {(r.a_id, r.b_id): r.wjaccard for r in
            (pairs.join(tw.select(F.col("doc_id").alias("a_id"),
                                  F.col("tw").alias("tw_a")), "a_id")
             .join(tw.select(F.col("doc_id").alias("b_id"),
                             F.col("tw").alias("tw_b")), "b_id")
             .where(wj >= 0.1)
             .select("a_id", "b_id", F.round(wj, 6).alias("wjaccard"))
             ).collect()}
    assert (200, 201) in want and (300, 301) in want
    assert got == want


def test_token_counts_additive_and_bounded(spark):
    """Whitespace tokens are additive under concatenation; the BPE-ish
    estimate is always ≥ the whitespace count (subwords only add)."""
    import pyspark.sql.functions as F
    from datatools_spark.operators.text import (
        subword_count_col, token_count_col)
    rng = random.Random(3)
    words = ["alpha", "be", "gamma9", "internationalization", "x", "12345678901"]
    docs = []
    for i in range(30):
        a = " ".join(rng.choices(words, k=rng.randint(1, 6)))
        b = " ".join(rng.choices(words, k=rng.randint(1, 6)))
        docs.append((i, a, b, a + " " + b))
    df = spark.createDataFrame(docs, ["i", "a", "b", "ab"])
    rows = df.select(
        token_count_col("a").alias("ta"), token_count_col("b").alias("tb"),
        token_count_col("ab").alias("tab"),
        subword_count_col("ab").alias("sab")).collect()
    for r in rows:
        assert r.tab == r.ta + r.tb
        assert r.sab >= r.tab


def test_repetition_stats_matches_python_reference(spark):
    """Differential: Spark repetition stats vs a pure-Python computation
    over a seeded random corpus with planted degeneracies."""
    from collections import Counter
    from datatools_spark.operators.text import repetition_stats
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    for i in range(60):
        n = rng.randint(0, 25)
        words = [rng.choice(vocab) for _ in range(n)]
        if i % 5 == 0 and n > 4:          # planted repetition
            words = words[:3] * (n // 3)
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    for i, text in rows:
        words = text.split() if text.strip() else []
        grams = [" ".join(words[j:j + 2]) for j in range(len(words) - 1)]
        dup = 1.0 - len(set(words)) / len(words) if words else 0.0
        top = max(Counter(grams).values()) / len(grams) if grams else 0.0
        assert got[i]["n_words"] == len(words), i
        assert got[i]["dup_word_frac"] == pytest.approx(dup), i
        assert got[i]["top_ngram_frac"] == pytest.approx(top), i


def test_chunking_partitions_exactly(spark):
    """Chunks tile each doc: per-doc token counts sum back to the doc's
    token count, every chunk except the last is full, fingerprints are
    distinct within a doc unless the text repeats."""
    from datatools_spark.queries import QUERIES
    import os
    out = QUERIES["doc_chunk"](spark, "/root/testdata/sf0.001").collect()
    import duckdb
    toks = dict(duckdb.connect().execute(r"""
        SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        FROM read_parquet('/root/testdata/sf0.001/documents.parquet')
        WHERE length(trim(text)) > 0""").fetchall())
    per = {}
    for r in out:
        per.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["n_tokens"]))
    assert set(per) == set(toks)
    for d, chunks in per.items():
        chunks.sort()
        assert sum(n for _, n in chunks) == toks[d], d
        assert [c for c, _ in chunks] == list(range(len(chunks))), d
        assert all(n == 16 for _, n in chunks[:-1]), d
        assert 1 <= chunks[-1][1] <= 16, d


def test_fuzzy_edit_distance_pairs_match_brute_force(spark):
    """q-gram blocking finds EXACTLY the brute-force Levenshtein pairs
    when strings exceed the completeness bound (len > (k+1)*q - 1):
    no false positives (exact verify) and no false negatives (count
    filter theorem)."""
    import itertools
    from datatools_spark.operators.dedup import fuzzy_pairs_edit_distance
    rng = random.Random(11)
    base = ["the quick brown fox jumps high",
            "pack my box with five dozen jugs",
            "how vexingly quick daft zebras go"]
    rows = []
    i = 0
    for b in base:
        for _ in range(4):
            s = list(b)
            for _ in range(rng.randint(0, 2)):   # ≤2 random edits
                pos = rng.randrange(len(s))
                s[pos] = rng.choice("abcdefghijklmnopqrstuvwxyz ")
            rows.append((i, "".join(s)))
            i += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.a_id, r.b_id): r.dist
           for r in fuzzy_pairs_edit_distance(df, max_dist=2).collect()}

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for x in range(1, len(a) + 1):
            prev, dp[0] = dp[0], x
            for y in range(1, len(b) + 1):
                prev, dp[y] = dp[y], min(dp[y] + 1, dp[y - 1] + 1,
                                         prev + (a[x - 1] != b[y - 1]))
        return dp[len(b)]

    want = {}
    for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
        d = lev(ta, tb)
        if d <= 2:
            want[(min(ia, ib), max(ia, ib))] = d
    assert got == want


def test_fuzzy_edit_distance_short_strings_not_dropped(spark):
    """Strings shorter than (k+1)*q have a count bound ≤ 0, so the
    q-gram index alone misses their pairs; the length-band sweep must
    find them — including strings shorter than q itself, and mixed
    short/long pairs straddling the stratum boundary."""
    import itertools
    from datatools_spark.operators.dedup import fuzzy_pairs_edit_distance
    rows = [(0, "cat"), (1, "cap"), (2, "ca"),          # < q and ≈ q
            (3, "abcdefgh"), (4, "abcdefghx"),          # 8 vs 9: straddle
            (5, "abcdefghxy"),                          # 10
            (6, "zzzzzzzzzzzzzzzz"), (7, "zzzzzzzzzzzzzzzy")]  # long stratum
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.a_id, r.b_id): r.dist
           for r in fuzzy_pairs_edit_distance(df, max_dist=2, q=3).collect()}

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for x in range(1, len(a) + 1):
            prev, dp[0] = dp[0], x
            for y in range(1, len(b) + 1):
                prev, dp[y] = dp[y], min(dp[y] + 1, dp[y - 1] + 1,
                                         prev + (a[x - 1] != b[y - 1]))
        return dp[len(b)]

    want = {(ia, ib): lev(ta, tb)
            for (ia, ta), (ib, tb) in itertools.combinations(rows, 2)
            if lev(ta, tb) <= 2}
    assert got == want
    assert (0, 1) in got and (0, 2) in got  # the previously-missed pairs


def test_selectk_median_equals_builtin_exact(spark):
    """Two-pass histogram select-k median == Spark's buffering exact
    median on hostile shapes: odd/even counts, heavy duplicates,
    constant groups, singletons, and a coarse 8-bin histogram (large
    survivor sets)."""
    from datatools_spark.operators.selectk import exact_grouped_median
    rng = random.Random(13)
    rows = []
    for gi, n in enumerate([1, 2, 3, 4, 97, 500]):
        for _ in range(n):
            rows.append((f"g{gi}", rng.choice(
                [5.0, -5.0, rng.gauss(0, 100), rng.uniform(-1e-9, 1e-9)])))
    rows += [("const", 42.0)] * 33
    df = spark.createDataFrame(rows, "k string, value double")
    import pyspark.sql.functions as SF
    for bins in (8, 4096):
        got = {r.k: r.median for r in
               exact_grouped_median(df, ["k"], "value", bins=bins).collect()}
        want = {r.k: r.m for r in df.groupBy("k")
                .agg(SF.median("value").alias("m")).collect()}
        assert got == want  # exact, not approx-equal


def test_selectk_quantiles_bit_equal_builtin_percentile(spark):
    """exact_grouped_quantiles == Spark percentile() BIT-FOR-BIT (same
    bracketing order statistics, same interpolation operand order),
    under both fine and stress-coarse histograms."""
    from datatools_spark.operators.selectk import exact_grouped_quantiles
    import pyspark.sql.functions as SF
    rng = random.Random(17)
    rows = []
    for gi, n in enumerate([1, 2, 7, 100, 501]):
        for _ in range(n):
            rows.append((f"g{gi}", rng.choice([3.25, -1.5, rng.gauss(0, 50)])))
    df = spark.createDataFrame(rows, "k string, value double")
    want = {r.k: (r.a, r.b, r.c) for r in df.groupBy("k").agg(
        SF.expr("percentile(value, 0.25)").alias("a"),
        SF.expr("percentile(value, 0.50)").alias("b"),
        SF.expr("percentile(value, 0.95)").alias("c")).collect()}
    for bins in (8, 4096):
        got = {r.k: (r.p25, r.p50, r.p95) for r in exact_grouped_quantiles(
            df, ["k"], "value", [0.25, 0.50, 0.95], bins=bins).collect()}
        assert got == want


def _rand_hashes(seed, nbits):
    rng = random.Random(seed)
    n = rng.randint(30, 70)
    bases = [rng.getrandbits(nbits) for _ in range(4)]
    rows = []
    for i in range(n):
        h = rng.choice(bases)
        for _ in range(rng.randint(0, 10)):
            h ^= 1 << rng.randrange(nbits)
        if rng.random() < 0.2 and rows:          # exact duplicates too
            h = int(rows[rng.randrange(len(rows))][1], 2)
        rows.append((i, format(h, f"0{nbits}b")))
    return rng, rows


def _brute_hamming(rows, max_h):
    out = {}
    for x in range(len(rows)):
        for y in range(x + 1, len(rows)):
            d = bin(int(rows[x][1], 2) ^ int(rows[y][1], 2)).count("1")
            if d <= max_h:
                out[(rows[x][0], rows[y][0])] = d
    return out


@pytest.mark.parametrize("seed", [3, 19, 77])
def test_packed_pair_engine_equals_bruteforce_random(spark, seed):
    """Randomized clustered 64-bit hashes (mutated bases + exact dups),
    random (bands, max_hamming), every hot-cap mode: the banded engine's
    output must equal brute force — pigeonhole at both levels, clique
    expansion, and the cold/hot split are all exercised."""
    from datatools_spark.operators.multimodal import ahash_pairs
    rng, rows = _rand_hashes(seed, 64)
    bands = rng.choice([4, 8, 16])
    max_h = rng.randint(0, bands - 1)
    want = _brute_hamming(rows, max_h)
    df = spark.createDataFrame(rows, "media_id long, ahash string")
    for cap in (None, 4096, 0):
        got = {(r["a_id"], r["b_id"]): r["hamming"]
               for r in ahash_pairs(df, bands=bands, max_hamming=max_h,
                                    hot_bucket_cap=cap).collect()}
        assert got == want, (seed, bands, max_h, cap)


@pytest.mark.parametrize("seed", [5, 23])
def test_wide_pair_engine_equals_bruteforce_random(spark, seed):
    """Same invariant for the 256-bit wide engine across band widths
    that exercise both sub-word (16/32-bit) and whole-word (64-bit)
    keys."""
    from datatools_spark.operators.multimodal import ahash_pairs
    rng, rows = _rand_hashes(seed, 256)
    bands = rng.choice([4, 8, 16])
    max_h = rng.randint(0, bands - 1)
    want = _brute_hamming(rows, max_h)
    df = spark.createDataFrame(rows, "media_id long, ahash string")
    got = {(r["a_id"], r["b_id"]): r["hamming"]
           for r in ahash_pairs(df, bands=bands, max_hamming=max_h,
                                nbits=256).collect()}
    assert got == want, (seed, bands, max_h)


@pytest.mark.parametrize("seed", [3, 19, 71])
def test_kmv_and_value_sample_equal_bruteforce_random(spark, seed):
    """r8 one-pass restructure invariant: for random group shapes
    (skewed sizes, duplicate items, NULL group keys, groups below and
    above k, margins from degenerate to generous) kmv_sketch returns
    exactly the k smallest distinct hashes per group and
    value_sample_sketch exactly the values of the k hash-smallest keys
    — the survivor filter, the always-kept minimum hash and the
    driver-gated redo branch must be invisible in the result."""
    import random
    import pyspark.sql.functions as F
    from datatools_spark.operators.sketches import (
        kmv_hash52, kmv_sketch, value_sample_sketch)
    rng = random.Random(seed)
    k = rng.choice([4, 16, 64])
    margin = rng.choice([1e-9, 0.5, 4.0])
    rows = []
    for g in [None, "a", "b", "c"]:
        for i in range(rng.randint(1, 30 * k)):
            rows.append((g, f"w{rng.randint(0, 20 * k)}"))
    df = spark.createDataFrame(rows, "g string, item string")
    got = {r["g"]: r["hs"]
           for r in kmv_sketch(df, ["g"], "item", k=k,
                               margin=margin).collect()}
    import collections
    by_g = collections.defaultdict(set)
    for r in df.select("g", kmv_hash52(F.col("item")).alias("h")) \
            .collect():
        by_g[r["g"]].add(r["h"])
    assert set(got) == set(by_g)
    for g, hset in by_g.items():
        assert got[g] == sorted(hset)[:k], (seed, g, k, margin)
    # value sample: unique keys, values = key's value; exact bottom-k
    # (fixed per-group id bases — hash(g) varies with PYTHONHASHSEED
    # and colliding bases would duplicate keys across groups, tripping
    # check_keys)
    vrows = [(g, base + i, float(i % 97))
             for g, base in [("x", 0), (None, 1_000_000)]
             for i in range(rng.randint(1, 5 * k))]
    vdf = spark.createDataFrame(vrows, "g string, id long, v double")
    vs = {r["g"]: r for r in value_sample_sketch(
        vdf, ["g"], "id", "v", k=k, margin=margin,
        check_keys=True).collect()}
    keyed = collections.defaultdict(list)
    for r in vdf.select("g", kmv_hash52(F.col("id"), "vsmpl").alias("h"),
                        "v").collect():
        keyed[r["g"]].append((r["h"], r["v"]))
    for g, pairs in keyed.items():
        want = sorted(pairs)[:k]
        assert [(c["h"], c["v"]) for c in vs[g]["vs"]] == want, (seed, g)
        assert vs[g]["n_rows"] == len(pairs)
