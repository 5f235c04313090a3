"""Deduplication operators for training-data pipelines (driver-mandated).

All variants follow the scalable shape: per-doc signature → band/bucket →
shuffle ONLY on bucket keys → candidate pairs → exact verify. No O(n²)
cross join anywhere; Python never touches row data (JVM expressions only).

- exact: canonical md5 fingerprint, keep-first per group (one hash agg)
- minhash + LSH: word-shingle → k seeded 32-bit min-hashes (md5-based,
  engine-portable) → bands → bucket join → verified Jaccard
- simhash: 16-bit sign-aggregated signature (bit arithmetic, groupBy sum)
- n-gram Jaccard: inverted-index join on shared shingles → exact Jaccard
- embedding near-dup: cosine ≥ τ via normalized dot product (see
  similarity.py for the ANN path)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame
from . import memo
from .partitioning import ensure_parallelism
from .text import fingerprint_col, word_shingles, words_col

__all__ = [
    "exact_dedup", "minhash_signature", "minhash_lsh_pairs",
    "simhash_col", "simhash_pairs", "packed_hamming_pairs",
    "packed_wide_pairs",
    "ngram_jaccard_pairs", "pair_plan_stats", "shingle_index",
    "embedding_dup_pairs", "span_dup_stats", "fuzzy_pairs_edit_distance",
    "segment_dedup",
]


# ---------------------------------------------------------------------------
# Session-scoped shared shingle posting index (r11 VERDICT #2).
#
# The exact-pair family (ngram Jaccard, containment, weighted Jaccard)
# all start from the SAME corpus-sized materialization: tokenize →
# distinct word shingles → explode to an (id, shingle) posting index,
# plus its df histogram. Run in one analysis session — the normal way a
# curation pipeline uses them — each operator used to re-run that
# tokenize+explode from parquet (3 corpus passes for the trio; the two
# heaviest benched rows by task-seconds). The index is a pure function
# of (corpus, text_col, id_col, shingle_n), so the first consumer in a
# session builds and eagerly localCheckpoints it and later consumers
# reuse the blocks: ONE explode feeds all three.
#
# The index lives in the session memo (``operators.memo``: keyed on the
# Spark application id, so checkpoint blocks never outlive the session,
# and LRU-capped). Its key names what was read: the SEMANTIC HASH of the
# input plan (Spark's canonicalized plan equality, the notion
# CacheManager uses — two reads of different corpora or projections
# never collide), the plan's sorted input files (an overwritten corpus
# path lists new files, so a re-read never meets the old index;
# ``inputFiles`` runs no Spark job), and ``shingle_n``.
# ---------------------------------------------------------------------------


def shingle_index(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", shingle_n: int = 3,
                  ) -> tuple[DataFrame, DataFrame]:
    """Shared (id, shingle) posting index + df histogram, both eagerly
    localCheckpointed and memoized per (session, corpus plan and input
    files, shingle_n).

    Returns ``(sh, dfreq)``: ``sh`` has columns ``(id_col, _sh)`` —
    distinct word shingles per doc, exploded; ``dfreq`` has
    ``(_sh, _df)`` — the document frequency per shingle. The first call
    per corpus in a session pays the corpus scan + tokenize + explode
    (+ one vocab-sized aggregate); subsequent calls for the same corpus
    read the checkpoint blocks. EAGER (see
    :func:`_pair_intersections`): the consumers evaluate the index in
    multiple branches of one job, and the guarded plan's SHAPE depends
    on data (stop-set emptiness), which no lazy form can express.
    """
    work = ensure_parallelism(df.select(F.col(id_col), F.col(text_col)),
                              min_bytes=0)

    def build():
        sh = (work.withColumn("_words", words_col(text_col))
              .select(F.col(id_col),
                      F.explode(word_shingles(text_col, shingle_n,
                                              from_words_col="_words"))
                      .alias("_sh"))
              .localCheckpoint(eager=True))
        # the histogram is vocabulary-sized and every consumer needs it
        # (stop-shingle guard, auto planner stats, idf weights) — one
        # aggregate over the cached blocks, materialized alongside
        dfreq = sh.groupBy("_sh").agg(F.count("*").alias("_df")) \
            .localCheckpoint(eager=True)
        return sh, dfreq

    key = ("dedup.shingle_index",
           work._jdf.queryExecution().analyzed().semanticHash(),
           tuple(sorted(work.inputFiles())), shingle_n)
    return memo.get(work.sparkSession, key, build)


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per canonical-text fingerprint.

    One shuffle on the 128-bit fingerprint; at 100 TB this is the cheapest
    possible exact dedup (no sort, map-side partial row_number via
    min-aggregation semantics).
    """
    fp = fingerprint_col(text_col)
    w = Window.partitionBy(F.col("_fp")).orderBy(F.col(id_col))
    return (df.withColumn("_fp", fp)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_fp", "_rn"))


def _hash32(col: Column, seed: int) -> Column:
    """Portable seeded 32-bit hash: first 8 hex chars of md5(seed||x).
    Identical in any engine with md5 — the key to oracle-checkable
    MinHash (Spark's murmur ``hash()`` differs across engines)."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(str(seed) + ":"), col)), 1, 8),
                  16, 10).cast("bigint")


def _hash32_chunked(col: Column, i: int) -> Column:
    """Hash family member i, 4 per md5 digest: one 128-bit md5 of
    ``(i//4):x`` yields four independent 32-bit chunks (hex chars 8k+1..).
    4× fewer digest computations than seed-per-hash on the hot path;
    reproducible in any engine with md5+substr."""
    group, chunk = divmod(i, 4)
    digest = F.md5(F.concat(F.lit(f"{group}:"), col))
    return F.conv(F.substring(digest, chunk * 8 + 1, 8), 16, 10).cast("bigint")


def minhash_signature(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 16,
                      shingle_n: int = 3) -> DataFrame:
    """Per-doc MinHash signature: explode distinct shingles, one groupBy
    computing all k min-hashes (single shuffle, map-side combinable mins).

    Output: ``id_col, mh_0 .. mh_{k-1}`` (docs with no shingles dropped).
    """
    # min_bytes=0: the shingle explode multiplies bytes ~shingle_n×
    # before the first shuffle, so the spread pays even for sub-MB
    # inputs (measured: 0.65 s spread vs 0.87 s single-task at sf0.1).
    work = ensure_parallelism(df.select(F.col(id_col), F.col(text_col)),
                              min_bytes=0)
    sh = (work.withColumn("_words", words_col(text_col))
          .select(F.col(id_col),
                  F.explode(word_shingles(text_col, shingle_n,
                                          from_words_col="_words")).alias("_sh")))
    # NOTE (r11): hoisting the md5 digests into a projection before the
    # aggregate was A/B'd and REGRESSED 2.5× at sf0.1 — the aggregate's
    # codegen already subexpression-eliminates the shared digests, and
    # the explicit 32-char digest columns only widened the rows flowing
    # into the hash aggregate. Keep the digests inside the agg inputs.
    aggs = [F.min(_hash32_chunked(F.col("_sh"), i)).alias(f"mh_{i}")
            for i in range(num_hashes)]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 16,
                      bands: int = 4, shingle_n: int = 3,
                      threshold: float = 0.5) -> DataFrame:
    """Candidate pairs via banded LSH, verified with estimated Jaccard
    (fraction of agreeing minhashes).

    Plan: signatures (computed ONCE and checkpoint-materialized, since
    three subtrees consume them) →
    ids-only band index → self-equi-join on (band, key) → distinct narrow
    pairs → verify by joining the candidate set (small; AQE broadcasts
    it) back against the materialized signatures twice. Shuffles scale
    with data size × bands, never n²; signature bytes cross the wire
    once. LocalCheckpoint rather than persist (r5 hygiene rule): a
    persisted signature frame per distinct corpus pins the session cache
    registry forever; checkpoint blocks free on GC. Callers wanting
    cross-call reuse hold the DataFrame (or use ``sigstore``, the
    at-rest answer). Output: ``a_id, b_id, jaccard_est`` with a<b.
    """
    if bands <= 0 or num_hashes % bands != 0 or num_hashes < bands:
        raise ValueError(
            f"minhash_lsh_pairs: bands={bands} must divide num_hashes="
            f"{num_hashes} with >= 1 hash per band — rows_per_band=0 "
            "keys EVERY doc to '' in every band (the all-pairs n² join "
            "this engine exists to avoid) and a remainder silently "
            "drops hashes from banding (same contract "
            "packed_hamming_pairs enforces on nbits % bands)")
    sig = minhash_signature(df, text_col, id_col, num_hashes, shingle_n)
    sig = sig.select(
        F.col(id_col),
        F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)]).alias("_sig"))
    # EAGER: a lazy checkpoint materializes only at first-job end, so
    # the three sig-consuming branches inside one job would each
    # recompute the signature aggregation
    sig = sig.localCheckpoint(eager=True)
    rows_per_band = num_hashes // bands
    # band key = ONE xxhash64 long over (band, minhashes) — not the
    # ~40-byte per-value string concat it replaces (r11, staked by
    # bench/pair_xl.py: the banding index crosses the shuffle twice, so
    # key bytes are the engine's dominant exchange term at 1e8 docs).
    # No false negatives: equal band signatures hash equal. A 2^-64 key
    # collision can only ADD a candidate, and every candidate is
    # verified against the full signatures below before it can surface.
    band_keys = [
        F.xxhash64(F.lit(b), *[
            F.element_at("_sig", b * rows_per_band + r + 1)
            for r in range(rows_per_band)])
        for b in range(bands)]
    idx = sig.select(F.col(id_col), F.explode(F.array(*band_keys)).alias("_b"))
    cand = (idx.alias("a").join(idx.alias("b"), on="_b")
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("a_id"),
                    F.col(f"b.{id_col}").alias("b_id"))
            .distinct())
    sa = sig.select(F.col(id_col).alias("a_id"), F.col("_sig").alias("_sa"))
    sb = sig.select(F.col(id_col).alias("b_id"), F.col("_sig").alias("_sb"))
    agree = F.aggregate(
        F.zip_with("_sa", "_sb", lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, v: acc + v)
    est = agree.cast("double") / F.lit(float(num_hashes))
    return (cand.join(sa, "a_id").join(sb, "b_id")
            .withColumn("jaccard_est", est)
            .where(F.col("jaccard_est") >= threshold)
            .select("a_id", "b_id", "jaccard_est"))


def simhash_col(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                bits: int = 16) -> DataFrame:
    """SimHash signature: per word-token 32-bit hash; signature bit j = sign
    of Σ_tokens (2·bit_j(h) − 1). One explode + one groupBy with ``bits``
    conditional sums — map-side combinable, engine-portable.

    Output: ``id_col, simhash`` (bigint in [0, 2^bits)).
    """
    if bits > 60:
        raise ValueError(
            f"bits={bits}: the md5-derived token hash widens in 4-bit "
            "hex steps and must stay within signed BIGINT — 60 bits "
            "(15 hex chars) is the maximum")
    work = ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
    tok = work.select(F.col(id_col), F.explode(words_col(text_col)).alias("_w"))
    # the token hash must be at least `bits` wide: with the fixed
    # 32-bit hash, every signature bit j >= 32 summed a constant -1 and
    # came out 0 for EVERY doc — a band over those bits put the whole
    # corpus in one bucket (the exact quadratic blowup banding exists
    # to avoid) and deflated reported hammings. bits <= 32 keeps the
    # original 8-hex-char hash (oracle-pinned); wider signatures read
    # 15 hex chars (60 bits) of the same digest.
    if bits <= 32:
        h = _hash32(F.col("_w"), 7)
    else:
        h = F.conv(F.substring(
            F.md5(F.concat(F.lit("7:"), F.col("_w"))), 1, 15),
            16, 10).cast("bigint")
    # bit extraction must stay integral: the old (h / 2^j)::bigint % 2
    # round-trips through double, whose 53-bit mantissa rounds away the
    # low bits of the 60-bit hash — every doc's low signature bits
    # biased to 0 when bits > 32. shiftright on bigint is exact (and
    # identical to the division for the nonnegative 32-bit hash).
    sums = [F.sum(F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1)
                  .otherwise(-1)).alias(f"_s{j}") for j in range(bits)]
    agg = tok.groupBy(id_col).agg(*sums)
    sig = None
    for j in range(bits):
        bit = F.when(F.col(f"_s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return agg.select(F.col(id_col), sig.cast("bigint").alias("simhash"))


# Default candidate-mass budget for the "auto" pre-flight:
#
#   budget = FACTOR·bands·n  +  min(SLACK·bands·n²/2^(w+1), CAP·bands·n)
#
# The second term is the STRUCTURAL collision mass of n uniformly
# distributed hashes under w-bit band keys — E[Σ C(c,2)] per band ≈
# n²/2^(w+1) — which a correct corpus cannot avoid paying: a linear-only
# budget would start refusing HEALTHY 64-bit corpora (w=8 keys) past
# n ≈ FACTOR·2^(w+1) ≈ 32k distinct hashes (found in the r5 self-review).
# SLACK=8 over the expectation separates inherent mass from degeneracy:
# a near-constant-signature corpus concentrates ~n²·bands/2 in few
# buckets — orders of magnitude past the slack at any width — while for
# 32-bit wide keys the quadratic term stays negligible to n ~ 10⁹, so
# the wide engine remains effectively linear-budgeted as its design
# intends.
#
# The structural admission is itself CAPPED at CAP·bands·n — CAP ==
# the default hot_bucket_cap, so the corpus-level budget and the
# per-bucket skew bound express the same policy: no hash may owe more
# than ~CAP comparisons per band. Uncapped, the structural term admits
# n²-shaped work without limit — at 1e8 distinct 64-bit hashes (w=8
# keys) the inherent mass is bands·n²/2^(w+1) ≈ 1.6e14 candidates —
# months at the verify throughput measured by bench/pair_xl.py —
# "inherent" does not mean "feasible". The cap
# turns that into a seconds-fast refusal at n ≳ CAP·2^(w+1)/SLACK
# (~2.6e5·… ≈ 2.1e6 hashes for w=8, exactly the scale where the module
# docs already say to widen the signature). The refusal names both
# remedies: packed_wide_pairs (32-bit keys — structurally linear to
# n ~ 1e9) or an explicit int budget when a cluster is prepared to pay
# the quadratic mass. Callers pass an int for an explicit budget, or
# None to disable the pre-flight entirely.
MASS_BUDGET_FACTOR = 64
MASS_SLACK_FACTOR = 8
STRUCTURAL_CAP_PER_HASH = 4096   # == default hot_bucket_cap


def auto_mass_budget(n: int, bands: int, key_width: int) -> int:
    """The ``"auto"`` candidate-mass budget for ``n`` hashes under
    ``bands`` bands of ``key_width``-bit keys (see module comment)."""
    n = max(int(n), 1)
    structural = (MASS_SLACK_FACTOR * bands * n * n) >> (key_width + 1)
    structural = min(structural, STRUCTURAL_CAP_PER_HASH * bands * n)
    return MASS_BUDGET_FACTOR * bands * n + structural


def _resolve_mass_budget(max_candidate_mass, uniq: DataFrame,
                         bands: int, key_width: int
                         ) -> tuple[int | None, int | None]:
    """Turn the ``"auto"`` sentinel into :func:`auto_mass_budget` (one
    tiny aggregation over the checkpointed (hash, count) frame).

    Returns ``(budget, n_distinct)``; ``n_distinct`` rides along free
    from the same aggregate and feeds the closed-form structural
    refusal (``None`` for explicit-int/None budgets, which pay no
    aggregation here — their refusals come from the measured
    pre-flights)."""
    if max_candidate_mass != "auto":
        return max_candidate_mass, None
    row = uniq.agg(F.sum("_c"), F.count("*")).collect()[0]
    return auto_mass_budget(row[0] or 0, bands, key_width), row[1] or 0


def _uniform_min_mass(n: int, bits: int) -> int:
    """min Σ C(c, 2) over any placement of ``n`` distinct hashes into
    ``2^bits`` keys — the balanced spread (Jensen)."""
    bins = 1 << bits
    q, r = divmod(int(n), bins)
    return r * (q + 1) * q // 2 + (bins - r) * q * (q - 1) // 2


def _band_widths(total_bits: int, n_bands: int) -> list[int]:
    """Split ``total_bits`` into ``n_bands`` near-equal widths (pigeonhole
    holds for ANY partition of the bits; equal widths just balance key
    selectivity)."""
    q, r = divmod(total_bits, n_bands)
    return [q + 1 if b < r else q for b in range(n_bands)]


def packed_hamming_pairs(sig: DataFrame, hash_col: str, nbits: int,
                         bands: int, max_hamming: int, id_col: str,
                         hot_bucket_cap: int | None = 4096,
                         max_candidate_mass: int | str | None = None
                         ) -> DataFrame:
    """Shared banded-Hamming pair engine over a PACKED BIGINT hash
    column — the one candidate generator behind text SimHash
    (:func:`simhash_pairs`), image aHash and audio energy-hash
    (``multimodal.ahash_pairs``). Pigeonhole construction
    (Manku/Jain/Sarma WWW'07): ``max_hamming <= bands - 1`` ⇒ a
    qualifying pair agrees on ≥ 1 band ⇒ candidate generation has zero
    false negatives. Output: ``a_id, b_id, hamming`` with a < b.

    Scale shape, each layer exact (certified by all-pairs oracles):

    1. **Narrow candidates, early verify.** Band keys are
       ``shiftrightunsigned & mask`` INTs; candidates carry 2 longs;
       the ``bit_count(a ^ b)`` verify filters the join output
       IN-STAGE, so the dedup exchange sees only true pairs.
    2. **Distinct-hash reduction.** Banding runs over DISTINCT hashes;
       id pairs expand afterwards by joining back to the (id, hash)
       map. n/256 byte-identical members (the degenerate clustered
       corpus) contribute ONE candidate row, and their hamming-0
       cliques come from a separate group expansion whose output is
       exactly the true pair set.
    3. **Hot-bucket sub-band refinement.** Buckets over
       ``hot_bucket_cap`` distinct hashes re-band their remaining
       ``nbits − width`` bits into ``max_hamming + 1`` sub-bands —
       members agree on the bucket's band, so remaining distance
       ≤ max_hamming < sub-band count ⇒ pigeonhole again. The cap
       bounds SKEW, not just total mass: one bucket's join output
       lands in ONE reduce task, so the default 4096 caps any single
       task at ~8M candidate rows.
    4. **Fail-fast pre-flight.** ``max_candidate_mass`` (one tiny extra
       job over bucket counts) raises BEFORE the pair join if the
       post-refinement Σ c·(c−1)/2 exceeds the budget — at 100 TB a
       degenerate corpus should fail the cost model
       (`multimodal.pair_candidate_mass`), not pin a cluster. Pass an
       int for an explicit budget, ``"auto"`` for
       ``auto_mass_budget`` (linear + capped structural — the
       media-path default, ``multimodal.ahash_pairs``), or None to skip.

    Construction-time cost note: hot-bucket DETECTION (and the mass
    guard) run one small aggregation job when the DataFrame is BUILT,
    materializing the (id, hash) projection that the main run then
    reuses — so the upstream signature computation (e.g. a payload
    decode) executes once overall, not once for detection and once for
    pairing. The internal frames are LAZY LOCAL CHECKPOINTS, not
    ``persist()``: a persisted plan stays pinned in the session's cache
    registry forever (a long-lived/streaming session running many
    corpora accumulates unbounded executor storage), while checkpoint
    blocks are reference-tracked — they are freed when the returned
    DataFrame is garbage-collected. The trade is that two *separate*
    calls over the same input no longer share a cache entry (each call
    materializes its own projection); hold the returned frame and reuse
    it instead. Pass ``hot_bucket_cap=None, max_candidate_mass=None``
    for a fully lazy plan (e.g. explain-only callers).
    """
    if nbits < 1 or nbits > 64:
        raise ValueError(
            f"nbits={nbits} not in [1, 64] — Java shifts are mod 64, so a "
            "wider hash would silently alias band keys and lose the "
            "no-false-negative guarantee; use packed_wide_pairs instead")
    if nbits % bands != 0:
        raise ValueError(f"nbits={nbits} not divisible by bands={bands}")
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs bands >= {max_hamming + 1} "
            "for the pigeonhole no-false-negative guarantee")
    w = nbits // bands
    if w >= 64:
        raise ValueError("bands must be >= 2 (a single 64-bit band key "
                         "is the whole hash — use exact grouping instead)")
    mask = (1 << w) - 1
    ids = sig.select(F.col(id_col),
                     F.col(hash_col).cast("long").alias("_h")) \
        .localCheckpoint(eager=False)
    uniq = ids.groupBy("_h").agg(F.count("*").alias("_c")) \
        .localCheckpoint(eager=False)
    max_candidate_mass, n_distinct = _resolve_mass_budget(
        max_candidate_mass, uniq, bands, w)
    if max_candidate_mass is not None and n_distinct:
        # CLOSED-FORM structural refusal (r11, staked by bench/pair_xl.py
        # at 1e8): even a perfectly uniform corpus of n distinct hashes
        # owes at least bands·Σ_s jensen(n, w + s_w) verified candidates
        # in the FULLY-REFINED world (refinement only ever reduces a
        # bucket's mass, so the balanced fully-refined spread lower-
        # bounds the engine's post-refinement mass for ANY corpus).
        # Over budget ⇒ no corpus shape and no refinement outcome can
        # fit ⇒ refuse off the budget-resolution aggregate alone — zero
        # banding jobs (the 1e8 narrow probe leg paid a 127 s detection
        # aggregate over the 8e8-row banding index for the same verdict
        # before this bound existed).
        if hot_bucket_cap is not None:
            sub_w = _band_widths(nbits - w, max_hamming + 1)
            lb_global = bands * sum(_uniform_min_mass(n_distinct, w + s)
                                    for s in sub_w)
        else:
            lb_global = bands * _uniform_min_mass(n_distinct, w)
        if lb_global > max_candidate_mass:
            raise RuntimeError(
                f"packed_hamming_pairs: {n_distinct} distinct hashes "
                f"under {bands} bands of {w}-bit keys owe at least "
                f"{lb_global} verified candidates EVEN IF perfectly "
                f"uniform and fully sub-band refined, over "
                f"max_candidate_mass={max_candidate_mass} — this "
                "signature width is structurally infeasible at this "
                "corpus size; widen the signature (packed_wide_pairs) "
                "or pass an explicit int budget to override")

    # band index over DISTINCT hashes; _rem = the hash with band b's bits
    # removed, carried for the hot-bucket sub-band refinement (literal
    # shifts per array element — Java shifts are mod 64, so the top
    # band's "bits above" term is pinned to 0 explicitly).
    entries = []
    for b in range(bands):
        key = F.shiftrightunsigned(F.col("_h"), b * w) \
            .bitwiseAND(F.lit(mask))
        low = F.col("_h").bitwiseAND(F.lit((1 << (b * w)) - 1)) \
            if b > 0 else F.lit(0)
        if (b + 1) * w >= 64:
            high = F.lit(0)
        else:
            high = F.expr(
                f"shiftleft(shiftrightunsigned(_h, {(b + 1) * w}), {b * w})")
        entries.append(F.struct(F.lit(b).alias("b"), key.alias("k"),
                                (high.bitwiseOR(low)
                                 if b > 0 or (b + 1) * w < 64
                                 else F.lit(0)).cast("long").alias("rem")))
    bk = uniq.select(F.col("_h"),
                     F.explode(F.array(*entries)).alias("_bk")) \
        .select("_h", F.col("_bk.b").alias("_b"), F.col("_bk.k").alias("_k"),
                F.col("_bk.rem").alias("_rem"))

    ham = F.bit_count(F.col("_h1").bitwiseXOR(F.col("_h2"))).cast("long")

    def _self_pairs(idx: DataFrame, keys: list[str]) -> DataFrame:
        a = idx.select(*keys, F.col("_h").alias("_h1"))
        b = idx.select(*keys, F.col("_h").alias("_h2"))
        return (a.join(b, on=keys)
                .where(F.col("_h1") < F.col("_h2"))
                .select("_h1", "_h2"))

    def _mass(idx: DataFrame, keys: list[str]) -> int:
        return (idx.groupBy(*keys).agg(F.count("*").alias("_c"))
                .agg(F.sum(F.expr("_c * (_c - 1) div 2")))
                .collect()[0][0]) or 0

    def _sub_banded(hot: DataFrame) -> DataFrame:
        # sub-band refinement over the remaining nbits - w bits: members
        # of a hot bucket agree on its band, so a qualifying pair's
        # remaining distance is <= max_hamming < sub_n ⇒ pigeonhole
        rbits = nbits - w
        sub_n = max_hamming + 1
        sw = _band_widths(rbits, sub_n)
        soff = [sum(sw[:sb]) for sb in range(sub_n)]
        subs = [F.struct(
            F.lit(sb).alias("sb"),
            F.shiftrightunsigned(F.col("_rem"), soff[sb])
            .bitwiseAND(F.lit((1 << sw[sb]) - 1)).alias("sk"))
            for sb in range(sub_n)]
        return hot.select(
            "_b", "_k", "_h",
            F.explode(F.array(*subs)).alias("_s")) \
            .select("_b", "_k", F.col("_s.sb").alias("_sb"),
                    F.col("_s.sk").alias("_sk"), "_h")

    if hot_bucket_cap is not None:
        # hot-bucket DETECTION runs driver-side (one small aggregation
        # job over the persisted distinct-hash index): the common case —
        # zero hot buckets — then pays NO counts join, no extra exchange,
        # and the cold path is the plain banded join. The literal-split
        # path covers up to 1000 hot buckets (well past any real corpus:
        # hot buckets number <= n_distinct/cap); beyond that the
        # join-based split is the safe fallback.
        hot_rows = (bk.groupBy("_b", "_k").agg(F.count("*").alias("_n"))
                    .where(F.col("_n") > hot_bucket_cap)
                    .select("_b", "_k", "_n").collect())
        hot_keys = [((r["_b"] << w) | r["_k"]) for r in hot_rows]
        if max_candidate_mass is not None and hot_rows:
            # EARLY refusal off the detection pass alone (r11, staked by
            # bench/pair_xl.py): a LOWER BOUND on the hot buckets'
            # post-refinement mass — uniform spread of c members over a
            # sub-band's 2^sw keys minimizes Sum C(c_j, 2) (Jensen), at
            # >= c(c - 2^sw)/2^(sw+1) — already over budget means no
            # refinement outcome can fit, so refuse BEFORE building the
            # sub-banded index (at 1e8 all-hot 64-bit hashes that index
            # is a bands*(max_hamming+1)*n-row explode + aggregate: the
            # refusal drops from minutes to the one detection job).
            # Under-estimates never false-refuse: a feasible corpus
            # falls through to the exact post-refinement check below.
            sw = _band_widths(nbits - w, max_hamming + 1)
            lb_hot = sum(
                max(0, c * (c - (1 << s))) >> (s + 1)
                for c in (r["_n"] for r in hot_rows) for s in sw)
            if lb_hot > max_candidate_mass:
                raise RuntimeError(
                    f"packed_hamming_pairs: hot-bucket candidate mass is "
                    f"at least {lb_hot} under IDEAL sub-band refinement, "
                    f"over max_candidate_mass={max_candidate_mass}; the "
                    "band keys are degenerate for this corpus at this "
                    "width — widen the signature (packed_wide_pairs) or "
                    "pre-cluster (see pair_candidate_mass)")
        bkey = F.shiftleft(F.col("_b").cast("long"), w) \
            .bitwiseOR(F.col("_k"))
        if not hot_keys:
            cold, hot_idx = bk, None
        elif len(hot_keys) <= 1000:
            cold = bk.where(~bkey.isin(hot_keys))
            hot_idx = _sub_banded(bk.where(bkey.isin(hot_keys)))
        else:
            counts = bk.groupBy("_b", "_k").agg(F.count("*").alias("_n"))
            bkc = bk.join(counts, ["_b", "_k"])
            cold = bkc.where(F.col("_n") <= hot_bucket_cap)
            hot_idx = _sub_banded(bkc.where(F.col("_n") > hot_bucket_cap))
        if max_candidate_mass is not None:
            total = _mass(cold, ["_b", "_k"]) + (
                _mass(hot_idx, ["_b", "_k", "_sb", "_sk"])
                if hot_idx is not None else 0)
            if total > max_candidate_mass:
                raise RuntimeError(
                    f"packed_hamming_pairs: candidate mass {total} "
                    f"(after hot-bucket refinement) exceeds "
                    f"max_candidate_mass={max_candidate_mass}; the band "
                    "keys are degenerate for this corpus — widen the "
                    "signature or pre-cluster (see pair_candidate_mass)")
        cand = _self_pairs(cold, ["_b", "_k"])
        if hot_idx is not None:
            cand = cand.unionByName(
                _self_pairs(hot_idx, ["_b", "_k", "_sb", "_sk"]))
    else:
        if max_candidate_mass is not None:
            mass = _mass(bk, ["_b", "_k"])
            if mass > max_candidate_mass:
                raise RuntimeError(
                    f"packed_hamming_pairs: candidate mass {mass} exceeds "
                    f"max_candidate_mass={max_candidate_mass}")
        cand = _self_pairs(bk, ["_b", "_k"])

    # verify BEFORE the dedup exchange: bit_count runs on the join output
    # in-stage, so only true pairs reach the distinct's shuffle
    hpairs = (cand.withColumn("hamming", ham)
              .where(F.col("hamming") <= max_hamming)
              .distinct())
    # identical-hash groups join the SAME expansion as (h, h, 0) rows —
    # one code path, no separate clique subtree
    dup_h = (uniq.where(F.col("_c") >= 2)
             .select(F.col("_h").alias("_h1"), F.col("_h").alias("_h2"),
                     F.lit(0).cast("long").alias("hamming")))
    hpairs = hpairs.unionByName(dup_h)

    ma = ids.select(F.col("_h").alias("_h1"), F.col(id_col).alias("_xa"))
    mb = ids.select(F.col("_h").alias("_h2"), F.col(id_col).alias("_xb"))
    # distinct-hash pairs (_h1 < _h2) expand to every cross id pair,
    # ordered by least/greatest; identical-hash rows (_h1 == _h2) expand
    # to both orders + self-pairs, so keep only _xa < _xb there
    return (hpairs.join(ma, "_h1").join(mb, "_h2")
            .where((F.col("_h1") != F.col("_h2"))
                   | (F.col("_xa") < F.col("_xb")))
            .select(F.least("_xa", "_xb").alias("a_id"),
                    F.greatest("_xa", "_xb").alias("b_id"), "hamming"))


def packed_wide_pairs(sig: DataFrame, hash_col: str, nbits: int,
                      bands: int, max_hamming: int, id_col: str,
                      max_candidate_mass: int | str | None = None
                      ) -> DataFrame:
    """Banded-Hamming pairs over WIDE packed hashes — ``nbits`` a
    multiple of 64, stored as ``array<bigint>`` words
    (``multimodal.pack_bits_words_expr`` layout). Same pigeonhole
    construction and distinct-hash/early-verify layers as
    :func:`packed_hamming_pairs`; the point of width is BAND-KEY
    SELECTIVITY, which is the actual 100 TB lever for a fixed Hamming
    budget: at ``max_hamming ≤ 7`` a 64-bit signature forces 8-bit band
    keys (256 buckets — candidate mass Θ(n²/256) on ANY corpus past
    ~10⁶ distinct hashes), while a 256-bit signature gives the same
    budget 32-bit keys (4.3 · 10⁹ buckets — collision-driven mass stays
    ~n²·bands/2^width, linear-regime at any realistic corpus size). A
    hot-bucket refinement is deliberately absent here — selective keys
    are the refinement; ``max_candidate_mass`` remains the fail-fast
    (exact Σ c·(c−1)/2 pre-flight) for degenerate corpora: an int budget,
    ``"auto"`` for ``auto_mass_budget`` (the
    media-path default), or None to skip.

    Shuffle-byte shape (r11, staked by bench/pair_xl.py): the banding
    join ships ``(band, key, surrogate-id)`` — never the word array.
    Carrying the full ``nbits/8``-byte hash on BOTH join sides cost
    ``2·bands·n·nbits/8`` shuffle bytes (~100 GB at 1e8 256-bit hashes;
    the 1e8 probe exhausted a 80 GB local disk in sort spill before the
    fix), when the verify only needs hashes for the FEW surviving
    candidates: band over a per-distinct-hash ``monotonically_
    increasing_id`` (pinned by an EAGER checkpoint of the distinct-hash
    map, so every consumer reads one materialization — also why this
    engine runs one construction-time job even with the pre-flight
    disabled), then join the deduped candidate id pairs back to the map
    for the in-stage ``bit_count`` verify. Internal frames are local
    checkpoints, not ``persist()`` — see :func:`packed_hamming_pairs`
    for the cache-hygiene rationale. Output: ``a_id, b_id, hamming``
    with a < b.
    """
    if nbits % 64 != 0:
        raise ValueError(f"nbits={nbits} must be a multiple of 64 "
                         "(use packed_hamming_pairs below 64)")
    if nbits % bands != 0:
        raise ValueError(f"nbits={nbits} not divisible by bands={bands}")
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs bands >= {max_hamming + 1} "
            "for the pigeonhole no-false-negative guarantee")
    w = nbits // bands
    if not (w <= 64 and 64 % w == 0) and w % 64 != 0:
        raise ValueError(
            f"band width {w} must divide 64 or be a multiple of 64 "
            "(keys never straddle a word boundary)")
    ids = sig.select(F.col(id_col), F.col(hash_col).alias("_h")) \
        .localCheckpoint(eager=False)
    # EAGER: _hid must be assigned exactly once — a lazily-checkpointed
    # monotonically_increasing_id could be re-evaluated per consumer
    # with no stability contract; materializing pins the (hash, id)
    # bijection every downstream join reads
    uniq = (ids.groupBy("_h").agg(F.count("*").alias("_c"))
            .withColumn("_hid", F.monotonically_increasing_id())
            .localCheckpoint(eager=True))
    # n_distinct unused here: at >= 32-bit keys the uniform minimum
    # mass is zero until n ~ 2^32 — the wide engine's refusals are the
    # measured pre-flight's job
    max_candidate_mass, _ = _resolve_mass_budget(max_candidate_mass, uniq,
                                                 bands, min(w, 62))

    if w <= 64:
        mask = (1 << w) - 1   # unused when w == 64 (no AND needed)
        keys = []
        for b in range(bands):
            wi, off = (b * w) // 64, (b * w) % 64
            word = F.element_at("_h", wi + 1)
            k = F.shiftrightunsigned(word, off)
            if w < 64:
                k = k.bitwiseAND(F.lit(mask))
            keys.append(F.struct(F.lit(b).alias("b"),
                                 F.array(k).alias("k")))
    else:
        wpb = w // 64   # whole words per band
        keys = [F.struct(F.lit(b).alias("b"),
                         F.slice("_h", b * wpb + 1, wpb).alias("k"))
                for b in range(bands)]
    bk = uniq.select(F.col("_hid"),
                     F.explode(F.array(*keys)).alias("_bk")) \
        .select("_hid", F.col("_bk.b").alias("_b"), F.col("_bk.k").alias("_k"))

    if max_candidate_mass is not None:
        mass = (bk.groupBy("_b", "_k").agg(F.count("*").alias("_c"))
                .agg(F.sum(F.expr("_c * (_c - 1) div 2")))
                .collect()[0][0]) or 0
        if mass > max_candidate_mass:
            raise RuntimeError(
                f"packed_wide_pairs: candidate mass {mass} exceeds "
                f"max_candidate_mass={max_candidate_mass}; widen the "
                "signature/bands further or pre-cluster")

    a = bk.select("_b", "_k", F.col("_hid").alias("_i1"))
    b = bk.select("_b", "_k", F.col("_hid").alias("_i2"))
    # candidates are (surrogate, surrogate) longs; dedup them FIRST so
    # the hash map joins back against each unordered pair once, then
    # verify in-stage — the word arrays never enter the banding shuffle
    cand = (a.join(b, on=["_b", "_k"])
            .where(F.col("_i1") < F.col("_i2"))
            .select("_i1", "_i2")
            .distinct())
    m1 = uniq.select(F.col("_hid").alias("_i1"), F.col("_h").alias("_h1"))
    m2 = uniq.select(F.col("_hid").alias("_i2"), F.col("_h").alias("_h2"))
    ham = F.aggregate(
        F.zip_with("_h1", "_h2",
                   lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")),
        F.lit(0).cast("long"), lambda acc, v: acc + v)
    hpairs = (cand.join(m1, "_i1").join(m2, "_i2")
              .withColumn("hamming", ham)
              .where(F.col("hamming") <= max_hamming)
              .select("_h1", "_h2", "hamming"))
    dup_h = (uniq.where(F.col("_c") >= 2)
             .select(F.col("_h").alias("_h1"), F.col("_h").alias("_h2"),
                     F.lit(0).cast("long").alias("hamming")))
    hpairs = hpairs.unionByName(dup_h)
    ma = ids.select(F.col("_h").alias("_h1"), F.col(id_col).alias("_xa"))
    mb = ids.select(F.col("_h").alias("_h2"), F.col(id_col).alias("_xb"))
    return (hpairs.join(ma, "_h1").join(mb, "_h2")
            .where((F.col("_h1") != F.col("_h2"))
                   | (F.col("_xa") < F.col("_xb")))
            .select(F.least("_xa", "_xb").alias("a_id"),
                    F.greatest("_xa", "_xb").alias("b_id"), "hamming"))


def simhash_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", bits: int = 32, bands: int = 4,
                  max_hamming: int = 3) -> DataFrame:
    """Banded SimHash near-dup pairs (Manku/Jain/Sarma, WWW'07 web-dedup
    scheme): signatures split into ``bands`` equal-width band keys, docs
    sharing any (band, key) become candidates, candidates verified with
    the exact Hamming distance ``bit_count(a XOR b)``.

    Pigeonhole guarantee: a pair within ``max_hamming <= bands - 1``
    differs in at most ``bands - 1`` bands, so at least one band matches
    exactly — candidate generation has NO false negatives. The scale
    shape is the same as MinHash-LSH: an explode to ``bands`` narrow
    rows per doc, one bucket self-join, never n². At 100 TB the band
    tables are written once and each band join is an equi-join a
    1000-executor shuffle handles; widen ``bits`` (up to the 60-bit
    md5-hash cap) / ``bands`` to keep buckets selective on larger
    corpora.

    Output: ``a_id, b_id, hamming`` with a < b, hamming <= max_hamming.
    """
    # the heavy part (bits-sum aggregation) runs once: the shared engine
    # persists its (id, hash) projection internally — same rationale as
    # minhash_lsh_pairs' cached signatures (r2: 3× win); r4 delegates to
    # packed_hamming_pairs (distinct-hash reduction, early bit_count
    # verify, hot-bucket sub-banding) so all three near-dup modalities
    # ride one engine.
    sig = simhash_col(df, text_col=text_col, id_col=id_col, bits=bits)
    return packed_hamming_pairs(sig, "simhash", bits, bands, max_hamming,
                                id_col)


def pair_plan_stats(sh: DataFrame) -> dict:
    """Measured inputs for the exact-pair auto-planner
    (``plans.chooser.choose_pair_plan``): one combinable aggregate over
    the shingle df histogram — total candidate-pair mass Σ C(df,2),
    posting rows, and the mass truncated at each ``MAX_DF_LADDER`` rung
    (what the guarded plan's candidate generation would actually emit).
    Cost: the same single dfreq aggregate the guarded plan needs anyway;
    the exchange carries one row per distinct shingle."""
    return pair_plan_stats_from_dfreq(
        sh.groupBy("_sh").agg(F.count("*").alias("_df")))


def pair_plan_stats_from_dfreq(dfreq: DataFrame) -> dict:
    """:func:`pair_plan_stats` over an already-built ``(_sh, _df)``
    histogram — the auto path materializes the histogram once and feeds
    it to BOTH the stats aggregate and the stop-shingle guard (r11:
    previously each ran its own full aggregation over the posting
    index; guide §2.4, share one exchange)."""
    from ..plans.chooser import MAX_DF_LADDER
    mass = F.expr("_df * (_df - 1) div 2")
    aggs = [F.coalesce(F.sum(mass), F.lit(0)).alias("mass_total"),
            F.coalesce(F.sum("_df"), F.lit(0)).alias("posting_rows"),
            F.count("*").alias("n_shingles")]
    for k in MAX_DF_LADDER:
        under = F.col("_df") <= k
        aggs.append(F.coalesce(F.sum(F.when(under, mass)),
                               F.lit(0)).alias(f"mass_le_{k}"))
        aggs.append(F.coalesce(F.sum(F.when(under, F.col("_df"))),
                               F.lit(0)).alias(f"rows_le_{k}"))
    row = dfreq.agg(*aggs).collect()[0]
    return {k: int(v) for k, v in row.asDict().items()}


def _resolve_max_df(sh: DataFrame, max_df, dfreq: DataFrame):
    """Turn ``max_df="auto"`` into a measured plan choice over a
    materialized :func:`shingle_index` pair ``(sh, dfreq)``. Returns
    ``(sh, max_df, dfreq)``: the stats aggregate reads the materialized
    df histogram, so no extra pass over the index runs. Refuses
    (ValueError) when even the tightest guard
    leaves the candidate mass over budget: that corpus is past the
    exact tier's envelope and belongs on :func:`minhash_lsh_pairs` —
    the same fail-fast contract as the banded engine's pre-flight."""
    if max_df != "auto":
        return sh, max_df, dfreq
    from ..plans.chooser import (MAX_DF_LADDER, PAIR_MASS_FACTOR,
                                 choose_pair_plan)
    stats = pair_plan_stats_from_dfreq(dfreq)
    plan, k = choose_pair_plan(stats)
    if plan == "lsh":
        tight = min(MAX_DF_LADDER)
        raise ValueError(
            "exact pair tier refused: candidate mass "
            f"{stats['mass_total']} (truncated at max_df={tight}: "
            f"{stats[f'mass_le_{tight}']}) exceeds the "
            f"{PAIR_MASS_FACTOR} × posting_rows budget over "
            f"{stats['posting_rows']} posting rows — the corpus is past "
            "the exact tier's design envelope; use minhash_lsh_pairs "
            "(the 100 TB near-dup path) or pass an explicit max_df to "
            "override")
    return sh, k, dfreq


def _pair_intersections(sh: DataFrame, id_col: str,
                        max_df: int | None,
                        dfreq: DataFrame) -> DataFrame:
    """Shared engine for set-overlap pair ops: from an exploded
    (id, _sh) inverted index, produce every unordered pair (a < b)
    sharing >= 1 (non-stop) shingle with its EXACT full-set
    intersection count and both set sizes.

    Output: ``a_id, b_id, _inter, _na, _nb``. All plan/scale notes in
    :func:`ngram_jaccard_pairs` (whose guarded/unguarded branches this
    factors out) apply verbatim: max_df caps candidate generation only,
    the stop-shingle correction join restores exact counts, and the
    bounded posting-list pair generation keeps it to one index shuffle.

    ``(sh, dfreq)`` is the materialized :func:`shingle_index` pair: the
    exploded index feeds THREE subtrees (df guard, per-doc sizes, pair
    generation), so without the checkpoint each branch would re-run the
    scan + regex shingle explode (~40% of doc_containment_pairs' task
    time at sf0.1, r9), and the guarded plan's SHAPE depends on the data
    (stop.isEmpty()), which no lazy formulation can express. The pair
    ops built on this engine (ngram_jaccard_pairs / containment_pairs /
    weighted-jaccard) therefore execute their corpus scan AT
    CONSTRUCTION — callers composing a plan they may never run should
    defer the call, not the returned DataFrame.
    """
    def _pair_counts_bounded(idx: DataFrame, out: str) -> DataFrame:
        # per-shingle posting LIST + in-array pair explode: generates the
        # same (a<b, count) table as the self-join but shuffles the index
        # ONCE (the groupBy) instead of twice (both join sides) — measured
        # 2.15× at sf1-equiv (4.5 → 2.1 s for 11.3M candidate rows). Safe
        # ONLY when the posting list is bounded (max_df guard on): an
        # unbounded hot shingle would materialize its whole posting array
        # on one row.
        lists = idx.groupBy("_sh").agg(
            F.sort_array(F.collect_list(F.col(id_col))).alias("_ids"))
        pairs = lists.select(F.explode(F.expr(
            "flatten(transform(_ids, (x, i) -> "
            "transform(slice(_ids, i + 2, size(_ids) - i - 1), "
            "y -> struct(x AS a, y AS b))))")).alias("_p"))
        return (pairs.groupBy("_p.a", "_p.b").agg(F.count("*").alias(out))
                .select(F.col("a").alias("a_id"), F.col("b").alias("b_id"),
                        F.col(out)))

    stop = None
    if max_df is not None:
        # stop set is small by construction (only ultra-common shingles
        # exceed max_df — the Zipf head). Persist + probe it eagerly: the
        # agg is one map-side-combinable pass the plan needs anyway (the
        # cache feeds the broadcasts below), and when NO shingle exceeds
        # max_df the whole correction apparatus (anti join + two
        # membership joins + correction agg — 3 extra shuffles) is a
        # no-op we can drop from the plan entirely. Either way the
        # observed df is bounded, so the one-shuffle posting-list pair
        # generation applies.
        # localCheckpoint, not persist: one registry entry per distinct
        # corpus would leak across a long session (r5 hygiene rule);
        # blocks free on GC and the broadcasts below read the same
        # materialization
        stop = dfreq.where(F.col("_df") > max_df).select("_sh") \
            .localCheckpoint(eager=True)
        if stop.isEmpty():
            stop = None

    # per-doc set sizes join the pair table TWICE (a-side, b-side) —
    # checkpoint the doc-count-sized result so the subtree runs once
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("_n")) \
        .localCheckpoint(eager=True)
    na = sizes.select(F.col(id_col).alias("a_id"), F.col("_n").alias("_na"))
    nb = sizes.select(F.col(id_col).alias("b_id"), F.col("_n").alias("_nb"))

    if max_df is not None and stop is not None:
        idx = sh.join(F.broadcast(stop), "_sh", "left_anti")
        cap = _pair_counts_bounded(idx, "_ic")
        # stop-shingle membership per doc (≤ |stop| rows per doc; the
        # stop set itself is tiny — broadcast it into the semi-join)
        sidx = sh.join(F.broadcast(stop), "_sh")
        sa = sidx.select(F.col(id_col).alias("a_id"), "_sh")
        sb = sidx.select(F.col(id_col).alias("b_id"), "_sh")
        corr = (cap.select("a_id", "b_id")
                .join(sa, "a_id")
                .join(sb, ["_sh", "b_id"])
                .groupBy("a_id", "b_id").agg(F.count("*").alias("_is")))
        return (cap.join(corr, ["a_id", "b_id"], "left")
                .join(na, "a_id").join(nb, "b_id")
                .withColumn("_inter", F.col("_ic")
                            + F.coalesce(F.col("_is"), F.lit(0)))
                .select("a_id", "b_id", "_inter", "_na", "_nb"))

    if max_df is not None:
        # guard requested but nothing exceeds it: posting lists are
        # bounded by the observed max df ≤ max_df — one-shuffle plan
        inter = _pair_counts_bounded(sh, "_inter")
    else:
        # unguarded: posting lists unbounded, keep the join formulation
        a = sh.select(F.col(id_col).alias("a_id"), F.col("_sh"))
        b = sh.select(F.col(id_col).alias("b_id"), F.col("_sh"))
        inter = (a.join(b, on=["_sh"])
                 .where(F.col("a_id") < F.col("b_id"))
                 .groupBy("a_id", "b_id").agg(F.count("*").alias("_inter")))
    return (inter.join(na, "a_id").join(nb, "b_id")
            .select("a_id", "b_id", "_inter", "_na", "_nb"))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", shingle_n: int = 3,
                        threshold: float = 0.5,
                        max_df: int | str | None = "auto") -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index join.

    docs → distinct shingles (explode) → self-join on shingle (the
    inverted index: only docs sharing ≥1 shingle ever meet) → per-pair
    intersection count (narrow rows, map-side partial agg) → Jaccard
    with |A|+|B| from per-doc counts (cross-checked against a
    pure-Python Jaccard in tests).
    Output: ``a_id, b_id, jaccard`` with a<b.

    ``max_df``: the 100 TB skew guard — shingles appearing in more than
    ``max_df`` docs are excluded from CANDIDATE GENERATION only (a
    stop-shingle shared by 10⁵ docs otherwise emits 10¹⁰ join rows).
    Reported Jaccards stay EXACT over the full shingle sets: the capped
    index's per-pair count is topped up with the stop-shingle
    intersection mass via a correction join that runs candidate-side
    (pairs → a-doc's stop shingles → match b-doc's), so the df² blowup
    on stop shingles can never re-enter the plan and every row stays
    narrow (no array materialization, no ``distinct`` — the per-pair
    ``groupBy`` dedups and counts in one shuffle; measured 10×
    over the array-verify formulation at 10⁶ docs). The only semantic
    delta: pairs connected solely through ultra-common shingles are not
    found (at any meaningful threshold such pairs share rarer shingles
    too). ``max_df=None`` = the unguarded count-based plan.

    ``max_df="auto"`` (THE DEFAULT since r11 — r9 VERDICT #4 built the
    planner, r10 VERDICT #3 made it the default; A/B-proven on both
    corpus shapes, SCALE_NOTES) replaces the manual knob with the
    measured dispatch: one df-histogram aggregate feeds
    ``plans.chooser.choose_pair_plan``, which picks plain vs the
    largest budget-fitting guard, or REFUSES toward
    :func:`minhash_lsh_pairs` when no guard fits (ValueError naming
    the tier that scales). Pass an int (manual guard) or None
    (unguarded) to override the planner.
    """
    # word_shingles is array_distinct per doc, so the exploded index is
    # already (id, shingle)-unique — no dedup shuffle needed.
    # shingle_index: session-shared materialization (one explode feeds
    # every pair operator on this corpus — r11 VERDICT #2); its
    # ensure_parallelism(min_bytes=0) spread is the r9-measured guard
    # (single-task shuffle write doubled the query: 2.8 → 5.6 s).
    sh, dfreq = shingle_index(df, text_col, id_col, shingle_n)
    sh, max_df, dfreq = _resolve_max_df(sh, max_df, dfreq)
    base = _pair_intersections(sh, id_col, max_df, dfreq)
    jacc = (F.col("_inter").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("_inter")))
    return (base.withColumn("jaccard", jacc)
            .where(F.col("jaccard") >= threshold)
            .select("a_id", "b_id", "jaccard"))


def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", shingle_n: int = 3,
                      threshold: float = 0.5,
                      max_df: int | str | None = "auto") -> DataFrame:
    """Directed shingle-containment pairs: C(src→dst) = |src ∩ dst| /
    |src| over distinct word shingles — the quote / sub-document
    detector. A short doc wholly quoted inside a long one scores ≈ 1.0
    while its symmetric Jaccard is tiny, so Jaccard dedup misses it;
    containment is the metric data-curation pipelines use for
    "contained in a larger page" and train/eval contamination checks.

    Same candidate machinery as :func:`ngram_jaccard_pairs`
    (:func:`_pair_intersections`): max_df-guarded inverted index, exact
    intersection via the stop-shingle correction join, one index
    shuffle — never n². Both directions are emitted and filtered
    independently. ``max_df="auto"`` (the default since r11, replacing
    the former magic ``100``) dispatches through the measured
    df-histogram planner exactly as in :func:`ngram_jaccard_pairs`;
    pass an int or None to override the planner.

    Output: ``src_id, dst_id, containment`` (containment ≥ threshold).
    """
    # session-shared posting index (r11 VERDICT #2): the same corpus
    # explode doc_ngram_pairs / weighted-jaccard consumers already paid
    # for is reused here instead of re-run
    sh, dfreq = shingle_index(df, text_col, id_col, shingle_n)
    sh, max_df, dfreq = _resolve_max_df(sh, max_df, dfreq)
    base = _pair_intersections(sh, id_col, max_df, dfreq)

    i = F.col("_inter").cast("double")
    # both directions from ONE evaluation of the pair engine: a union of
    # two projections re-evaluates the whole subtree per branch (exchange
    # reuse only recovers part of it — measured ~6 task-s at sf0.1);
    # exploding a 2-element struct array emits fwd+rev rows in-stage
    return (base.select(F.explode(F.array(
                F.struct(F.col("a_id").alias("src_id"),
                         F.col("b_id").alias("dst_id"),
                         (i / F.col("_na")).alias("containment")),
                F.struct(F.col("b_id").alias("src_id"),
                         F.col("a_id").alias("dst_id"),
                         (i / F.col("_nb")).alias("containment"))))
            .alias("_d"))
            .select("_d.*")
            .where(F.col("containment") >= threshold))


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", shingle_n: int = 3,
                        window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every POSITIONAL word shingle
    (multiplicity kept, unlike the dedup shingle set), slide a window of
    ``window`` consecutive hashes, record each window's minimum (tie →
    earliest position), and keep the distinct selections.

    Guarantee: any shared run of ``window + shingle_n − 1`` words
    between two docs produces ≥ 1 shared fingerprint, at an expected
    density of 2/(window+1) — the local-sampling property that makes
    winnowing the plagiarism/span-dup standard where random sampling
    has no match guarantee.

    Plan: one explode, one keyed window min, one distinct — all
    JVM-side. The in-window argmin is a single BIGINT ``min`` over the
    encoded key ``hash·2²⁰ + pos`` (portable to any engine; earliest
    position wins ties automatically). Docs shorter than one full
    window emit nothing (strict windows only — documented MOSS
    behavior for short inputs). pos < 2²⁰ is asserted by the encoding:
    longer docs should be chunked first (doc_chunk).

    Output: ``id_col, fp_hash, fp_pos`` (distinct fingerprints).
    """
    from .text import word_ngrams_all
    tok = (ensure_parallelism(df.select(F.col(id_col), F.col(text_col)),
                              min_bytes=0)
           .withColumn("_words", words_col(text_col))
           .select(F.col(id_col),
                   F.posexplode(word_ngrams_all(
                       text_col, shingle_n, from_words_col="_words"))
                   .alias("_pos", "_sh")))
    # the bound check is FUSED into the key expression: a separate
    # assert_true column that is selected then dropped is pruned by the
    # optimizer (verified — no assert survives in the optimized plan),
    # so the overflow silently corrupted hash·2²⁰+pos keys instead of
    # raising. A when/otherwise(raise_error) inside the key itself
    # cannot be pruned because the key feeds the output.
    pos_ok = F.when(
        F.col("_pos") < F.lit(1 << 20), F.col("_pos")
    ).otherwise(F.raise_error(F.lit(
        "winnow_fingerprints: doc exceeds 2^20 shingles — chunk it "
        "first (doc_chunk)")).cast("int"))
    key = _hash32(F.col("_sh"), 11) * F.lit(1 << 20) + pos_ok
    keyed = tok.select(F.col(id_col), F.col("_pos"), key.alias("_key"))
    wfull = Window.partitionBy(id_col)
    wmin = Window.partitionBy(id_col).orderBy("_pos") \
        .rowsBetween(0, window - 1)
    return (keyed
            .withColumn("_n", F.count("*").over(wfull))
            .withColumn("_wmin", F.min("_key").over(wmin))
            .where(F.col("_pos") + window <= F.col("_n"))
            .select(F.col(id_col),
                    F.expr("_wmin div 1048576").alias("fp_hash"),
                    (F.col("_wmin") % F.lit(1 << 20)).alias("fp_pos"))
            .distinct())


def embedding_dup_pairs(df: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id", threshold: float = 0.95,
                        bucket_hyperplanes: int = 0,
                        gram_bucket_cap: int = 16384,
                        plane_family: str = "md5",
                        dim: int | None = None) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ τ.

    ``bucket_hyperplanes=0``: exact all-pairs via the declarative
    bucket join (testing / small n). ``>0``: random-hyperplane LSH
    pre-bucketing (deterministic sin-based planes, see similarity.py),
    and each bucket is closed by a PER-BUCKET BLAS GRAM MATRIX inside
    ``applyInPandas`` — the pair SET is identical to the bucket
    equi-join (same buckets, same a<b pairs, same ≥ τ cut), but the
    per-pair cosine costs a fused multiply-add row in a ``n_blk×d @
    d×c`` matmul instead of an interpreted ``aggregate``/``zip_with``
    evaluation, and parallelism is per-bucket instead of per-join-
    partition. Measured at sf0.1 (2000×64-d, 445k candidate pairs in 8
    non-empty buckets): 8.5 s → ~0.5 s. Float drift vs the declarative
    form is ulp-level (sum order), absorbed by the 6-dp output rounding
    exactly like the Spark-vs-DuckDB oracle gap — and verified safe
    here: the nearest candidate sits 2.8e-5 from the τ=0.4 boundary.

    A bucket larger than ``gram_bucket_cap`` rows fails fast with the
    fix spelled out (add planes): a c-row bucket costs c²·d flops and
    c·d·8 bytes in ONE task, so an unbounded hot bucket is the same
    degenerate-corpus hazard the banded-Hamming engines refuse via
    ``max_candidate_mass``. At the default 16384 cap a bucket is ≤134M
    pair-flops·d — seconds — and ≤8 MB of vectors.

    ``plane_family`` picks the bucketing planes (r11): ``"md5"``
    (default) uses :func:`similarity.md5_bucket_col` — INDEPENDENT
    literal-constant planes; ``"sin"`` keeps the legacy
    :func:`similarity.hyperplane_bucket_col` family, whose adjacent
    planes correlate as ½·cos(97·Δh) ≈ −0.46 and collapse the sign
    patterns at scale: measured at 1e6 random 64-d vectors under 11
    planes, sin fills 22 of 2048 buckets (max 64,268 vs avg 488 —
    every bucket over any sane cap) while md5 fills all 2048 (max
    2,165 = 4.4× avg). The sin family is kept only for parity with
    the pre-r11 oracle queries; new callers should not pass it.
    ``dim`` (md5 only) is the vector dimensionality the literal
    planes need — inferred from the first row (one tiny driver job)
    when omitted; pass it explicitly at scale.
    Output: ``a_id, b_id, cosine``.
    """
    from .similarity import (cosine_expr, hyperplane_bucket_col,
                             md5_bucket_col)
    work = df.select(F.col(id_col), F.col(vec_col))
    if bucket_hyperplanes <= 0:
        work = work.withColumn("_bkt", F.lit(0))
        a = work.select(F.col("_bkt"), F.col(id_col).alias("a_id"),
                        F.col(vec_col).alias("_va"))
        b = work.select(F.col("_bkt"), F.col(id_col).alias("b_id"),
                        F.col(vec_col).alias("_vb"))
        pairs = a.join(b, on=["_bkt"]).where(F.col("a_id") < F.col("b_id"))
        cos = cosine_expr(F.col("_va"), F.col("_vb"))
        return (pairs.withColumn("cosine", cos)
                .where(F.col("cosine") >= threshold)
                .select("a_id", "b_id", "cosine"))

    from .similarity import grouped_gram_pairs
    if plane_family == "md5":
        if dim is None:
            first = df.select(F.size(F.col(vec_col))).first()
            if first is None:
                idt = df.schema[id_col].dataType.simpleString()
                return local_frame(work.sparkSession, [],
                                   f"a_id {idt}, b_id {idt}, cosine double")
            dim = first[0]
        bucket = md5_bucket_col(vec_col, bucket_hyperplanes, dim)
    elif plane_family == "sin":
        bucket = hyperplane_bucket_col(vec_col, bucket_hyperplanes)
    else:
        raise ValueError(f"plane_family={plane_family!r} not in "
                         "('md5', 'sin')")
    work = work.withColumn("_bkt", bucket)
    return grouped_gram_pairs(work, "_bkt", id_col, vec_col, threshold,
                              group_cap=gram_bucket_cap)


def fuzzy_pairs_edit_distance(df: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id", max_dist: int = 2,
                              q: int = 3) -> DataFrame:
    """String pairs within Levenshtein distance ``max_dist`` via the
    PassJoin partition scheme (Li, Deng, Feng, VLDB 2011) — fuzzy key
    dedup (titles, URLs, product names) without an n² distance matrix.

    Pigeonhole: split every string into ``k+1`` contiguous segments; k
    edits can touch at most k of them, so any partner within distance k
    contains at least one segment VERBATIM, start-shifted by at most k
    (plus ``||a|−|b|| ≤ k``). Candidates come from an equi-join on
    (partner length, segment index, exact segment text) — side A emits
    its k+1 segments, side B emits the ±k start window of substrings
    for each partner length within ±k; shuffle keys are ~|s|/(k+1)-char
    exact substrings, which stay selective even on tiny-vocabulary
    corpora (a positional q-gram count filter was tried first and its
    gram join emitted 11.1M rows for 264 candidates at sf0.1 — grams
    repeat at every position when every key reuses the same few words).
    Only candidates pay the exact ``levenshtein`` verify. Strings at
    least ``(k+1)·q`` long take this path; pairs whose SHORTER member
    is under that go through a length-banded brute sweep over the
    short stratum (strings up to ``(k+1)·q−1+k`` chars — any longer
    partner violates ``||a|−|b|| ≤ k``): equi-join on exact length via a
    (2k+1)-value length fan-out, so the quadratic term is confined to
    same-length short keys and never touches the corpus at large.
    Output: ``a_id, b_id, dist`` with a<b.
    """
    k = max_dist
    thr = (k + 1) * q  # long/short stratum split (kept for API parity)
    base = (df.select(F.col(id_col), F.col(text_col).alias("_s"))
            .where(F.length("_s") >= 1))
    s = ensure_parallelism(base.where(F.length("_s") >= thr)) \
        .withColumn("_l", F.length("_s"))
    # Long-stratum candidates via the PassJoin partition scheme (Li et
    # al., VLDB 2011) instead of positional q-gram counting: split every
    # string into k+1 contiguous segments (k edits can touch at most k
    # of them - pigeonhole), so any partner within distance k contains
    # at least one segment VERBATIM, shifted by at most k. Join key =
    # (partner length, segment index, exact segment text): ~10-char
    # exact substrings stay selective even on tiny-vocabulary corpora,
    # where the q-gram count filter's join exploded (11.1M survivor
    # rows for 264 candidates at sf0.1 - measured; this plan emits
    # thousands). Segment boundaries derive from the A-side length;
    # side B enumerates partner lengths within +-k and the +-k start
    # window, a constant <=(2k+1)^2*(k+1) fan-out per row.
    seg_base = F.floor(F.col("_la") / (k + 1))
    seg_rem = F.col("_la") % (k + 1)
    seg_len = (seg_base
               + F.when(F.col("_i") < seg_rem, 1).otherwise(0))
    seg_start = (F.lit(1) + F.col("_i") * seg_base
                 + F.least(F.col("_i"), seg_rem))
    a = (s.select(F.col(id_col).alias("a_id"),
                  F.col("_l").alias("_la"), F.col("_s").alias("_sa"),
                  F.explode(F.sequence(F.lit(0), F.lit(k))).alias("_i"))
         .withColumn("_len", seg_len)
         .withColumn("_st", seg_start)
         .select("a_id", "_la", "_i",
                 F.expr("substring(_sa, _st, _len)").alias("_seg")))
    bb = (s.select(F.col(id_col).alias("b_id"),
                   F.col("_l").alias("_lb"), F.col("_s").alias("_sb"),
                   F.explode(F.sequence(F.col("_l") - k,
                                        F.col("_l") + k)).alias("_la"))
          .where(F.col("_la") >= thr)
          .select("b_id", "_lb", "_sb", "_la",
                  F.explode(F.sequence(F.lit(0), F.lit(k))).alias("_i"))
          .withColumn("_len", seg_len)
          .withColumn("_st", seg_start))
    lo = F.greatest(F.lit(1), F.col("_st") - k)
    hi = F.least(F.col("_lb") - F.col("_len") + 1, F.col("_st") + k)
    b = (bb.withColumn("_p", F.explode(
            F.when(lo <= hi, F.sequence(lo, hi))
            .otherwise(F.array().cast("array<long>"))))
         .select("b_id", "_la", "_i",
                 F.expr("substring(_sb, _p, _len)").alias("_seg")))
    cand = (a.join(b, on=["_la", "_i", "_seg"])
            .where(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id").distinct())
    ta = s.select(F.col(id_col).alias("a_id"), F.col("_s").alias("_ta"))
    tb = s.select(F.col(id_col).alias("b_id"), F.col("_s").alias("_tb"))
    long_pairs = (cand.join(ta, "a_id").join(tb, "b_id")
                  .withColumn("dist",
                              F.levenshtein("_ta", "_tb").cast("bigint"))
                  .where(F.col("dist") <= k)
                  .select("a_id", "b_id", "dist"))
    # short stratum: shorter member < thr ⇒ both ≤ thr−1+k
    short = (base.where(F.length("_s") <= thr - 1 + k)
             .withColumn("_l", F.length("_s")))
    sa = short.select(F.col(id_col).alias("a_id"), F.col("_s").alias("_ta"),
                      F.col("_l").alias("_la"))
    sb = short.select(F.col(id_col).alias("b_id"), F.col("_s").alias("_tb"),
                      F.col("_l").alias("_lb"),
                      F.explode(F.sequence(F.col("_l") - k,
                                           F.col("_l") + k)).alias("_lj"))
    short_pairs = (sa.join(sb, F.col("_la") == F.col("_lj"))
                   .where((F.col("a_id") < F.col("b_id"))
                          & (F.least(F.col("_la"), F.col("_lb")) < thr))
                   .withColumn("dist",
                               F.levenshtein("_ta", "_tb").cast("bigint"))
                   .where(F.col("dist") <= k)
                   .select("a_id", "b_id", "dist"))
    return long_pairs.unionByName(short_pairs)


def span_dup_stats(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", span_tokens: int = 16) -> DataFrame:
    """Span-level (sub-document) duplication stats — the
    paragraph-dedup signal of CCNet/RefinedWeb-style pipelines, expressed
    over fixed ``span_tokens``-word tiles since the corpus carries no
    paragraph structure: tile each doc, md5-fingerprint each tile, count
    how many DISTINCT docs share each fingerprint corpus-wide, and report
    per doc the fraction of its tiles that also occur elsewhere.

    Plan: tiling is pure array slicing on the scan partitions (zero
    shuffle — same layout as token chunking); then one groupBy on the
    128-bit tile fingerprint and one fingerprint-keyed join back + a
    per-doc count. Shuffles carry (fingerprint, id) pairs only, never
    text. At 100 TB this is the cheapest sub-document dedup signal: tile
    count ≈ token count / span_tokens and every stage is map-side
    combinable.

    Output: ``id_col, n_spans, dup_spans, dup_frac`` (docs shorter than
    one tile still emit their single short tile).
    """
    from .partitioning import ensure_parallelism
    w = (ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
         .where(F.length(F.trim(F.col(text_col))) > 0)
         .withColumn("_ws", words_col(text_col)))
    n = F.size("_ws")
    k = span_tokens
    tiles = (w.select(F.col(id_col), "_ws",
                      F.explode(F.sequence(
                          F.lit(0),
                          F.floor((n + k - 1) / k).cast("int") - 1)).alias("_ti"))
             .select(F.col(id_col),
                     F.md5(F.concat_ws(" ", F.slice(
                         "_ws", F.col("_ti") * k + 1, F.lit(k)))).alias("_fp")))
    occ = tiles.groupBy("_fp").agg(
        F.count_distinct(F.col(id_col)).alias("_docs"))
    per = (tiles.join(occ, "_fp")
           .groupBy(id_col).agg(
               F.count("*").alias("n_spans"),
               F.sum(F.when(F.col("_docs") > 1, 1).otherwise(0)).alias("dup_spans")))
    return per.select(
        F.col(id_col), F.col("n_spans"), F.col("dup_spans"),
        F.round(F.col("dup_spans").cast("double") / F.col("n_spans"), 6)
        .alias("dup_frac"))


def segment_dedup(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", seg_words: int = 10) -> DataFrame:
    """Sub-document REMOVAL dedup (the CCNet paragraph-dedup step, over
    fixed ``seg_words``-word segments since the corpus carries no
    paragraph marks): every segment keeps only its globally FIRST
    occurrence — ordered by (doc id, segment index) — and each document
    is rewritten with its surviving segments re-joined in order.

    Where :func:`span_dup_stats` only MEASURES sub-document duplication,
    this produces the deduplicated corpus itself.

    Plan shape (the part that must hold at 100 TB): segmentation is pure
    array slicing on the scan; the first-occurrence pick is ONE window
    over the segment's 128-bit md5 (the shuffle carries hashes + ids,
    and the window's sort key is (id, index) — never segment text as a
    key); the rewrite is one groupBy on the doc id whose input rows are
    (index, kept-segment) pairs. Two narrow shuffles total, both
    hash-partitioned on high-cardinality keys.

    Output: ``id_col, n_segments, n_kept, text_kept`` (text_kept is ''
    for a document whose every segment lost its race).
    """
    w = (ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
         .where(F.length(F.trim(F.col(text_col))) > 0)
         .withColumn("_ws", words_col(text_col)))
    n = F.size("_ws")
    k = seg_words
    segs = (w.select(F.col(id_col),
                     F.explode(F.sequence(
                         F.lit(0),
                         F.floor((n + k - 1) / k).cast("int") - 1)).alias("_si"),
                     "_ws")
            .select(F.col(id_col), F.col("_si"),
                    F.concat_ws(" ", F.slice(
                        "_ws", F.col("_si") * k + 1, F.lit(k))).alias("_seg")))
    win = Window.partitionBy(F.md5("_seg")).orderBy(F.col(id_col), F.col("_si"))
    ranked = segs.withColumn("_rn", F.row_number().over(win))
    out = (ranked.groupBy(id_col).agg(
        F.count("*").alias("n_segments"),
        F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0))
            .cast("bigint").alias("n_kept"),
        F.array_sort(F.collect_list(
            F.when(F.col("_rn") == 1, F.struct("_si", "_seg")))).alias("_kept")))
    return out.select(
        F.col(id_col), F.col("n_segments"), F.col("n_kept"),
        F.array_join(F.transform("_kept", lambda s: s["_seg"]), " ")
        .alias("text_kept"))
