"""Multimodal plumbing: the Arrow-batched mapInPandas stub must compute
EXACTLY the numbers the declared JVM-expression parity path computes
(operators/multimodal.py extract_features vs extract_features_expr), so
the driver's green hash row on `mm_extract_features` certifies both.
"""

import pytest
from pyspark.sql import functions as F

from datatools_spark.operators import multimodal as MM

from .conftest import count_jobs

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    return (spark.read.parquet(f"{SF}/documents.parquet")
            .select(F.col("doc_id").alias("media_id"),
                    F.encode("text", "utf-8").alias("payload")))


def test_mapinpandas_equals_expr_twin(spark, media):
    dim = 8
    arrow = MM.extract_features(media, dim=dim)
    arrow_flat = arrow.select(
        "media_id",
        *[F.round(F.element_at("features", i + 1), 9).alias(f"f{i}")
          for i in range(dim)])
    expr = MM.extract_features_expr(media, dim=dim).select(
        "media_id", *[F.round(F.col(f"f{i}"), 9).alias(f"f{i}")
                      for i in range(dim)])
    a = {r["media_id"]: tuple(r[f"f{i}"] for i in range(dim))
         for r in arrow_flat.collect()}
    b = {r["media_id"]: tuple(r[f"f{i}"] for i in range(dim))
         for r in expr.collect()}
    assert a == b


def test_extract_features_empty_and_null_payload(spark):
    rows = [(1, b""), (2, None), (3, b"abc")]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r["f0"]
           for r in MM.extract_features_expr(df, dim=2).collect()}
    assert got[1] == 0.0 and got[2] == 0.0
    assert got[3] == pytest.approx(ord("a") / 255.0)


def test_sample_frames_fanout_shape(spark, media):
    out = MM.sample_frames(media, every_n=1)
    # one row per frame 0..len//1000 inclusive; payloads < 1000 bytes → 1 row
    n_media = media.count()
    per = out.groupBy("media_id").count()
    assert per.count() == n_media
    expect = media.select(
        "media_id",
        (F.floor(F.length("payload") / 1000) + 1).alias("e"))
    joined = per.join(expect, "media_id") \
        .where(F.col("count") != F.col("e")).count()
    assert joined == 0


def test_real_decode_path_is_gated(spark, media):
    with pytest.raises(NotImplementedError):
        MM.extract_features(media, decode_stub=False)
    with pytest.raises(NotImplementedError):
        MM.sample_frames(media, decode_stub=False)


def test_resize_plan_never_upscales_and_preserves_aspect(spark):
    from datatools_spark.operators.multimodal import resize_plan
    rows = [(1, 448, 224), (2, 100, 50), (3, 224, 224), (4, 1, 2000)]
    df = spark.createDataFrame(rows, "media_id bigint, width int, height int")
    out = {r["media_id"]: r for r in resize_plan(df, max_side=224).collect()}
    assert (out[1]["out_w"], out[1]["out_h"]) == (224, 112)
    assert (out[2]["out_w"], out[2]["out_h"]) == (100, 50)   # no upscale
    assert out[2]["scale"] == 1.0
    assert (out[3]["out_w"], out[3]["out_h"]) == (224, 224)
    assert out[4]["out_w"] == 1                               # 1-px floor
    assert out[4]["out_h"] == 224


def test_patch_grid_counts_and_coords(spark):
    from datatools_spark.operators.multimodal import patch_grid
    df = spark.createDataFrame([(1, 33, 17)], "media_id bigint, width int, height int")
    rows = patch_grid(df, patch=16).collect()
    # ceil(33/16)=3 x ceil(17/16)=2 -> 6 patches
    assert len(rows) == 6
    coords = {(r["px"], r["py"]) for r in rows}
    assert coords == {(x, y) for x in range(3) for y in range(2)}
    assert len({r["patch_id"] for r in rows}) == 6


def test_patchify_plan_is_shuffle_free(spark):
    from datatools_spark.queries import QUERIES
    plan = QUERIES["mm_patchify"](spark, "/root/testdata/sf0.001") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# Raw-format decoders: REAL pixel/sample math (numpy in mapInPandas),
# checked against hand-computed / pure-Python references on genuine
# binary payloads (negative PCM samples, multi-frame video) that the
# ASCII-corpus driver oracles can't produce.
# ---------------------------------------------------------------------------


def test_decode_raw8_shapes_and_crop():
    import numpy as np
    p = bytes(range(70))
    img = MM.decode_raw8(p, width=32)          # 70 // 32 = 2 rows, 6 cropped
    assert img.shape == (2, 32) and img[1, 0] == 32
    assert MM.decode_raw8(bytes(10), width=32) is None
    assert MM.decode_raw8(None, width=32) is None
    rgb = MM.decode_raw8(bytes(range(96)), width=4, channels=3)
    assert rgb.shape == (8, 4, 3) and rgb[0, 1, 2] == 5
    assert np.array_equal(MM.decode_raw8(p, width=32, height=1),
                          np.arange(32).reshape(1, 32))


def test_raw8_stats_matches_python(spark):
    rows = [(1, bytes([10, 20, 30, 40, 50, 60, 70])),  # w=3 -> 2 rows, crop 70
            (2, bytes([0, 255, 128])),
            (3, bytes([1, 2])),                        # < one row: dropped
            (4, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in MM.raw8_stats(df, width=3).collect()}
    assert set(got) == {1, 2}
    assert (got[1]["height"], got[1]["n_px"], got[1]["sum_px"]) == (2, 6, 210)
    assert got[1]["mean_px"] == 35.0
    assert (got[1]["min_px"], got[1]["max_px"]) == (10, 60)
    assert (got[2]["sum_px"], got[2]["min_px"], got[2]["max_px"]) == (383, 0, 255)


def test_raw8_pool_block_means(spark):
    # 4x4 image, 2x2 pooling -> 2x2 pooled; blocks hand-computed
    img = bytes([0, 2, 10, 12,
                 4, 6, 14, 16,
                 100, 102, 200, 202,
                 104, 106, 204, 206])
    df = spark.createDataFrame([(7, img)], "media_id long, payload binary")
    r = MM.raw8_pool(df, width=4, factor=2).collect()[0]
    assert (r["out_w"], r["out_h"]) == (2, 2)
    assert r["pooled"] == [3.0, 13.0, 103.0, 203.0]


def test_raw8_resize_nearest_identity_and_downsample(spark):
    import numpy as np
    rng = np.random.default_rng(11)
    a = rng.integers(0, 256, size=(6, 8), dtype=np.uint8)
    df = spark.createDataFrame([(1, a.tobytes())], "media_id long, payload binary")
    ident = MM.raw8_resize_nearest(df, width=8, out_w=8, out_h=6).collect()[0]
    assert ident["thumb"] == a.tobytes()
    half = MM.raw8_resize_nearest(df, width=8, out_w=4, out_h=3).collect()[0]
    expect = a[::2, ::2]  # floor(i*6/3)=2i, floor(j*8/4)=2j
    assert bytes(half["thumb"]) == expect.tobytes()


def test_raw8_frame_stats_real_video(spark):
    import hashlib
    import numpy as np
    rng = np.random.default_rng(3)
    vid = rng.integers(0, 256, size=(5, 4, 4), dtype=np.uint8)  # 5 frames 4x4
    payload = vid.tobytes() + b"\x01\x02"  # trailing partial frame cropped
    df = spark.createDataFrame([(9, payload)], "media_id long, payload binary")
    out = {r["frame_idx"]: r
           for r in MM.raw8_frame_stats(df, frame_w=4, frame_h=4,
                                        every_n=2).collect()}
    assert set(out) == {0, 2, 4}
    for fi in (0, 2, 4):
        assert out[fi]["frame_mean"] == pytest.approx(
            float(vid[fi].astype("float64").mean()))
        assert out[fi]["frame_md5"] == hashlib.md5(vid[fi].tobytes()).hexdigest()


def test_pcm16_stats_negative_samples_and_crossings(spark):
    import struct
    samples = [100, -5, 0, -3, 8, 0, -1]
    payload = struct.pack("<7h", *samples) + b"\x07"  # trailing odd byte
    df = spark.createDataFrame([(1, payload)], "media_id long, payload binary")
    r = MM.pcm16_stats(df).collect()[0]
    assert r["n_samp"] == 7
    assert r["sum_amp"] == sum(samples)
    assert r["max_abs"] == 100
    # nonzero signs: + - - + -  -> 3 crossings
    assert r["zero_cross"] == 3
    rms = (sum(s * s for s in samples) / 7) ** 0.5
    assert r["rms"] == pytest.approx(rms)
    assert MM.decode_pcm16(b"\x01") is None


def test_spectrogram_pure_tone_concentrates_in_bin(spark):
    """A pure cosine at bin frequency k0 puts (nearly) all magnitude in
    bin k0; DC payload lands in bin 0. Cross-checked against np.fft."""
    import numpy as np
    from datatools_spark.operators.multimodal import pcm16_spectrogram
    n = 16
    tone = (1000 * np.cos(2 * np.pi * 3 * np.arange(4 * n) / n)) \
        .astype("<i2").tobytes()
    dc = (np.full(2 * n, 500, dtype="<i2")).tobytes()
    df = spark.createDataFrame([(1, bytearray(tone)), (2, bytearray(dc))],
                               "media_id long, payload binary")
    out = pcm16_spectrogram(df)
    rows = {(r["media_id"], r["frame_idx"], r["bin"]): r["mag"]
            for r in out.collect()}
    assert max(k for (m, t, k) in rows if m == 1) == 8
    # tone: bin 3 dominates every frame, >10x any other bin
    for t in range(4):
        b3 = rows[(1, t, 3)]
        others = [v for (m, tt, k), v in rows.items()
                  if m == 1 and tt == t and k != 3]
        assert b3 > 10 * max(others)
    # DC: bin 0 == n * amplitude exactly
    assert abs(rows[(2, 0, 0)] - n * 500) < 1e-6
    # magnitudes match np.fft on the same frames
    x = np.frombuffer(tone, dtype="<i2")[:n].astype("float64")
    fft_mag = np.abs(np.fft.fft(x))[:9]
    got = [rows[(1, 0, k)] for k in range(9)]
    assert np.allclose(got, fft_mag, atol=1e-3)


def test_raw8_ahash_known_bits(spark):
    # 16x16 image: left half 0, right half 200 -> bits = 8 cols of 0/1
    img = bytes(([0] * 8 + [200] * 8) * 16)
    df = spark.createDataFrame([(1, img), (2, bytes(100))],
                               "media_id long, payload binary")
    got = MM.raw8_ahash(df, width=16, grid=8).collect()
    assert len(got) == 1  # short payload dropped
    r = got[0]
    assert r["ahash"] == ("0000" + "1111") * 8
    assert r["n_ones"] == 32


def test_raw8_ahash_threshold_is_strict(spark):
    # constant image: no block exceeds the mean -> all zeros
    df = spark.createDataFrame([(1, bytes([7] * 256))],
                               "media_id long, payload binary")
    r = MM.raw8_ahash(df, width=16, grid=8).collect()[0]
    assert r["ahash"] == "0" * 64 and r["n_ones"] == 0


def test_ahash_pairs_matches_bruteforce(spark):
    import random
    rng = random.Random(7)
    base = [rng.randrange(256) for _ in range(256)]
    payloads = {1: bytes(base), 2: bytes(base)}                 # exact dup
    flip = list(base); flip[0] = (flip[0] + 90) % 256
    payloads[3] = bytes(flip)                                   # near dup
    payloads[4] = bytes(rng.randrange(256) for _ in range(256)) # unrelated
    df = spark.createDataFrame(sorted(payloads.items()),
                               "media_id long, payload binary")
    sig = MM.raw8_ahash(df, width=16, grid=8)
    hashes = {r["media_id"]: r["ahash"] for r in sig.collect()}
    want = {}
    ids = sorted(hashes)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = sum(x != y for x, y in zip(hashes[a], hashes[b]))
            if h <= 7:
                want[(a, b)] = h
    got = {(r["a_id"], r["b_id"]): r["hamming"]
           for r in MM.ahash_pairs(sig, bands=8, max_hamming=7).collect()}
    assert got == want and (1, 2) in got and got[(1, 2)] == 0


def test_pcm16_energy_hash_known_bits(spark):
    import struct
    # 128 samples, all zero except s[0]=1000 (one loud block in frame 0)
    samples = [0] * 128
    samples[0] = 1000
    samples[17] = -5      # frame 1, block 0: |−5| beats silent frame? no —
    samples[30] = 5       # ...give frame 1 two equal quiet blocks instead
    p = struct.pack("<128h", *samples)
    df = spark.createDataFrame([(1, p), (2, p[:100])],
                               "media_id long, payload binary")
    got = MM.pcm16_energy_hash(df).collect()
    assert len(got) == 1  # short clip dropped
    h = got[0]["ehash"]
    assert h[0] == "1" and h[1:8] == "0000000"          # frame 0: cell 0 only
    # frame 1 (cells 8..15): energy 5 at block 0 (s[16..17]) and block 7
    # (s[30..31]); 8*5=40 > 10 ⇒ both bits set, middle blocks 0
    assert h[8] == "1" and h[15] == "1" and h[9:15] == "000000"
    assert h[16:] == "0" * 48 and got[0]["n_ones"] == 3


def test_pcm16_energy_hash_constant_frame_all_zero_bits(spark):
    import struct
    p = struct.pack("<128h", *([3] * 128))   # every block equals its frame avg
    r = MM.pcm16_energy_hash(
        spark.createDataFrame([(1, p)], "media_id long, payload binary")
    ).collect()[0]
    assert r["ehash"] == "0" * 64 and r["n_ones"] == 0


def test_raw8_frame_ahash_and_scene_cut_semantics(spark):
    import random
    rng = random.Random(3)
    f0 = bytes(rng.randrange(256) for _ in range(256))
    f2 = bytes(rng.randrange(256) for _ in range(256))
    video = f0 + f0 + f2          # frame 1 repeats frame 0, frame 2 differs
    df = spark.createDataFrame([(1, video)], "media_id long, payload binary")
    sig = {r["frame_idx"]: r["ahash"]
           for r in MM.raw8_frame_ahash(df).collect()}
    assert len(sig) == 3
    assert sig[0] == sig[1]       # identical frames -> identical hash
    h12 = sum(x != y for x, y in zip(sig[1], sig[2]))
    assert h12 > 0                # different frame content -> hash moves


def _brute_pairs(hashes, max_hamming=7):
    want = {}
    ids = sorted(hashes)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = sum(x != y for x, y in zip(hashes[a], hashes[b]))
            if h <= max_hamming:
                want[(a, b)] = h
    return want


def test_pack_bits_expr_roundtrip(spark):
    from pyspark.sql import functions as F
    cases = ["0" * 64, "1" * 64, "1" + "0" * 63, "0" * 63 + "1",
             "01" * 32, "1" + "0" * 62 + "1"]
    df = spark.createDataFrame([(s,) for s in cases], "h string")
    got = [r[0] for r in
           df.select(MM.pack_bits_expr("h", 64)).collect()]
    # signed 64-bit value whose two's-complement pattern == the bitstring
    want = [int(s, 2) - (1 << 64 if s[0] == "1" else 0) for s in cases]
    assert got == want
    # wrong length raises, not silently mis-packs
    bad = spark.createDataFrame([("0" * 63,)], "h string")
    import pytest as _pytest
    with _pytest.raises(Exception, match="pack_bits_expr"):
        bad.select(MM.pack_bits_expr("h", 64)).collect()


def test_ahash_pairs_hot_bucket_path_is_exact(spark):
    # cap=0 forces EVERY bucket through the sub-band refinement; output
    # must equal brute force (pigeonhole holds at both levels)
    import random
    rng = random.Random(11)
    base = [rng.randrange(256) for _ in range(256)]
    payloads = {1: bytes(base), 2: bytes(base)}
    for i in range(3, 12):
        mut = list(base)
        for _ in range(rng.randrange(1, 40)):
            mut[rng.randrange(256)] = rng.randrange(256)
        payloads[i] = bytes(mut)
    df = spark.createDataFrame(sorted(payloads.items()),
                               "media_id long, payload binary")
    sig = MM.raw8_ahash(df, width=16, grid=8)
    hashes = {r["media_id"]: r["ahash"] for r in sig.collect()}
    want = _brute_pairs(hashes)
    got = {(r["a_id"], r["b_id"]): r["hamming"]
           for r in MM.ahash_pairs(sig, bands=8, max_hamming=7,
                                   hot_bucket_cap=0).collect()}
    assert got == want and want  # non-trivial case


def test_ahash_pairs_identical_hash_clique_expansion(spark):
    # 5 byte-identical images -> one distinct hash -> C(5,2)=10 pairs at
    # hamming 0 via the group expansion (never through the band join)
    img = bytes(([0] * 8 + [200] * 8) * 16)
    df = spark.createDataFrame([(i, img) for i in range(1, 6)],
                               "media_id long, payload binary")
    sig = MM.raw8_ahash(df, width=16, grid=8)
    got = {(r["a_id"], r["b_id"]): r["hamming"]
           for r in MM.ahash_pairs(sig).collect()}
    assert len(got) == 10 and set(got.values()) == {0}


def test_ahash_pairs_candidate_mass_guard(spark):
    import pytest as _pytest
    import random
    rng = random.Random(5)
    rows = [(i, bytes(rng.randrange(256) for _ in range(256)))
            for i in range(1, 20)]
    sig = MM.raw8_ahash(
        spark.createDataFrame(rows, "media_id long, payload binary"))
    with _pytest.raises(RuntimeError, match="candidate mass"):
        MM.ahash_pairs(sig, max_candidate_mass=0).count()
    # generous budget: passes and matches the unguarded run
    a = {tuple(r) for r in
         MM.ahash_pairs(sig, max_candidate_mass=10**9).collect()}
    b = {tuple(r) for r in MM.ahash_pairs(sig).collect()}
    assert a == b


def test_pair_candidate_mass_matches_manual(spark):
    df = spark.createDataFrame(
        [(1, "0" * 64), (2, "0" * 64), (3, "1" * 64), (4, "1" * 32 + "0" * 32)],
        "media_id long, ahash string")
    out = {r["band"]: r for r in
           MM.pair_candidate_mass(df, bands=8).collect()}
    assert len(out) == 8
    # distinct hashes: 3. bands 0-3 (low 32 bits): keys 0,0,255 -> one
    # bucket of 2 -> mass 1; bands 4-7: keys 0,255,255 -> mass 1
    for b in range(8):
        assert out[b]["candidate_mass"] == 1
        assert out[b]["max_bucket"] == 2
        assert out[b]["n_buckets"] == 2


def test_pack_bits_words_roundtrip(spark):
    cases = ["0" * 256, "1" * 256, ("10" * 32 + "0" * 192),
             "0" * 255 + "1"]
    df = spark.createDataFrame([(s,) for s in cases], "h string")
    got = [r[0] for r in
           df.select(MM.pack_bits_words_expr("h", 256)).collect()]
    for s, words in zip(cases, got):
        assert len(words) == 4
        for wi, w in enumerate(words):
            chunk = s[wi * 64:(wi + 1) * 64]
            assert w == int(chunk, 2) - (1 << 64 if chunk[0] == "1" else 0)


def test_wide_pairs_256bit_matches_bruteforce(spark):
    # 256-bit grid=16 aHash (per-pixel threshold at the image mean):
    # the wide engine (8 bands x 32-bit keys) must equal brute force
    import random
    rng = random.Random(23)
    base = [rng.randrange(256) for _ in range(256)]
    payloads = {1: bytes(base), 2: bytes(base)}            # exact dup
    for i in range(3, 14):
        mut = list(base)
        for _ in range(rng.randrange(1, 30)):
            mut[rng.randrange(256)] = rng.randrange(256)
        payloads[i] = bytes(mut)
    df = spark.createDataFrame(sorted(payloads.items()),
                               "media_id long, payload binary")
    sig = MM.raw8_ahash(df, width=16, grid=16)
    hashes = {r["media_id"]: r["ahash"] for r in sig.collect()}
    assert all(len(h) == 256 for h in hashes.values())
    for mh, bands in [(7, 8), (15, 16)]:
        want = _brute_pairs(hashes, max_hamming=mh)
        got = {(r["a_id"], r["b_id"]): r["hamming"]
               for r in MM.ahash_pairs(sig, bands=bands, max_hamming=mh,
                                       nbits=256).collect()}
        assert got == want, (mh, bands)
    assert (1, 2) in _brute_pairs(hashes, 7)   # the clique case exercised


def test_wide_pairs_candidate_mass_guard(spark):
    # clustered corpus (single-pixel mutations of one base image) so
    # band keys genuinely collide: with 32-bit keys, 30 random images
    # would give mass 0 — the guard must price REAL collisions
    import pytest as _pytest
    import random
    rng = random.Random(31)
    base = [rng.randrange(256) for _ in range(256)]
    rows = []
    for i in range(30):
        mut = list(base)
        mut[rng.randrange(256)] = rng.randrange(256)
        rows.append((i, bytes(mut)))
    sig = MM.raw8_ahash(
        spark.createDataFrame(rows, "media_id long, payload binary"),
        width=16, grid=16)
    with _pytest.raises(RuntimeError, match="candidate mass"):
        MM.ahash_pairs(sig, bands=8, max_hamming=7, nbits=256,
                       max_candidate_mass=0).count()
    # generous budget passes and equals the unguarded run
    a = {tuple(r) for r in
         MM.ahash_pairs(sig, bands=8, max_hamming=7, nbits=256,
                        max_candidate_mass=10**9).collect()}
    b = {tuple(r) for r in
         MM.ahash_pairs(sig, bands=8, max_hamming=7, nbits=256).collect()}
    assert a == b and a


def test_degenerate_corpus_fail_fasts_through_query_path(spark, tmp_path):
    """The 64-bit media pair queries carry the candidate-mass pre-flight
    BY DEFAULT (max_candidate_mass="auto"): a planted degenerate corpus
    — 256 distinct aHashes that differ only inside one 8-bit band, so
    every pair collides in the other 7 bands (mass ~7·C(256,2), far over
    the auto budget of 64·bands·n) — must be REFUSED through the
    ordinary QUERY path, before any pair shuffle."""
    import pytest as _pytest
    from datatools_spark.queries import QUERIES

    lo, hi = "!", "~"   # ASCII 33 / 126 — block means far from global mean

    def img_text(pattern: int) -> str:
        # 16x16 chars; aHash(width=16, grid=8) blocks are 2x2, bits
        # row-major. Rows 0-1 (block-row 0 = one 8-bit band): block j
        # high iff bit j of pattern. Rows 2-15: block-rows alternate
        # all-low/all-high - 56 bits identical across the corpus.
        r01 = "".join((hi if (pattern >> j) & 1 else lo) * 2
                      for j in range(8))
        rows = [r01, r01]
        for br in range(1, 8):
            rows += [(hi if br % 2 else lo) * 16] * 2
        return "".join(rows)

    rows = [(i, img_text(i), "en", "synthetic", 256) for i in range(256)]
    (spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
     .write.parquet(f"{tmp_path}/documents.parquet"))

    with _pytest.raises(RuntimeError, match="candidate mass"):
        QUERIES["mm_ahash_pairs"](spark, str(tmp_path)).count()


def test_pair_engines_leave_no_session_cache(spark):
    """Cache hygiene (r5): the pair engines use lazy local checkpoints,
    not persist() — a long-lived session running many corpora must not
    accumulate entries in the session's cache registry (persist()d plans
    are pinned there until an explicit unpersist; checkpoint blocks are
    reference-tracked and freed on GC). Run both engines over distinct
    corpora and assert the cache manager holds nothing. (Other suites'
    operators persist() legitimately — clear first so the assertion is
    about THESE calls, not shared-session leftovers.)"""
    import random
    spark.catalog.clearCache()
    rng = random.Random(11)
    for seed in (1, 2):
        rows = [(i, bytes((rng.randrange(256)) for _ in range(256)))
                for i in range(seed * 10, seed * 10 + 12)]
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        MM.ahash_pairs(MM.raw8_ahash(df, width=16, grid=8)).collect()
        MM.ahash_pairs(MM.raw8_ahash(df, width=16, grid=16),
                       bands=8, nbits=256).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_auto_mass_budget_passes_healthy_corpora(spark):
    """r5 self-review regression: the auto budget must include the
    STRUCTURAL random-collision term — a linear-only budget refused
    healthy 64-bit corpora past ~32k distinct hashes. 40k uniform
    hashes must construct (pre-flight included) without raising, while
    the planted-degenerate query-path test keeps proving refusal."""
    from datatools_spark.operators.dedup import (auto_mass_budget,
                                                 packed_hamming_pairs)
    from pyspark.sql import functions as F
    sig = spark.range(40_000).select(
        F.col("id").alias("media_id"),
        F.xxhash64(F.col("id")).alias("_h"))
    # construction runs hot-bucket detection + the auto mass pre-flight
    packed_hamming_pairs(sig, "_h", 64, 8, 7, "media_id",
                         max_candidate_mass="auto")
    # formula shape: structural term dominates for narrow keys at this
    # n; stays negligible for 32-bit wide keys until ~1e9
    n = 40_000
    assert auto_mass_budget(n, 8, 8) > (8 * 8 * n * n) >> 9  # > E[mass]
    assert auto_mass_budget(n, 8, 32) < 70 * 8 * n           # ~linear

    # r11 stake: the structural admission is CAPPED at CAP·bands·n —
    # past ~2.1e6 distinct 64-bit hashes the inherent n²/2^(w+1) mass
    # is no longer feasible-shaped (bench/pair_xl.py: 1e8 hashes at
    # w=8 would owe 1.6e14 verified candidates) and auto must refuse
    # toward packed_wide_pairs rather than admit it. Budget becomes
    # LINEAR in n past the knee, and a 1e8-hash narrow corpus's
    # inherent mass exceeds it by orders of magnitude.
    from datatools_spark.operators.dedup import (MASS_BUDGET_FACTOR,
                                                 STRUCTURAL_CAP_PER_HASH)
    big = 100_000_000
    cap_budget = (MASS_BUDGET_FACTOR + STRUCTURAL_CAP_PER_HASH) * 8 * big
    assert auto_mass_budget(big, 8, 8) == cap_budget
    assert (8 * 8 * big * big) >> 9 > 10 * cap_budget
    # the knee leaves the 40k healthy corpus (and everything the r5
    # self-review protected) untouched: cap inactive there
    assert auto_mass_budget(n, 8, 8) == 64 * 8 * n + ((8 * 8 * n * n) >> 9)


def test_hot_bucket_over_budget_refuses_on_detection_job_alone(spark):
    """r11 (staked by bench/pair_xl.py): when the hot buckets' LOWER
    BOUND on post-refinement mass — uniform sub-band spread, the Jensen
    minimum — already exceeds the budget, packed_hamming_pairs must
    refuse off the detection aggregation ALONE, without building the
    sub-banded index (at 1e8 all-hot hashes that index is a 6.4e9-row
    explode + aggregate; the early refusal is the difference between
    seconds and minutes of pre-flight). Pinned by job count: exactly
    the one detection job runs before the raise."""
    import pytest as _pytest
    from pyspark.sql import functions as F
    from datatools_spark.operators.dedup import packed_hamming_pairs

    # 6000 DISTINCT hashes sharing band 0's 8-bit key (low byte 7):
    # one hot bucket (6000 > cap 4096); ideal-refinement lower bound
    # ~1.1e6 candidates >> the explicit 1000 budget
    sig = spark.range(6000).select(
        F.col("id").alias("media_id"),
        F.shiftleft(F.col("id"), 8).bitwiseOR(F.lit(7)).alias("_h"))

    def refuse():
        with _pytest.raises(RuntimeError, match="IDEAL sub-band"):
            packed_hamming_pairs(sig, "_h", 64, 8, 7, "media_id",
                                 max_candidate_mass=1000)
    _, n_jobs = count_jobs(spark, refuse)
    # the ONE detection aggregation (AQE splits the collect into <= 3
    # jobs: shuffle map + result, plus the checkpoint seed); the point
    # is that the sub-banded index's two _mass collects never ran —
    # their absence is what pair_xl measures as minutes -> seconds
    assert 1 <= n_jobs <= 3, f"early refusal ran {n_jobs} jobs"

    # budget BETWEEN the lower bound (~6.6e6 across the 6 hot buckets)
    # and the exact refined mass (~6.5e8, dominated by the constant
    # high sub-bands): the early under-estimate must NOT refuse — the
    # exact post-refinement check catches it with the late message
    with _pytest.raises(RuntimeError, match="after hot-bucket"):
        packed_hamming_pairs(sig, "_h", 64, 8, 7, "media_id",
                             max_candidate_mass=10**7)

    # generous budget: constructs fine (no false refusal anywhere)
    pairs = packed_hamming_pairs(sig, "_h", 64, 8, 7, "media_id",
                                 max_candidate_mass=10**12)
    assert pairs is not None


def test_structural_infeasibility_refuses_closed_form(spark):
    """r11 (staked by bench/pair_xl.py at 1e8): when even a perfectly
    uniform, fully sub-band-refined corpus of n distinct hashes owes
    more than the auto budget — bands·Σ_s jensen(n, w + s_w), a true
    lower bound for ANY corpus since refinement only reduces a
    bucket's mass — packed_hamming_pairs must refuse off the
    budget-resolution aggregate alone: ZERO banding jobs (at 1e8 the
    banding detection alone is an 8e8-row explode + aggregate that
    took 127 s in the probe for the same verdict)."""
    import pytest as _pytest
    from pyspark.sql import functions as F
    from datatools_spark.operators.dedup import (_uniform_min_mass,
                                                 auto_mass_budget,
                                                 packed_hamming_pairs)

    # 16-bit hashes, 8 bands -> 2-bit keys: 20k distinct uniform hashes
    # owe ~1e9 candidates even fully refined, vs an auto budget ~6.7e8
    n = 20_000
    sig = spark.range(n).select(F.col("id").alias("media_id"),
                                F.col("id").alias("_h"))
    sub_w = [2, 2, 2, 2, 2, 2, 1, 1]            # _band_widths(14, 8)
    lb = 8 * sum(_uniform_min_mass(n, 2 + s) for s in sub_w)
    assert lb > auto_mass_budget(n, 8, 2)       # geometry sanity

    def refuse():
        with _pytest.raises(RuntimeError, match="structurally infeasible"):
            packed_hamming_pairs(sig, "_h", 16, 8, 7, "media_id",
                                 max_candidate_mass="auto")
    _, n_jobs = count_jobs(spark, refuse)
    # the one budget-resolution aggregate (plus its checkpoint seed /
    # AQE split): the banding explode, detection, and _mass jobs never
    # ran — that absence is the 1e8 probe's 127 s -> seconds drop
    assert 1 <= n_jobs <= 3, f"closed-form refusal ran {n_jobs} jobs"

    # an explicit INT budget skips the closed-form path (no free
    # n_distinct) and refuses through the measured pre-flights instead
    # — proves the two refusal tiers are distinct code paths
    with _pytest.raises(RuntimeError) as exc:
        packed_hamming_pairs(sig, "_h", 16, 8, 7, "media_id",
                             max_candidate_mass=int(lb) - 1)
    assert "structurally infeasible" not in str(exc.value)


def test_patch_grid_zero_area_images_emit_no_patches(spark):
    """Zero-area metadata rows (width or height 0) must contribute ZERO
    patch rows: Spark's sequence(0, -1) is end-inclusive DESCENDING
    ([0, -1], not empty), so without the guard a width=0 row threw
    DIVIDE_BY_ZERO on _i % nx under ANSI and a height=0 row emitted
    garbage negative coordinates."""
    from datatools_spark.operators.multimodal import patch_grid
    rows = [(1, 32, 32), (2, 0, 32), (3, 32, 0), (4, 0, 0)]
    df = spark.createDataFrame(rows, "media_id long, width int, height int")
    out = patch_grid(df, patch=16).collect()
    assert {r["media_id"] for r in out} == {1}
    assert len(out) == 4                      # 2x2 grid for the real image
    assert all(r["px"] >= 0 and r["py"] >= 0 for r in out)
