"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns plus a typed metadata struct —
the lakehouse-native layout (cf. Spark's built-in ``binaryFile`` source).

Two tiers of decode:

- **Raw formats — fully implemented.** Headerless byte layouts need no
  codec library: RAW8 images (row-major uint8, dims from metadata),
  RAW8 video (stacked frames), PCM16 audio (little-endian int16).
  :func:`raw8_stats`, :func:`raw8_pool`, :func:`raw8_frame_stats` and
  :func:`pcm16_stats` decode with numpy inside ``mapInPandas`` (Arrow
  batches, vectorized per payload — no per-row Python dispatch) and are
  hash-checked against byte-level SQL oracles (queries ``mm_decode_stats``,
  ``mm_pool2x2``, ``mm_pcm_stats``, ``mm_frame_stats``).
- **Compressed codecs — gated.** JPEG/PNG/MP3/H.264 need PIL/ffmpeg/
  librosa, absent in this environment; passing ``decode_stub=False`` to
  the legacy entry points raises ``NotImplementedError``. Swapping a raw
  decoder for a codec call is a one-function change — the distributed
  shape (Arrow batch in, small feature rows out) does not move.

Scale notes: binary payloads dominate row size → ``maxPartitionBytes``
governs scan parallelism; feature extraction is a ``mapInPandas`` over
Arrow batches (no per-row Python), and outputs (small feature vectors)
should be written to a separate table to avoid re-shipping payload bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, LongType, StringType, StructField,
    StructType,
)

__all__ = [
    "MEDIA_SCHEMA", "extract_features",
    "extract_features_expr", "sample_frames", "resize_plan", "patch_grid",
    "decode_raw8", "decode_pcm16", "raw8_stats", "raw8_pool",
    "raw8_resize_nearest", "raw8_frame_stats", "pcm16_stats",
    "pcm16_spectrogram", "raw8_ahash", "ahash_pairs", "pcm16_energy_hash",
    "raw8_frame_ahash", "pack_bits_expr", "pack_bits_words_expr",
    "pair_candidate_mass", "pcm16_resample_stats",
]

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),       # image | audio | video
    StructField("payload", BinaryType(), True),
    StructField("meta", StructType([
        StructField("mime", StringType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("duration_s", DoubleType(), True),
        StructField("sample_rate", LongType(), True),
    ]), True),
])


def _fake_feature(payload: bytes | None, dim: int) -> list[float]:
    """Deterministic stand-in for a real decoder+encoder: feature i is
    byte ``payload[i % len]`` scaled to [0, 1] — chosen because the very
    same number is expressible as a pure SQL scalar in any engine
    (``ascii(substr(...)) / 255``), making the stub ORACLE-CHECKABLE
    (see :func:`extract_features_expr`), not just stable."""
    if payload is None:
        return [0.0] * dim
    return [float(payload[i % len(payload)]) / 255.0 if payload else 0.0
            for i in range(dim)]


def extract_features_expr(df: DataFrame, payload_col: str = "payload",
                          id_col: str = "media_id", dim: int = 8) -> DataFrame:
    """JVM-expression twin of :func:`extract_features`'s stub: one column
    per feature, ``f{i} = byte(payload, i % n) / 255``, via
    decode→substr→ascii (byte == codepoint for ASCII payloads — asserted
    by the equality test against the mapInPandas path).

    This is the declared parity path: whole-stage-codegen'd, no Python in
    the loop, and reproducible in DuckDB for the correctness oracle. The
    Arrow-batched :func:`extract_features` stays the shape a real
    decoder+encoder would use at 100 TB.
    Output: ``id_col, f0 .. f{dim-1}`` (doubles in [0, 1]).
    """
    s = F.decode(F.col(payload_col), "UTF-8")
    n = F.length(s)
    cols = []
    for i in range(dim):
        byte_i = F.ascii(F.substring(s, (F.lit(i) % n) + F.lit(1), F.lit(1)))
        f = F.when(n.isNull() | (n == 0), F.lit(0.0)) \
             .otherwise(byte_i.cast("double") / F.lit(255.0))
        cols.append(f.alias(f"f{i}"))
    return df.select(F.col(id_col), *cols)


def extract_features(df: DataFrame, payload_col: str = "payload",
                     id_col: str = "media_id", dim: int = 8,
                     decode_stub: bool = True) -> DataFrame:
    """Batchwise feature extraction via ``mapInPandas`` (Arrow batches).

    Real pipeline would decode (PIL/ffmpeg/librosa) and run an encoder per
    batch; here the decode step is a deterministic stub (see module note).
    Output: ``(media_id, features array<double>)``.
    """
    if not decode_stub:
        raise NotImplementedError(
            "compressed-codec decoding (JPEG/PNG/MP3) requires image/audio "
            "libraries not present in this environment; raw formats are "
            "fully decoded by raw8_stats/raw8_pool/pcm16_stats below")

    out_schema = StructType([
        StructField(id_col, LongType(), False),
        StructField("features", ArrayType(DoubleType()), True),
    ])

    def _batches(it: Iterator):
        import pandas as pd
        for pdf in it:
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "features": [_fake_feature(p, dim) for p in pdf[payload_col]],
            })

    return df.select(id_col, payload_col).mapInPandas(_batches, out_schema)


def sample_frames(df: DataFrame, payload_col: str = "payload",
                  id_col: str = "media_id", every_n: int = 10,
                  decode_stub: bool = True) -> DataFrame:
    """Video frame sampling plumbing: one output row per sampled frame.

    Stub emits ``n_bytes // (every_n * 1000) + 1`` synthetic frame
    indices (the sequence is END-INCLUSIVE: the head frame is always
    sampled, then one per stride — an empty payload still yields its
    head frame) so the explode/fan-out shape (and its effect on
    partition sizing) is exercised without a codec. The oracle-checked
    ``mm_frame_sample`` query pins this exact count.
    """
    if not decode_stub:
        raise NotImplementedError(
            "compressed-video frame decode requires ffmpeg bindings; "
            "RAW8 stacked-frame video is fully decoded by raw8_frame_stats")
    n_frames = (F.length(F.col(payload_col)) / F.lit(every_n * 1000)).cast("int")
    return (df.withColumn("frame_idx",
                          F.explode(F.sequence(F.lit(0), F.greatest(n_frames, F.lit(0)))))
            .select(F.col(id_col), "frame_idx",
                    F.md5(F.concat(F.col(payload_col),
                                   F.col("frame_idx").cast("string"))).alias("frame_fingerprint")))


def resize_plan(df: DataFrame, max_side: int = 224,
                width_col: str = "width", height_col: str = "height",
                id_col: str = "media_id") -> DataFrame:
    """Aspect-preserving thumbnail planning — the metadata half of an
    image resize (the pixel op itself is the stubbed decode path): scale
    = max_side / longest side (never upscale), output dims floored with
    a 1-px floor guard. Pure row-local arithmetic: plans for 100 TB of
    images are computed in one codegen'd scan of the (small) metadata
    columns — payload bytes untouched.

    Output: ``id_col, width, height, scale, out_w, out_h``.
    """
    w, h = F.col(width_col).cast("double"), F.col(height_col).cast("double")
    longest = F.greatest(w, h)
    scale = F.when(longest > max_side, F.lit(float(max_side)) / longest) \
             .otherwise(F.lit(1.0))
    out_w = F.greatest(F.floor(w * scale), F.lit(1)).cast("bigint")
    out_h = F.greatest(F.floor(h * scale), F.lit(1)).cast("bigint")
    return df.select(F.col(id_col), F.col(width_col), F.col(height_col),
                     F.round(scale, 6).alias("scale"),
                     out_w.alias("out_w"), out_h.alias("out_h"))


def patch_grid(df: DataFrame, patch: int = 16,
               width_col: str = "width", height_col: str = "height",
               id_col: str = "media_id") -> DataFrame:
    """ViT-style patch tiling plumbing: one row per ``patch``×``patch``
    tile of each image (ceil-division grid, edge tiles clipped by the
    consumer). The fan-out is a computed-sequence explode — zero
    shuffle, rows inherit the scan's partitioning; per-patch work
    (the decode+crop, stubbed here) would run where the bytes already
    live. Output: ``id_col, px, py, patch_id`` with ``patch_id`` a
    deterministic md5 of (id, px, py) — the join key a downstream
    encoder table would use.
    """
    nx = F.ceil(F.col(width_col) / F.lit(patch)).cast("int")
    ny = F.ceil(F.col(height_col) / F.lit(patch)).cast("int")
    n = (nx * ny).cast("int")
    # zero-area guard: sequence(0, -1) is NOT empty (Spark defaults the
    # step to -1 when start > stop, emitting [0, -1]) and _i % 0 throws
    # under ANSI — a width=0/height=0 row must contribute zero patches,
    # not a job failure or garbage negative coordinates
    g = (df.where((nx > 0) & (ny > 0))
         .select(F.col(id_col), nx.alias("_nx"),
                 F.explode(F.sequence(F.lit(0), n - 1)).alias("_i")))
    px = (F.col("_i") % F.col("_nx")).cast("bigint")
    py = F.floor(F.col("_i") / F.col("_nx")).cast("bigint")
    return g.select(
        F.col(id_col), px.alias("px"), py.alias("py"),
        F.md5(F.concat_ws(":", F.col(id_col).cast("string"),
                          px.cast("string"), py.cast("string")))
        .alias("patch_id"))


# ---------------------------------------------------------------------------
# Raw-format decoders — REAL pixel/sample math, no codec library needed.
#
# RAW8 image: row-major uint8, one byte per pixel (grayscale) or
# ``channels`` interleaved planes; dimensions come from metadata, not a
# header — exactly how camera-RAW/NumPy-memmap corpora ship. PCM16 audio:
# headerless little-endian int16 (WAV minus the RIFF header). Decoding is
# ``np.frombuffer`` + reshape — a true decode (bytes → typed pixel/sample
# tensor), after which pooling / resizing / framing are ordinary array
# math. Everything below runs inside ``mapInPandas`` so each Arrow batch
# is decoded where its bytes live; only small numeric rows come out.
# ---------------------------------------------------------------------------


def decode_raw8(payload: bytes, width: int, height: int | None = None,
                channels: int = 1):
    """Decode a headerless RAW8 payload into an ``(h, w[, c])`` uint8
    array. ``height=None`` infers h = len // (width*channels), cropping
    trailing bytes (partial final row) — the tolerant-ingest convention.
    Returns None for payloads shorter than one full row."""
    import numpy as np
    if payload is None:
        return None
    row = width * channels
    h = (len(payload) // row) if height is None else height
    if h < 1 or len(payload) < h * row:
        return None
    a = np.frombuffer(payload, dtype=np.uint8, count=h * row)
    return a.reshape(h, width, channels) if channels > 1 else a.reshape(h, width)


def decode_pcm16(payload: bytes):
    """Decode headerless PCM16-LE audio into an int16 sample array
    (trailing odd byte cropped). Returns None for < 1 sample."""
    import numpy as np
    if payload is None or len(payload) < 2:
        return None
    n = len(payload) // 2
    return np.frombuffer(payload, dtype="<i2", count=n)


def raw8_stats(df: DataFrame, width: int, payload_col: str = "payload",
               id_col: str = "media_id",
               ahash_grid: int | None = None) -> DataFrame:
    """Per-image pixel statistics over decoded RAW8 payloads: height,
    exact pixel sum (int — order-independent), mean/min/max.

    Output: ``id_col, height, n_px, sum_px, mean_px, min_px, max_px``;
    rows with payloads shorter than one image row are dropped.

    ``ahash_grid``: also emit the :func:`raw8_ahash` perceptual hash
    (``ahash``, ``n_ones`` — identical bit construction) from the SAME
    decode, for pipelines that gate on stats and then dedup on the
    hash: two mapInPandas decode passes over the corpus become one
    (opt guide §4 — the decode is the expensive boundary crossing).
    Images shorter than ``width`` rows get a NULL hash (exactly the
    rows :func:`raw8_ahash` drops)."""
    fields = [
        StructField(id_col, LongType(), False),
        StructField("height", LongType(), True),
        StructField("n_px", LongType(), True),
        StructField("sum_px", LongType(), True),
        StructField("mean_px", DoubleType(), True),
        StructField("min_px", LongType(), True),
        StructField("max_px", LongType(), True),
    ]
    if ahash_grid is not None:
        if width % ahash_grid != 0:
            raise ValueError(
                f"width={width} not divisible by ahash_grid={ahash_grid}")
        fields += [StructField("ahash", StringType(), True),
                   StructField("n_ones", LongType(), True)]
    out_schema = StructType(fields)
    blk = (width // ahash_grid) if ahash_grid else None

    def _batches(it: Iterator):
        import pandas as pd
        for pdf in it:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                img = decode_raw8(p, width)
                if img is None:
                    continue
                s = int(img.sum(dtype="int64"))
                # means emitted UNROUNDED — callers round with F.round
                # (HALF_UP, matching SQL) — Python round() is HALF_EVEN
                # and flaps on exact .xxxxxx5 values
                row = (int(mid), img.shape[0], img.size, s,
                       s / img.size,
                       int(img.min()), int(img.max()))
                if ahash_grid is not None:
                    if img.shape[0] >= width:
                        sq = img[:width, :width].astype("float64")
                        pooled = sq.reshape(ahash_grid, blk, ahash_grid,
                                            blk).mean(axis=(1, 3))
                        bits = pooled > sq.mean()
                        row += ("".join("1" if b else "0"
                                        for b in bits.ravel()),
                                int(bits.sum()))
                    else:
                        row += (None, None)
                rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return df.select(id_col, payload_col).mapInPandas(_batches, out_schema)


def raw8_pool(df: DataFrame, width: int, factor: int = 2,
              payload_col: str = "payload",
              id_col: str = "media_id") -> DataFrame:
    """Block-mean downsample (``factor``×``factor`` average pooling) of
    RAW8 images — the real pixel half of :func:`resize_plan`. Emits the
    pooled image as an ``array<double>`` (row-major) plus its dims.

    Output: ``id_col, out_w, out_h, pooled array<double>`` (each value
    the exact block mean, rounded to 6 dp). Images smaller than one
    ``factor``×``factor`` block are dropped.
    """
    out_schema = StructType([
        StructField(id_col, LongType(), False),
        StructField("out_w", LongType(), True),
        StructField("out_h", LongType(), True),
        StructField("pooled", ArrayType(DoubleType()), True),
    ])

    def _batches(it: Iterator):
        import numpy as np
        import pandas as pd
        for pdf in it:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                img = decode_raw8(p, width)
                if img is None:
                    continue
                h, w = img.shape
                oh, ow = h // factor, w // factor
                if oh < 1 or ow < 1:
                    continue
                blk = img[:oh * factor, :ow * factor] \
                    .reshape(oh, factor, ow, factor) \
                    .astype("float64").mean(axis=(1, 3))
                rows.append((int(mid), ow, oh, blk.ravel().tolist()))
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return df.select(id_col, payload_col).mapInPandas(_batches, out_schema)


def raw8_resize_nearest(df: DataFrame, width: int, out_w: int, out_h: int,
                        payload_col: str = "payload",
                        id_col: str = "media_id") -> DataFrame:
    """Nearest-neighbor resize of RAW8 images to a fixed ``out_w×out_h``
    (the thumbnail op :func:`resize_plan` plans): index-map sampling
    ``src = floor(dst * in/out)``, emitted as a new RAW8 binary payload —
    suitable for writing to a thumbnail table without re-shipping
    originals. Output: ``id_col, out_w, out_h, thumb binary``."""
    out_schema = StructType([
        StructField(id_col, LongType(), False),
        StructField("out_w", LongType(), True),
        StructField("out_h", LongType(), True),
        StructField("thumb", BinaryType(), True),
    ])

    def _batches(it: Iterator):
        import numpy as np
        import pandas as pd
        for pdf in it:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                img = decode_raw8(p, width)
                if img is None:
                    continue
                h, w = img.shape
                ys = (np.arange(out_h) * h) // out_h
                xs = (np.arange(out_w) * w) // out_w
                rows.append((int(mid), out_w, out_h,
                             img[np.ix_(ys, xs)].tobytes()))
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return df.select(id_col, payload_col).mapInPandas(_batches, out_schema)


def raw8_frame_stats(df: DataFrame, frame_w: int, frame_h: int,
                     every_n: int = 1, payload_col: str = "payload",
                     id_col: str = "media_id") -> DataFrame:
    """RAW8 *video* decode: a payload is ``n_frames`` stacked
    ``frame_h×frame_w`` images; sample every ``every_n``-th frame and emit
    per-frame mean + an md5 content fingerprint of the frame's bytes.
    This is :func:`sample_frames` with the decode real instead of
    synthetic. Output: ``id_col, frame_idx, frame_mean, frame_md5``;
    payloads shorter than one frame are dropped.
    """
    import hashlib
    fsz = frame_w * frame_h
    out_schema = StructType([
        StructField(id_col, LongType(), False),
        StructField("frame_idx", LongType(), True),
        StructField("frame_mean", DoubleType(), True),
        StructField("frame_md5", StringType(), True),
    ])

    def _batches(it: Iterator):
        import numpy as np
        import pandas as pd
        for pdf in it:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                if p is None or len(p) < fsz:
                    continue
                nf = len(p) // fsz
                a = np.frombuffer(p, dtype=np.uint8, count=nf * fsz) \
                    .reshape(nf, frame_h, frame_w)
                for fi in range(0, nf, every_n):
                    fb = a[fi]
                    rows.append((int(mid), fi,
                                 float(fb.mean(dtype="float64")),
                                 hashlib.md5(fb.tobytes()).hexdigest()))
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return df.select(id_col, payload_col).mapInPandas(_batches, out_schema)


def pcm16_stats(df: DataFrame, frame: int = 256,
                payload_col: str = "payload",
                id_col: str = "media_id") -> DataFrame:
    """PCM16 audio features over decoded samples: sample count, exact sum,
    mean amplitude, peak ``|s|``, RMS, and zero-crossing count — the
    classic cheap audio-quality gates (silence / clipping / DC-offset
    detection) a curation pipeline runs before an expensive encoder.

    Output: ``id_col, n_samp, sum_amp, mean_amp, max_abs, rms, zero_cross``.
    ``frame`` is accepted for API parity with hop-windowed variants; the
    whole-clip stats here are frame-size independent."""
    out_schema = StructType([
        StructField(id_col, LongType(), False),
        StructField("n_samp", LongType(), True),
        StructField("sum_amp", LongType(), True),
        StructField("mean_amp", DoubleType(), True),
        StructField("max_abs", LongType(), True),
        StructField("rms", DoubleType(), True),
        StructField("zero_cross", LongType(), True),
    ])

    def _batches(it: Iterator):
        import numpy as np
        import pandas as pd
        for pdf in it:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                s = decode_pcm16(p)
                if s is None:
                    continue
                s64 = s.astype("int64")
                tot = int(s64.sum())
                sq = float((s64 * s64).sum())  # exact: < 2^53
                sgn = np.sign(s64)
                nz = sgn != 0
                zc = int(np.count_nonzero(np.diff(sgn[nz]) != 0))
                rows.append((int(mid), s.size, tot, tot / s.size,
                             int(np.abs(s64).max()),
                             float(np.sqrt(sq / s.size)), zc))
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return df.select(id_col, payload_col).mapInPandas(_batches, out_schema)


def pcm16_spectrogram(df: DataFrame, frame: int = 16, n_frames: int = 4,
                      bins: int = 9, payload_col: str = "payload",
                      id_col: str = "media_id") -> DataFrame:
    """Short-time DFT magnitude spectrogram over PCM16 audio — the
    feature an audio-curation pipeline extracts before bandwidth /
    speech-music gates. Naive real DFT per frame (explicit cos/sin
    sums, NOT np.fft) so the identical arithmetic is expressible in any
    SQL engine: mag[k] = √((Σₙ xₙ·cos(2πkn/N))² + (Σₙ xₙ·sin(2πkn/N))²),
    rounded to 4 dp (magnitudes reach N·32768 ≈ 5e5; at that scale a
    4-dp round absorbs cross-engine libm/summation-order ulps).

    One ``mapInPandas`` pass (Arrow batches, vectorized numpy per
    clip); fan-out ``n_frames × bins`` rows per clip — bounded, like
    sample_frames. Clips shorter than one frame are dropped; partial
    trailing frames are not emitted.
    Output: ``id_col, frame_idx, bin, mag``."""
    out_schema = StructType([
        StructField(id_col, LongType(), False),
        StructField("frame_idx", LongType(), True),
        StructField("bin", LongType(), True),
        StructField("mag", DoubleType(), True),
    ])
    n = int(frame)

    def _batches(it: Iterator):
        import numpy as np
        import pandas as pd
        grid = np.arange(n, dtype="float64")
        cosm = np.stack([np.cos(2 * np.pi * k * grid / float(n))
                         for k in range(bins)])
        sinm = np.stack([np.sin(2 * np.pi * k * grid / float(n))
                         for k in range(bins)])
        for pdf in it:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                s = decode_pcm16(p)
                if s is None or s.size < n:
                    continue
                nf = min(n_frames, s.size // n)
                x = s[:nf * n].astype("float64").reshape(nf, n)
                re = x @ cosm.T        # (nf, bins)
                im = x @ sinm.T
                # HALF_UP via the shared helper, not Python round
                # (HALF_EVEN-on-binary): the SQL twin rounds the same
                # magnitude with decimal semantics, and a .5-boundary
                # value would hash-mismatch the oracle row
                from .similarity import _round_half_up_np
                mag = _round_half_up_np(np.sqrt(re * re + im * im), 4)
                for t in range(nf):
                    for k in range(bins):
                        rows.append((int(mid), t, k, float(mag[t, k])))
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return df.select(id_col, payload_col).mapInPandas(_batches, out_schema)


def pcm16_resample_stats(df: DataFrame, up: int = 4, down: int = 3,
                         payload_col: str = "payload",
                         id_col: str = "media_id") -> DataFrame:
    """Linear sample-rate conversion of PCM16 clips by the rational
    factor ``up/down`` (default 4:3, e.g. 12 kHz → 16 kHz), verified by
    per-clip exact aggregates.

    Output position i maps to source position ``p = i·down/up``; the
    sample is the linear blend ``s[⌊p⌋] + frac·(s[⌊p⌋+1] − s[⌊p⌋])``.
    With a power-of-two ``up``, ``frac ∈ {0, 1/up, …}`` is dyadic, so
    every resampled value — and every sum/sum-of-squares below — is
    EXACT in float64 regardless of summation order: the SQL oracle can
    rebuild bit-identical numbers from the same bytes.

    Arrow-batched ``mapInPandas`` + vectorized numpy gather (the
    sanctioned Python escape hatch for byte payloads — the per-clip loop
    never leaves one Arrow batch); Spark plumbing is a shuffle-free scan.
    A real codec front-end (MP3/AAC) would decode to PCM first — that
    step is env-blocked here (no codec libs), PCM-in is the architecture
    proof. Output: ``id_col, n_in, n_out, sum_out, max_abs_out, rms_out,
    mean_out`` — all UNROUNDED (rms contains an irrational sqrt; the
    oracle-parity query layer rounds rms/mean to 6 dp on both sides).
    """
    out_schema = StructType([
        StructField(id_col, LongType(), False),
        StructField("n_in", LongType(), True),
        StructField("n_out", LongType(), True),
        StructField("sum_out", DoubleType(), True),
        StructField("max_abs_out", DoubleType(), True),
        StructField("rms_out", DoubleType(), True),
        StructField("mean_out", DoubleType(), True),
    ])

    def _batches(it: Iterator):
        import numpy as np
        import pandas as pd
        for pdf in it:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                s = decode_pcm16(p)
                if s is None or s.size < 2:
                    continue
                ns = s.size
                n_out = (ns - 1) * up // down + 1
                i = np.arange(n_out, dtype="int64")
                num = i * down
                i0 = num // up
                frac = (num % up).astype("float64") / up
                i1 = np.minimum(i0 + 1, ns - 1)
                sf = s.astype("float64")
                out = sf[i0] + frac * (sf[i1] - sf[i0])
                tot = float(out.sum())          # dyadic values: exact
                sq = float((out * out).sum())   # multiples of up^-2: exact
                rows.append((int(mid), ns, int(n_out), tot,
                             float(np.abs(out).max()),
                             float(np.sqrt(sq / n_out)), tot / n_out))
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return df.select(id_col, payload_col).mapInPandas(_batches, out_schema)


def raw8_ahash(df: DataFrame, width: int = 16, grid: int = 8,
               payload_col: str = "payload",
               id_col: str = "media_id") -> DataFrame:
    """Perceptual average-hash (aHash) of RAW8 images — the standard
    cheap image-dedup fingerprint (cf. pHash family): crop the leading
    ``width``×``width`` square, block-mean it down to ``grid``×``grid``,
    threshold each cell at the global mean, read the bits row-major.

    Every intermediate is dyadic (block means are int-sums / block²,
    the global mean is the int-sum / width², both powers of two), so the
    strict ``>`` threshold is bit-exact in any IEEE engine and the hash
    is reproducible from the raw bytes by a SQL oracle.

    Output: ``id_col, ahash`` (a ``grid²``-char '0'/'1' string — kept as
    a string so band keys are a substring and Hamming is a positional
    compare, both pure SQL) plus ``n_ones``. Images shorter than
    ``width²`` bytes are dropped. Decode is numpy inside ``mapInPandas``
    (Arrow batches); the plan is a shuffle-free scan.
    """
    if width % grid != 0:
        raise ValueError(f"width={width} not divisible by grid={grid}")
    blk = width // grid
    out_schema = StructType([
        StructField(id_col, LongType(), False),
        StructField("ahash", StringType(), True),
        StructField("n_ones", LongType(), True),
    ])

    def _batches(it: Iterator):
        import numpy as np
        import pandas as pd
        for pdf in it:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                img = decode_raw8(p, width)
                if img is None or img.shape[0] < width:
                    continue
                sq = img[:width, :width].astype("float64")
                pooled = sq.reshape(grid, blk, grid, blk).mean(axis=(1, 3))
                bits = pooled > sq.mean()
                rows.append((int(mid),
                             "".join("1" if b else "0"
                                     for b in bits.ravel()),
                             int(bits.sum())))
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return df.select(id_col, payload_col).mapInPandas(_batches, out_schema)


def pack_bits_expr(hash_col: str, nbits: int = 64):
    """Column expression packing an ``nbits``-char '0'/'1' bitstring
    (MSB first) into ONE BIGINT whose bit pattern equals the string —
    so Hamming distance is ``bit_count(a ^ b)`` (one JVM instruction
    pair) instead of an ``nbits``-step per-char SQL aggregate (~50×
    per-candidate, measured: mm_ahash_pairs 15.6 → <2 s at sf0.1).

    Packs via two ≤32-bit halves (``conv`` yields values < 2^32 that
    cast to BIGINT safely; a single 64-char ``conv`` could exceed the
    signed range) and recombines with a shift — Java ``<<`` wraps to
    the exact two's-complement bit pattern, which is all bitwise ops
    need. Rows whose bitstring length ≠ ``nbits`` raise (a silent
    mis-pack would corrupt band keys and break the pigeonhole
    guarantee).
    """
    if nbits < 1 or nbits > 64:
        raise ValueError(f"nbits={nbits} not in [1, 64]")
    if nbits <= 32:
        packed = F.expr(
            f"cast(conv(substring({hash_col}, 1, {nbits}), 2, 10) "
            "as bigint)")
    else:
        hi = f"cast(conv(substring({hash_col}, 1, {nbits - 32}), 2, 10) " \
             "as bigint)"
        lo = f"cast(conv(substring({hash_col}, {nbits - 31}, 32), 2, 10) " \
             "as bigint)"
        packed = F.expr(f"shiftleft({hi}, 32) | {lo}")
    return F.when(F.length(hash_col) == nbits, packed).otherwise(
        F.expr(f"raise_error('pack_bits_expr: expected {nbits}-char "
               f"bitstring in {hash_col}')")).cast("long")


def pack_bits_words_expr(hash_col: str, nbits: int):
    """Column expression packing an ``nbits``-char '0'/'1' bitstring
    (``nbits`` a multiple of 64) into an ``array<bigint>`` of
    ``nbits/64`` words — word *i* is :func:`pack_bits_expr` of chars
    ``[64i+1, 64i+64]``. The wide-signature layout consumed by
    :func:`~datatools_spark.operators.dedup.packed_wide_pairs`:
    Hamming distance is a 4-element ``zip_with``/``bit_count`` fold for
    a 256-bit hash, and band keys are shift/mask extractions from the
    owning word."""
    if nbits < 64 or nbits % 64 != 0:
        raise ValueError(f"nbits={nbits} must be a positive multiple of 64")
    words = []
    for wi in range(nbits // 64):
        sub = f"substring({hash_col}, {wi * 64 + 1}, 64)"
        hi = f"cast(conv(substring({sub}, 1, 32), 2, 10) as bigint)"
        lo = f"cast(conv(substring({sub}, 33, 32), 2, 10) as bigint)"
        words.append(F.expr(f"shiftleft({hi}, 32) | {lo}").cast("long"))
    packed = F.array(*words)
    return F.when(F.length(hash_col) == nbits, packed).otherwise(
        F.expr(f"raise_error('pack_bits_words_expr: expected {nbits}-char "
               f"bitstring in {hash_col}')"))


def pair_candidate_mass(sig: DataFrame, bands: int = 8,
                        hash_col: str = "ahash",
                        nbits: int = 64) -> DataFrame:
    """Pre-flight cost model for :func:`ahash_pairs`: the EXACT candidate
    mass Σ c·(c−1)/2 per band over DISTINCT-hash buckets — the number of
    verify comparisons the banded join will perform before any
    hot-bucket refinement. Band keys are computed EXACTLY as the engine
    computes them (``shiftrightunsigned(h, b·w) & mask`` over the packed
    hash), so the report prices the real join. Run this (sketch-cheap:
    one groupBy over n rows) before a large pair job; a mass near n²/2
    means the band keys are degenerate for this corpus and the job
    should fail fast instead of shuffling n² candidates. Same contract
    as ``emb_lsh_bucket_balance`` for the embedding LSH path.

    Output: ``band, n_buckets, max_bucket, candidate_mass``.
    """
    if nbits % bands != 0:
        raise ValueError(f"nbits={nbits} not divisible by bands={bands}")
    w = nbits // bands
    mask = (1 << w) - 1
    packed = pack_bits_expr(hash_col, nbits)
    uniq = sig.select(packed.alias("_h")).distinct()
    keys = [F.struct(
        F.lit(b).alias("band"),
        F.shiftrightunsigned(F.col("_h"), b * w)
        .bitwiseAND(F.lit(mask)).alias("key"))
        for b in range(bands)]
    bk = uniq.select(F.explode(F.array(*keys)).alias("_bk")) \
        .select(F.col("_bk.band").alias("band"), F.col("_bk.key").alias("key"))
    per_bucket = bk.groupBy("band", "key").agg(F.count("*").alias("_c"))
    # integer arithmetic end to end: c*(c-1) div 2 summed as BIGINT —
    # float division would round past 2^53 on exactly the degenerate
    # buckets this report exists to expose
    return (per_bucket.groupBy("band")
            .agg(F.count("*").alias("n_buckets"),
                 F.max("_c").alias("max_bucket"),
                 F.sum(F.expr("_c * (_c - 1) div 2"))
                 .cast("long").alias("candidate_mass"))
            .orderBy("band"))


def ahash_pairs(sig: DataFrame, bands: int = 8, max_hamming: int = 7,
                hash_col: str = "ahash",
                id_col: str = "media_id", nbits: int = 64,
                hot_bucket_cap: int | None = 4096,
                max_candidate_mass: int | str | None = "auto") -> DataFrame:
    """Near-duplicate media pairs from ``nbits``-bit perceptual-hash
    bitstrings via the banded Hamming scheme (same pigeonhole
    construction as :func:`~datatools_spark.operators.dedup.simhash_pairs`,
    Manku/Jain/Sarma WWW'07). ``max_hamming <= bands - 1`` ⇒ zero false
    negatives. Output: ``a_id, b_id, hamming`` with a < b.

    The heavy lifting lives in the SHARED engine
    :func:`~datatools_spark.operators.dedup.packed_hamming_pairs` (one
    candidate generator for text SimHash, image aHash, audio energy
    hash): the bitstring is packed once per row into a BIGINT
    (:func:`pack_bits_expr`), band keys are ``shiftrightunsigned &
    mask`` INTs, the verify is ``bit_count(a ^ b)`` filtered BEFORE the
    dedup exchange, banding runs over DISTINCT hashes (identical-hash
    cliques — the near-constant-image degenerate case — expand
    separately at exactly true-output size), buckets over
    ``hot_bucket_cap`` re-band their remaining bits into
    ``max_hamming + 1`` pigeonhole-exact sub-bands, and
    ``max_candidate_mass`` fail-fasts against a corpus whose band keys
    are degenerate (cost model: :func:`pair_candidate_mass`). The
    DEFAULT is ``"auto"`` — ``dedup.auto_mass_budget``: a linear term
    plus slack × the structural random-collision expectation for this
    key width, so healthy corpora of ANY size pass while
    near-constant-signature corpora are refused through the ordinary
    query path in seconds rather than by an operator who remembered the
    opt-in; pass an int for an explicit budget or None to disable. See
    the engine's docstring for why each layer is exact; the all-pairs
    oracles certify the composition.

    Signatures wider than 64 bits (``nbits`` a multiple of 64, e.g. the
    256-bit ``raw8_ahash(width=16, grid=16)``) dispatch to the WIDE
    engine (:func:`~datatools_spark.operators.dedup.packed_wide_pairs`)
    — array-of-words packing, and band keys wide enough that bucket
    selectivity, not hot-bucket refinement, carries the 100 TB case.
    """
    if nbits > 64:
        from .dedup import packed_wide_pairs
        sig = sig.select(F.col(id_col),
                         pack_bits_words_expr(hash_col, nbits)
                         .alias("_packed"))
        return packed_wide_pairs(sig, "_packed", nbits, bands, max_hamming,
                                 id_col,
                                 max_candidate_mass=max_candidate_mass)
    from .dedup import packed_hamming_pairs
    sig = sig.select(F.col(id_col),
                     pack_bits_expr(hash_col, nbits).alias("_packed"))
    return packed_hamming_pairs(sig, "_packed", nbits, bands, max_hamming,
                                id_col, hot_bucket_cap=hot_bucket_cap,
                                max_candidate_mass=max_candidate_mass)


def pcm16_energy_hash(df: DataFrame, frames: int = 8, frame: int = 16,
                      blocks: int = 8, payload_col: str = "payload",
                      id_col: str = "media_id") -> DataFrame:
    """Audio fingerprint over PCM16 clips: an energy-grid hash — the
    exact-arithmetic cousin of the Haitsma-Kalker fingerprint (which
    thresholds FFT band-energy differences; here the grid is time-domain
    block energies, so every quantity is an INTEGER and the bit pattern
    is bit-exact in any engine, SQL oracle included).

    Grid: the leading ``frames``×``frame`` samples, each frame split
    into ``blocks`` equal blocks; cell energy E(f,b) = Σ|s| (int64).
    Bit(f,b) = 1 iff ``blocks·E(f,b) > ΣE(f,·)`` — the cell is louder
    than its frame's average, compared in pure integers (no division).

    Output: ``id_col, ehash`` (``frames·blocks``-char '0'/'1' string,
    same layout contract as :func:`raw8_ahash` so :func:`ahash_pairs`
    consumes it unchanged via ``hash_col="ehash"``) plus ``n_ones``.
    Clips shorter than ``frames·frame`` samples are dropped. Decode is
    numpy inside ``mapInPandas``; the plan is a shuffle-free scan.
    """
    if frame % blocks != 0:
        raise ValueError(f"frame={frame} not divisible by blocks={blocks}")
    need = frames * frame
    blk = frame // blocks
    out_schema = StructType([
        StructField(id_col, LongType(), False),
        StructField("ehash", StringType(), True),
        StructField("n_ones", LongType(), True),
    ])

    def _batches(it: Iterator):
        import numpy as np
        import pandas as pd
        for pdf in it:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                s = decode_pcm16(p)
                if s is None or s.size < need:
                    continue
                a = np.abs(s[:need].astype("int64"))
                e = a.reshape(frames, blocks, blk).sum(axis=2)
                bits = e * blocks > e.sum(axis=1, keepdims=True)
                rows.append((int(mid),
                             "".join("1" if b else "0"
                                     for b in bits.ravel()),
                             int(bits.sum())))
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return df.select(id_col, payload_col).mapInPandas(_batches, out_schema)


def raw8_frame_ahash(df: DataFrame, frame_w: int = 16, frame_h: int = 16,
                     grid: int = 8, payload_col: str = "payload",
                     id_col: str = "media_id") -> DataFrame:
    """Per-FRAME perceptual hash over RAW8 stacked-frame video: each
    ``frame_w``×``frame_h`` frame gets its own aHash (block-mean grid,
    threshold at the frame's mean — same dyadic-exact arithmetic as
    :func:`raw8_ahash`). Trailing partial frames are cropped; videos
    shorter than one frame are dropped.

    Output: one row per frame — ``id_col, frame_idx, ahash, n_ones``.
    The downstream uses are frame-level near-dup (feed
    :func:`ahash_pairs`) and scene-cut detection (Hamming jump between
    CONSECUTIVE frames — a keyed window, no pair join at all).
    """
    if frame_w % grid != 0 or frame_h % grid != 0:
        raise ValueError(
            f"frame {frame_w}x{frame_h} not divisible by grid={grid}")
    fbytes = frame_w * frame_h
    bw, bh = frame_w // grid, frame_h // grid
    out_schema = StructType([
        StructField(id_col, LongType(), False),
        StructField("frame_idx", LongType(), True),
        StructField("ahash", StringType(), True),
        StructField("n_ones", LongType(), True),
    ])

    nbits = grid * grid

    def _batches(it: Iterator):
        import numpy as np
        import pandas as pd
        for pdf in it:
            mids, idxs, hashes, ones = [], [], [], []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                if p is None or len(p) < fbytes:
                    continue
                nf = len(p) // fbytes
                v = np.frombuffer(p, dtype=np.uint8, count=nf * fbytes) \
                    .reshape(nf, frame_h, frame_w).astype("float64")
                pooled = v.reshape(nf, grid, bh, grid, bw).mean(axis=(2, 4))
                bits = pooled > v.mean(axis=(1, 2), keepdims=False) \
                    .reshape(nf, 1, 1)
                # vectorized emission: all frames' bitstrings in one
                # numpy pass ('0'+bit bytes → fixed-width byte-string
                # view → unicode), no per-frame Python loop
                flat = bits.reshape(nf, nbits).astype(np.uint8)
                buf = (flat + ord("0")).tobytes()
                strs = np.frombuffer(buf, dtype=f"S{nbits}").astype(
                    f"U{nbits}")
                mids.append(np.full(nf, int(mid), dtype="int64"))
                idxs.append(np.arange(nf, dtype="int64"))
                hashes.append(strs)
                ones.append(flat.sum(axis=1, dtype="int64"))
            if mids:
                yield pd.DataFrame({
                    id_col: np.concatenate(mids),
                    "frame_idx": np.concatenate(idxs),
                    "ahash": np.concatenate(hashes),
                    "n_ones": np.concatenate(ones)})
            else:
                yield pd.DataFrame(
                    {f.name: [] for f in out_schema})

    return df.select(id_col, payload_col).mapInPandas(_batches, out_schema)
