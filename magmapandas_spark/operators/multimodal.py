"""Multimodal (image/audio/video) column operators — Spark plumbing for
binary payload columns with typed metadata (beyond-reference surface).

Codec libraries (PIL/ffmpeg) are not available in this container, so
only video FRAME decode (H.264/H.265 bitstreams) stays STUBBED behind
``decoder="fake"`` (deterministic synthetic features) or raises
``NotImplementedError`` — the MP4 *container* layer is real
(:mod:`magmapandas_spark.operators.mp4`: ISO BMFF box walk, mvhd/tkhd/
hdlr metadata, mdat extents; ``sample_video_frames_mp4`` derives its
frame grid from the file, not a trusted column). Five signal paths are
REAL decodes of real wire formats, implemented from the public specs
with no codec library:

- images, lossy: baseline-sequential JPEG (marker parse, Huffman,
  DPCM, dequant, IDCT, 4:2:0 upsampling, YCbCr→RGB) — pure numpy,
  :mod:`magmapandas_spark.operators.jpeg`;
- images, lossless: PNG — chunk/CRC-32 parse, stdlib-zlib inflate,
  all five scanline filters (:mod:`magmapandas_spark.operators.png`);
- images, raw: PPM (P6) binary — magic/dimension/maxval header parse
  with comment handling + raster decode
  (:func:`decode_ppm` / :func:`decode_images`);
- audio: 8-bit signed PCM reinterpretation + per-chunk RMS
  (:func:`chunk_audio`).

The Spark-side contract — schema, Arrow batch shape, ``mapInPandas``
partitioning — is identical for stubbed and real kernels; swapping a
codec in is a pure kernel change.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

FEATURE_DIM = 16

_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def tiny_sorted(df, *cols):
    """Deterministic total order for SMALL (≤ a few thousand rows)
    UDF-tier outputs: single-partition sort instead of ``orderBy``.
    A global ``orderBy`` range-partitions, and its boundary-sampling
    pass re-executes the upstream subtree — for a mapInPandas decode
    stage that means every payload is decoded TWICE (measured: PNG
    gate 3.3 s with orderBy vs 1.7 s here). ``repartition(1)``, NOT
    ``coalesce(1)``: repartition is a stage boundary, so the decode
    keeps its input parallelism and only the ~KB result funnels into
    the 1-task sort — coalesce would collapse the decode itself into
    one task (measured 5.4 s: worst of the three). Not for
    corpus-scale outputs. The gate hashes rows unordered, so this
    order is for readers of the output, not for the gate; the frozen
    H.264 decoders call it (DESIGN.md §5), so it stays."""
    return df.repartition(1).sortWithinPartitions(*cols)


def synthetic_media(spark: SparkSession, n: int = 64) -> DataFrame:
    """Deterministic fake media table for exercising the pipeline."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = bytes((i * 7 + j) % 256 for j in range(128 + (i % 64)))
        rows.append(
            (
                i,
                kind,
                payload,
                {"image": "image/png", "audio": "audio/wav",
                 "video": "video/mp4"}[kind],
                64 + (i % 32),
                48 + (i % 24),
                1000 + i * 10,
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA).coalesce(4)


def _fake_decode_features(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic stand-in for decode + feature extraction: byte
    histogram folded to ``dim`` buckets, L2-normalised."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(arr % dim, minlength=dim).astype(np.float64)
    norm = np.linalg.norm(hist)
    return (hist / norm if norm > 0 else hist).astype(np.float32)


def _jpeg_decode_features(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """REAL decode + featurize: baseline-JPEG decode (pure-numpy codec,
    :mod:`magmapandas_spark.operators.jpeg`) then a luma histogram over
    the decoded raster, L2-normalised."""
    from magmapandas_spark.operators.jpeg import jpeg_decode

    _, _, rgb = jpeg_decode(bytes(payload))
    luma = (
        0.299 * rgb[..., 0].astype(np.float64)
        + 0.587 * rgb[..., 1]
        + 0.114 * rgb[..., 2]
    ).astype(np.int64)
    hist = np.bincount(
        np.clip(luma, 0, 255).reshape(-1) * dim // 256, minlength=dim
    ).astype(np.float64)
    norm = np.linalg.norm(hist)
    return (hist / norm if norm > 0 else hist).astype(np.float32)


def _ppm_decode_features(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """REAL decode + featurize for PPM (P6) payloads."""
    _, _, px = decode_ppm(bytes(payload))
    hist = np.bincount(
        px.reshape(-1).astype(np.int64) * dim // 256, minlength=dim
    ).astype(np.float64)
    norm = np.linalg.norm(hist)
    return (hist / norm if norm > 0 else hist).astype(np.float32)


def _png_decode_features(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """REAL decode + featurize: PNG decode (stdlib-zlib inflate +
    scanline unfilter, :mod:`magmapandas_spark.operators.png`) then a
    byte histogram over the decoded raster, L2-normalised."""
    from magmapandas_spark.operators.png import png_decode

    _, _, px = png_decode(bytes(payload))
    hist = np.bincount(
        px.reshape(-1).astype(np.int64) * dim // 256, minlength=dim
    ).astype(np.float64)
    norm = np.linalg.norm(hist)
    return (hist / norm if norm > 0 else hist).astype(np.float32)


_DECODERS = {
    "fake": _fake_decode_features,
    "jpeg": _jpeg_decode_features,
    "png": _png_decode_features,
    "ppm": _ppm_decode_features,
}


def extract_features(
    media: DataFrame, decoder: str = "fake", batch_size_hint: int = 256
) -> DataFrame:
    """Decode + featurize via ``mapInPandas`` — Arrow-batched, one
    narrow stage, no shuffle; the pattern that scales to 100 TB of
    binary payloads (payload bytes never leave the executor).

    ``decoder``: ``"jpeg"`` (real baseline-JPEG decode, pure numpy),
    ``"png"`` (real inflate + unfilter decode), ``"ppm"`` (real P6
    decode), or ``"fake"`` (deterministic synthetic features for wire
    formats with no in-container codec — MP4/H.264 video)."""
    kernel = _DECODERS.get(decoder)
    if kernel is None:
        raise NotImplementedError(
            f"decoder {decoder!r} not available: inter-frame video "
            "codecs (H.264/H.265) do not exist in this environment; "
            f"available decoders are {sorted(_DECODERS)}, and REAL "
            "video frame decode exists for MJPEG-in-MP4 via "
            "operators.mp4.decode_mjpeg_frames — the Spark plumbing "
            "is identical"
        )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [kernel(p).tolist() for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len),
                    "feature": feats,
                }
            )

    return media.mapInPandas(fn, schema=_FEATURES_SCHEMA)


# ---- suite entries ----------------------------------------------------
# The synthetic payload is pure arithmetic (byte j of media i is
# (i*7+j) % 256), so DuckDB can regenerate it and the gate compares the
# REAL mapInPandas decode path against an exact oracle. Outputs are
# integer-only (argmax bucket, byte counts, frame timestamps) so no
# float32 rounding enters the hash.

def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = extract_features(synthetic_media(spark, 64))
    top = F.array_position(
        F.col("feature"), F.array_max("feature")
    ) - F.lit(1)
    return tiny_sorted(
        feats.select(
            "media_id",
            "kind",
            "n_bytes",
            top.cast("int").alias("top_bucket"),
        ),
        "media_id",
    )


SQL_MEDIA_FEATURES = f"""
WITH m AS (
  SELECT i AS media_id,
         CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                    ELSE 'video' END AS kind,
         128 + (i % 64) AS n_bytes
  FROM range(64) t(i)
),
b AS (
  SELECT media_id, kind, n_bytes,
         (media_id * 7 + j.j) % {FEATURE_DIM} AS bucket
  FROM m, LATERAL (SELECT UNNEST(range(n_bytes)) AS j) j
),
h AS (
  SELECT media_id, kind, n_bytes, bucket, COUNT(*) AS c
  FROM b GROUP BY 1, 2, 3, 4
),
r AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY media_id ORDER BY c DESC, bucket) AS rn
  FROM h
)
SELECT media_id, kind, n_bytes, CAST(bucket AS INT) AS top_bucket
FROM r WHERE rn = 1
ORDER BY media_id
"""


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = sample_video_frames(synthetic_media(spark, 64), every_ms=1000)
    return tiny_sorted(
        frames.select(
            "media_id",
            "frame_ts_ms",
            F.length("payload").cast("long").alias("n_bytes"),
        ),
        "media_id", "frame_ts_ms",
    )


SQL_VIDEO_FRAMES = """
WITH m AS (
  SELECT i AS media_id, 1000 + i * 10 AS duration_ms,
         128 + (i % 64) AS n_bytes
  FROM range(64) t(i) WHERE i % 3 = 2
)
SELECT media_id, CAST(f.f AS BIGINT) AS frame_ts_ms, n_bytes
FROM m, LATERAL (SELECT UNNEST(range(0, duration_ms, 1000)) AS f) f
ORDER BY media_id, frame_ts_ms
"""


_AUDIO_CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("chunk_idx", T.IntegerType()),
        T.StructField("chunk_start_ms", T.LongType()),
        T.StructField("chunk_end_ms", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def chunk_audio(media: DataFrame, chunk_ms: int = 500) -> DataFrame:
    """Fixed-window audio chunking + per-chunk RMS via ``mapInPandas``.

    Unlike the stubbed image/video codecs, the signal path here is a
    REAL decode: payloads are treated as 8-bit signed PCM (int8
    reinterpretation is the actual wire format for 8-bit audio), so
    per-chunk RMS is genuine DSP, not a placeholder. Chunk byte
    boundaries are pure integer arithmetic
    (``floor(k·n/n_chunks)``), exactly reproducible in SQL. One narrow
    Arrow stage, no shuffle — payload bytes never leave the executor."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                k.name: [] for k in _AUDIO_CHUNK_SCHEMA.fields
            }
            for mid, payload, dur in zip(
                pdf["media_id"], pdf["payload"], pdf["duration_ms"]
            ):
                pcm = np.frombuffer(payload, dtype=np.int8).astype(
                    np.float64
                )
                n = len(pcm)
                n_chunks = max(1, -(-int(dur) // chunk_ms))
                bounds = (np.arange(n_chunks + 1) * n) // n_chunks
                for k in range(n_chunks):
                    lo, hi = int(bounds[k]), int(bounds[k + 1])
                    seg = pcm[lo:hi]
                    rms = (
                        float(np.sqrt(np.mean(seg * seg)))
                        if hi > lo
                        else 0.0
                    )
                    out["media_id"].append(mid)
                    out["chunk_idx"].append(k)
                    out["chunk_start_ms"].append(k * chunk_ms)
                    out["chunk_end_ms"].append(
                        min((k + 1) * chunk_ms, int(dur))
                    )
                    out["n_samples"].append(hi - lo)
                    out["rms"].append(rms)
            yield pd.DataFrame(out)

    return media.filter(F.col("kind") == "audio").mapInPandas(
        fn, schema=_AUDIO_CHUNK_SCHEMA
    )


def q_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = chunk_audio(synthetic_media(spark, 64), chunk_ms=500)
    return tiny_sorted(
        chunks.select(
            "media_id",
            "chunk_idx",
            "chunk_start_ms",
            "chunk_end_ms",
            "n_samples",
            F.round("rms", 6).alias("rms"),
        ),
        "media_id", "chunk_idx",
    )


# int8 reinterpretation of byte b: b - 256 if b >= 128 else b. RMS over
# the chunk's byte span [k*n//nc, (k+1)*n//nc) — integer boundaries
# identical to the numpy kernel; AVG of integer-valued doubles then one
# SQRT is bit-stable cross-engine (exact sum < 2^53).
SQL_AUDIO_CHUNKS = """
WITH m AS (
  SELECT i AS media_id, 1000 + i * 10 AS duration_ms,
         128 + (i % 64) AS n_bytes
  FROM range(64) t(i) WHERE i % 3 = 1
),
c AS (
  SELECT media_id, duration_ms, n_bytes,
         CAST(CEIL(CAST(duration_ms AS DOUBLE) / 500) AS BIGINT) AS nc
  FROM m
),
k AS (
  SELECT media_id, duration_ms, n_bytes, nc, CAST(kk.kk AS BIGINT) AS k
  FROM c, LATERAL (SELECT UNNEST(range(nc)) AS kk) kk
),
seg AS (
  SELECT media_id, duration_ms, nc, k,
         (k * n_bytes) // nc AS lo,
         ((k + 1) * n_bytes) // nc AS hi
  FROM k
),
s AS (
  SELECT seg.media_id, seg.k, seg.lo, seg.hi, seg.duration_ms,
         ((seg.media_id * 7 + j.j) % 256) AS b
  FROM seg, LATERAL (SELECT UNNEST(range(seg.lo, seg.hi)) AS j) j
),
v AS (
  SELECT media_id, k, lo, hi, duration_ms,
         CASE WHEN b >= 128 THEN b - 256 ELSE b END AS pcm
  FROM s
)
SELECT media_id,
       CAST(k AS INT) AS chunk_idx,
       k * 500 AS chunk_start_ms,
       LEAST((k + 1) * 500, duration_ms) AS chunk_end_ms,
       hi - lo AS n_samples,
       ROUND(SQRT(AVG(CAST(pcm * pcm AS DOUBLE))), 6) AS rms
FROM v
GROUP BY media_id, k, lo, hi, duration_ms
ORDER BY media_id, chunk_idx
"""


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize stub: real decode unavailable — metadata transformation is
    real (target dims recorded), payload passes through."""
    return media.filter(F.col("kind") == "image").withColumns(
        {
            "target_width": F.lit(width),
            "target_height": F.lit(height),
            "resized": F.lit(False),  # set True by a real decoder kernel
        }
    )


def sample_video_frames(
    media: DataFrame, every_ms: int = 1000
) -> DataFrame:
    """Frame-sampling plumbing: explode frame timestamps from duration
    metadata (real), frame decode stubbed (payload passthrough)."""
    vids = media.filter(F.col("kind") == "video")
    return vids.select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.col("duration_ms") - 1,
                F.lit(int(every_ms)),
            )
        ).alias("frame_ts_ms"),
        "payload",
    )


# ----------------------------------------------------------------------
# Real image decode: PPM (P6) — header parse + raster, pure numpy
# ----------------------------------------------------------------------

def ppm_encode(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 raster as binary PPM (P6), fixed
    3-digit dimension fields (the format allows any decimal width;
    fixing it keeps synthetic payload offsets arithmetic)."""
    h, w, _ = pixels.shape
    header = f"P6\n{w:03d} {h:03d}\n255\n".encode("ascii")
    return header + pixels.tobytes()


def decode_ppm(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Decode binary PPM (P6): returns (width, height, (h, w, 3) uint8
    raster). A real parser — magic check, '#' comment skipping,
    whitespace-separated header integers, maxval validation — not a
    fixed-offset slice, so it accepts any conforming P6 writer."""
    if payload[:2] != b"P6":
        raise ValueError("not a binary PPM (P6) payload")
    pos = 2
    vals: list[int] = []
    while len(vals) < 3:
        # skip whitespace and comments
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        vals.append(int(payload[start:pos]))
    w, h, maxval = vals
    if maxval != 255:
        raise ValueError(f"only 8-bit PPM supported (maxval {maxval})")
    pos += 1  # single whitespace after maxval per spec
    raster = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3,
                           offset=pos)
    return w, h, raster.reshape(h, w, 3)


_IMAGE_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
    ]
)


def decode_images(media: DataFrame) -> DataFrame:
    """Decode PPM image payloads and emit per-channel statistics —
    dimensions come from the HEADER (a decode), not the metadata
    columns. Channel sums are exact integers, so the gate hash has no
    float in it. One narrow Arrow stage, payloads never leave the
    executor."""

    def fn(batches):
        for pdf in batches:
            out = {k.name: [] for k in _IMAGE_DECODE_SCHEMA.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, px = decode_ppm(bytes(payload))
                sums = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                out["media_id"].append(mid)
                out["width"].append(w)
                out["height"].append(h)
                out["n_px"].append(w * h)
                out["sum_r"].append(int(sums[0]))
                out["sum_g"].append(int(sums[1]))
                out["sum_b"].append(int(sums[2]))
            yield pd.DataFrame(out)

    return media.filter(F.col("kind") == "image").mapInPandas(
        fn, schema=_IMAGE_DECODE_SCHEMA
    )


def synthetic_ppm_media(spark: SparkSession, n: int = 48) -> DataFrame:
    """Image-only media table whose payloads are REAL binary PPM files:
    pixel byte j of image i is (i*7 + j) % 256 (regenerable in SQL),
    wrapped in a conforming P6 header."""
    rows = []
    for i in range(n):
        w, h = 64 + (i % 32), 48 + (i % 24)
        j = np.arange(w * h * 3, dtype=np.int64)
        px = ((i * 7 + j) % 256).astype(np.uint8).reshape(h, w, 3)
        rows.append(
            (i, "image", ppm_encode(px), "image/x-portable-pixmap",
             w, h, 0)
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA).coalesce(4)


def q_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query for the real PPM decode path: header-parsed dims +
    exact per-channel integer sums over 48 synthetic images."""
    out = decode_images(synthetic_ppm_media(spark, 48))
    return tiny_sorted(out, "media_id")


# channel c of pixel-byte j ⇔ j % 3 = c; byte value (i*7 + j) % 256.
SQL_IMAGE_DECODE = """
WITH m AS (
  SELECT i AS media_id, 64 + (i % 32) AS w, 48 + (i % 24) AS h
  FROM range(48) t(i)
),
px AS (
  SELECT media_id, w, h, j.j AS j,
         (media_id * 7 + j.j) % 256 AS b
  FROM m, LATERAL (SELECT UNNEST(range(w * h * 3)) AS j) j
)
SELECT media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(w * h AS BIGINT) AS n_px,
       SUM(CASE WHEN j % 3 = 0 THEN b ELSE 0 END)::BIGINT AS sum_r,
       SUM(CASE WHEN j % 3 = 1 THEN b ELSE 0 END)::BIGINT AS sum_g,
       SUM(CASE WHEN j % 3 = 2 THEN b ELSE 0 END)::BIGINT AS sum_b
FROM px
GROUP BY media_id, w, h
ORDER BY media_id
"""


# ----------------------------------------------------------------------
# Format sniffing + dispatch: a real media column is heterogeneous and
# unlabeled — route each payload by magic bytes, not by a trusted
# metadata column.
# ----------------------------------------------------------------------

def sniff_media_format(payload: bytes) -> str:
    """Container format from magic bytes (the only trustworthy label):
    jpeg / png / gif / ppm / wav / mp4 / unknown."""
    if payload[:2] == b"\xff\xd8":
        return "jpeg"
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if payload[:2] == b"P6":
        return "ppm"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    if payload[4:8] == b"ftyp":
        return "mp4"
    return "unknown"


_SNIFF_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("error", T.StringType()),
    ]
)


def decode_any(media: DataFrame) -> DataFrame:
    """Sniff + dispatch each payload to its format's real decoder
    (JPEG/PNG/PPM/WAV/MP4); emit (fmt, ok, error). Permissive by
    nature — an unknown or corrupt payload is a row, not a task
    failure. One narrow Arrow stage."""
    from magmapandas_spark.operators.gif import gif_decode
    from magmapandas_spark.operators.jpeg import jpeg_decode
    from magmapandas_spark.operators.mp4 import mp4_parse
    from magmapandas_spark.operators.png import png_decode
    from magmapandas_spark.operators.wav import wav_decode

    decoders = {
        "jpeg": jpeg_decode,
        "png": png_decode,
        "gif": gif_decode,
        "ppm": decode_ppm,
        "wav": wav_decode,
        "mp4": mp4_parse,
    }

    def fn(batches):
        for pdf in batches:
            out = {f.name: [] for f in _SNIFF_SCHEMA.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(payload)
                fmt = sniff_media_format(payload)
                ok, err = False, None
                dec = decoders.get(fmt)
                if dec is None:
                    err = "unknown format"
                else:
                    try:
                        dec(payload)
                        ok = True
                    except Exception as exc:  # noqa: BLE001
                        err = f"{type(exc).__name__}: {exc}"
                out["media_id"].append(mid)
                out["fmt"].append(fmt)
                out["ok"].append(ok)
                out["error"].append(err)
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(
        fn, schema=_SNIFF_SCHEMA
    )


def synthetic_mixed_media(spark: SparkSession) -> DataFrame:
    """One unlabeled table mixing every synthetic format family:
    ids 0-31 jpeg, 100-139 png, 200-247 ppm, 300-347 wav, 400-439 mp4,
    500-539 gif, 900-904 unknown garbage."""
    from magmapandas_spark.operators.gif import make_synthetic_gif
    from magmapandas_spark.operators.jpeg import make_synthetic_jpeg
    from magmapandas_spark.operators.mp4 import make_synthetic_mp4
    from magmapandas_spark.operators.png import make_synthetic_png
    from magmapandas_spark.operators.wav import make_synthetic_wav

    rows = []
    rows += [(i, make_synthetic_jpeg(i)) for i in range(32)]
    rows += [(100 + i, make_synthetic_png(i)) for i in range(40)]
    for i in range(48):
        w, h = 64 + (i % 32), 48 + (i % 24)
        j = np.arange(w * h * 3, dtype=np.int64)
        px = ((i * 7 + j) % 256).astype(np.uint8).reshape(h, w, 3)
        rows.append((200 + i, ppm_encode(px)))
    rows += [(300 + i, make_synthetic_wav(i)) for i in range(48)]
    rows += [(400 + i, make_synthetic_mp4(i)) for i in range(40)]
    rows += [(500 + i, make_synthetic_gif(i)) for i in range(40)]
    rows += [(900 + i, bytes([i]) * 16) for i in range(5)]
    return spark.createDataFrame(
        rows, "media_id long, payload binary"
    ).coalesce(4)


def q_media_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: sniff + fully decode a mixed unlabeled media table;
    per detected format report count, id checksum, and decode-success
    count — all integers, reconstructed arithmetically by the oracle
    from the id-range construction."""
    out = decode_any(synthetic_mixed_media(spark))
    return (
        out.groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("media_id").alias("id_sum"),
            F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_ok"),
        )
        .orderBy("fmt")
    )


SQL_MEDIA_INVENTORY = """
WITH fam AS (
  SELECT 'jpeg' AS fmt, 0 AS base, 32 AS n, 32 AS n_ok
  UNION ALL SELECT 'png', 100, 40, 40
  UNION ALL SELECT 'ppm', 200, 48, 48
  UNION ALL SELECT 'wav', 300, 48, 48
  UNION ALL SELECT 'mp4', 400, 40, 40
  UNION ALL SELECT 'gif', 500, 40, 40
  UNION ALL SELECT 'unknown', 900, 5, 0
)
SELECT fmt,
       CAST(n AS BIGINT) AS n,
       CAST(n * base + n * (n - 1) / 2 AS BIGINT) AS id_sum,
       CAST(n_ok AS BIGINT) AS n_ok
FROM fam
ORDER BY fmt
"""


# ---------------------------------------------------------------------
# Cross-modal dedup report (round 9): the multimodal quad composed
# ---------------------------------------------------------------------


def q_crossmodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: ONE per-asset dedup verdict joining all four
    fingerprint legs of the multimodal quad — text (winnowing-style
    shingle bottom-1, dedup ``doc_fingerprint``), video (per-frame
    luma histograms through the real H.264 decode, h264.py), audio
    (amplitude histograms through the real WAV/PCM decode, wav.py),
    image (pixel histograms through the real PNG inflate/unfilter,
    png.py). Each leg's media map to a 12-asset spine
    (``media_id % 12`` / ``doc_id % 12``); a file is duplicate
    evidence when its fingerprint collides across the corpus; the
    verdict counts modalities with evidence and flags assets
    duplicated in >= 2 modalities. Proves the four separately
    verified legs COMPOSE in one plan.

    Scale posture: each leg stays one narrow Arrow decode stage (the
    fp-window pattern of the leg queries, decode runs once); the
    composition aggregates every leg to the tiny asset grain before
    joining, so the final joins are broadcast-sized regardless of
    corpus size."""
    from pyspark.sql import Window

    from magmapandas_spark.operators.h264 import q_video_fingerprint
    from magmapandas_spark.operators.png import q_image_fingerprint
    from magmapandas_spark.operators.wav import q_audio_fingerprint
    from magmapandas_spark.operators.dedup import q_doc_fingerprint

    aid = (F.col("media_id") % 12).alias("asset_id")

    vm = (
        q_video_fingerprint(spark, sf_dir)
        .groupBy("media_id")
        .agg(F.max("n_frames_with_fp").alias("mx"))
        .groupBy(aid)
        .agg(
            F.sum(F.when(F.col("mx") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_video_dup")
        )
    )
    am = (
        q_audio_fingerprint(spark, sf_dir)
        .groupBy(aid)
        .agg(
            F.sum(F.when(F.col("n_clips_with_fp") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_audio_dup")
        )
    )
    im = (
        q_image_fingerprint(spark, sf_dir)
        .groupBy(aid)
        .agg(
            F.sum(F.when(F.col("n_images_with_fp") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_image_dup")
        )
    )
    tx = (
        q_doc_fingerprint(spark, sf_dir)
        .select(
            "doc_id",
            F.count(F.lit(1))
            .over(Window.partitionBy("fp_min"))
            .alias("cnt"),
        )
        .groupBy((F.col("doc_id") % 12).alias("asset_id"))
        .agg(
            F.sum(F.when(F.col("cnt") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_text_dup")
        )
    )
    spine = spark.range(12).select(F.col("id").alias("asset_id"))
    # the legs are asset-grain (12 rows) but sit behind aggregates the
    # static planner has no stats for — broadcast them explicitly so
    # the composition never plans a sort-merge join
    rep = (
        spine.join(F.broadcast(vm), "asset_id", "left")
        .join(F.broadcast(am), "asset_id", "left")
        .join(F.broadcast(im), "asset_id", "left")
        .join(F.broadcast(tx), "asset_id", "left")
        .select(
            "asset_id",
            *[
                F.coalesce(F.col(c), F.lit(0)).alias(c)
                for c in (
                    "n_video_dup",
                    "n_audio_dup",
                    "n_image_dup",
                    "n_text_dup",
                )
            ],
        )
    )
    n_mod = sum(
        F.when(F.col(c) > 0, 1).otherwise(0)
        for c in ("n_video_dup", "n_audio_dup", "n_image_dup", "n_text_dup")
    )
    return (
        rep.select(
            "asset_id",
            "n_video_dup",
            "n_audio_dup",
            "n_image_dup",
            "n_text_dup",
            n_mod.cast("int").alias("n_dup_modalities"),
            F.when(n_mod >= 2, 1).otherwise(0).cast("int").alias(
                "cross_modal_dup"
            ),
        )
        .orderBy("asset_id")
    )


def _sql_crossmodal() -> str:
    """Compose the four legs' own oracles (each a full WITH...SELECT
    statement, embedded as parenthesized subqueries) and redo the
    asset-grain arithmetic in SQL."""
    from magmapandas_spark.operators.h264 import SQL_VIDEO_FINGERPRINT
    from magmapandas_spark.operators.png import SQL_IMAGE_FINGERPRINT
    from magmapandas_spark.operators.wav import SQL_AUDIO_FINGERPRINT
    from magmapandas_spark.operators.dedup import SQL_DOC_FINGERPRINT

    return f"""
WITH vm AS (
  SELECT media_id % 12 AS asset_id,
         SUM(CASE WHEN mx >= 2 THEN 1 ELSE 0 END) AS n_video_dup
  FROM (SELECT media_id, MAX(n_frames_with_fp) AS mx
        FROM ({SQL_VIDEO_FINGERPRINT}) vq GROUP BY media_id) m
  GROUP BY media_id % 12
),
am AS (
  SELECT media_id % 12 AS asset_id,
         SUM(CASE WHEN n_clips_with_fp >= 2 THEN 1 ELSE 0 END)
           AS n_audio_dup
  FROM ({SQL_AUDIO_FINGERPRINT}) aq
  GROUP BY media_id % 12
),
im AS (
  SELECT media_id % 12 AS asset_id,
         SUM(CASE WHEN n_images_with_fp >= 2 THEN 1 ELSE 0 END)
           AS n_image_dup
  FROM ({SQL_IMAGE_FINGERPRINT}) iq
  GROUP BY media_id % 12
),
tx AS (
  SELECT doc_id % 12 AS asset_id,
         SUM(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS n_text_dup
  FROM (SELECT doc_id, COUNT(*) OVER (PARTITION BY fp_min) AS cnt
        FROM ({SQL_DOC_FINGERPRINT}) tq) t
  GROUP BY doc_id % 12
),
spine AS (SELECT UNNEST(range(12)) AS asset_id),
rep AS (
  SELECT s.asset_id,
         CAST(COALESCE(v.n_video_dup, 0) AS BIGINT) AS n_video_dup,
         CAST(COALESCE(a.n_audio_dup, 0) AS BIGINT) AS n_audio_dup,
         CAST(COALESCE(i.n_image_dup, 0) AS BIGINT) AS n_image_dup,
         CAST(COALESCE(t.n_text_dup, 0) AS BIGINT) AS n_text_dup
  FROM spine s
  LEFT JOIN vm v ON v.asset_id = s.asset_id
  LEFT JOIN am a ON a.asset_id = s.asset_id
  LEFT JOIN im i ON i.asset_id = s.asset_id
  LEFT JOIN tx t ON t.asset_id = s.asset_id
)
SELECT asset_id, n_video_dup, n_audio_dup, n_image_dup, n_text_dup,
       CAST((CASE WHEN n_video_dup > 0 THEN 1 ELSE 0 END)
          + (CASE WHEN n_audio_dup > 0 THEN 1 ELSE 0 END)
          + (CASE WHEN n_image_dup > 0 THEN 1 ELSE 0 END)
          + (CASE WHEN n_text_dup > 0 THEN 1 ELSE 0 END) AS INT)
         AS n_dup_modalities,
       CAST(CASE WHEN (CASE WHEN n_video_dup > 0 THEN 1 ELSE 0 END)
                    + (CASE WHEN n_audio_dup > 0 THEN 1 ELSE 0 END)
                    + (CASE WHEN n_image_dup > 0 THEN 1 ELSE 0 END)
                    + (CASE WHEN n_text_dup > 0 THEN 1 ELSE 0 END) >= 2
                 THEN 1 ELSE 0 END AS INT) AS cross_modal_dup
FROM rep
ORDER BY asset_id
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "media_features": (q_media_features, SQL_MEDIA_FEATURES),
    "image_decode": (q_image_decode, SQL_IMAGE_DECODE),
    "media_inventory": (q_media_inventory, SQL_MEDIA_INVENTORY),
    "video_frames": (q_video_frames, SQL_VIDEO_FRAMES),
    "audio_chunks": (q_audio_chunks, SQL_AUDIO_CHUNKS),
    "crossmodal_dedup": (q_crossmodal_dedup, _sql_crossmodal),
}
