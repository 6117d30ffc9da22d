"""WAV (RIFF) PCM codec — real audio container decode for the
multimodal tier (no codec library; RIFF and PCM are plain struct
layouts defined by the public WAVE spec).

- :func:`wav_encode` / :func:`wav_decode` — canonical RIFF/WAVE
  container walk: chunk iteration (not fixed offsets, so fmt-extension
  and LIST chunks are tolerated), PCM format validation, 16-bit
  little-endian samples, mono or interleaved stereo.
- :func:`chunk_wav_audio` — decode + fixed-window chunking + per-chunk
  RMS inside ``mapInPandas``; chunk boundaries are the same integer
  ``floor(k·n/nc)`` arithmetic as the 8-bit path in multimodal.py, so
  the DuckDB oracle replays them exactly.

Scale posture: identical to every other decode path — one narrow Arrow
stage over the payload column, no shuffle, payloads never leave the
executor.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def wav_encode(
    samples: np.ndarray, sample_rate: int = 8000
) -> bytes:
    """Encode int16 samples — shape (n,) mono or (n, 2) stereo — as a
    RIFF/WAVE PCM file."""
    samples = np.asarray(samples, dtype="<i2")
    channels = 1 if samples.ndim == 1 else samples.shape[1]
    data = samples.tobytes()
    byte_rate = sample_rate * channels * 2
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, byte_rate, channels * 2, 16
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_decode(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Decode RIFF/WAVE PCM → (sample_rate, channels, int16 array of
    shape (n_frames, channels)). Walks the chunk list; validates the
    RIFF header, PCM format tag and 16-bit depth."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    (riff_size,) = struct.unpack("<I", payload[4:8])
    if riff_size + 8 > len(payload):
        raise ValueError("RIFF size exceeds payload")
    pos = 12
    sample_rate = channels = None
    data = None
    while pos + 8 <= len(payload):
        ctype = payload[pos : pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + length]
        if ctype == b"fmt ":
            audio_fmt, channels, sample_rate, _, _, depth = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if audio_fmt != 1:
                raise ValueError(f"only PCM supported (format {audio_fmt})")
            if depth != 16:
                raise ValueError(f"only 16-bit PCM supported (depth {depth})")
        elif ctype == b"data":
            data = body
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if sample_rate is None or data is None:
        raise ValueError("missing fmt or data chunk")
    arr = np.frombuffer(data, dtype="<i2")
    return sample_rate, channels, arr.reshape(-1, channels)


# ---------------------------------------------------------------------
# Synthetic generator + Spark operators
# ---------------------------------------------------------------------

# Sample formula shared with the SQL oracle: clip i has
# n = 400 + (i % 7) * 100 mono frames at 8 kHz; frame j's value is
# ((i*13 + j*j) % 4096) - 2048.

def synthetic_wav_frames(i: int) -> int:
    return 400 + (i % 7) * 100


def make_synthetic_wav(i: int) -> bytes:
    n = synthetic_wav_frames(i)
    j = np.arange(n, dtype=np.int64)
    samples = ((i * 13 + j * j) % 4096 - 2048).astype(np.int16)
    return wav_encode(samples, sample_rate=8000)


MEDIA_WAV_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def synthetic_wav_media(spark: SparkSession, n: int = 48) -> DataFrame:
    rows = [(i, make_synthetic_wav(i)) for i in range(n)]
    return spark.createDataFrame(rows, MEDIA_WAV_SCHEMA).coalesce(4)


_WAV_CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("chunk_idx", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("sum_sq", T.LongType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


_WAV_PERMISSIVE_SCHEMA = T.StructType(
    _WAV_CHUNK_SCHEMA.fields + [T.StructField("error", T.StringType())]
)


def chunk_wav_audio(
    media: DataFrame, chunk_frames: int = 256, permissive: bool = False
) -> DataFrame:
    """Decode WAV payloads and emit fixed-size frame chunks with exact
    integer energy (``sum_sq``) and RMS. The last chunk may be short;
    chunk boundaries are pure integer arithmetic.

    ``permissive=True`` quarantines undecodable payloads as one
    ``error`` row each (chunk_idx null) instead of failing the task;
    strict stays the gate default."""
    schema = _WAV_PERMISSIVE_SCHEMA if permissive else _WAV_CHUNK_SCHEMA

    def fn(batches):
        for pdf in batches:
            out = {f.name: [] for f in schema.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    rate, ch, frames = wav_decode(bytes(payload))
                except Exception as exc:  # noqa: BLE001
                    if not permissive:
                        raise
                    out["media_id"].append(mid)
                    for k in ("chunk_idx", "n_frames", "sample_rate",
                              "sum_sq", "rms"):
                        out[k].append(None)
                    out["error"].append(f"{type(exc).__name__}: {exc}")
                    continue
                # Energy aggregates over ALL channels (a chunk's sum_sq
                # is the clip's energy, not one channel's): for mono
                # this is bit-identical to the old left-channel math;
                # for stereo the RMS divides by frames*channels so the
                # label stays honest.
                samples = frames.astype(np.int64)
                n = len(samples)
                nc = -(-n // chunk_frames)
                for k in range(nc):
                    seg = samples[k * chunk_frames : (k + 1) * chunk_frames]
                    ss = int((seg * seg).sum())
                    out["media_id"].append(mid)
                    out["chunk_idx"].append(k)
                    out["n_frames"].append(len(seg))
                    out["sample_rate"].append(rate)
                    out["sum_sq"].append(ss)
                    out["rms"].append(
                        float(np.sqrt(ss / seg.size)) if seg.size else 0.0
                    )
                    if permissive:
                        out["error"].append(None)
            yield pd.DataFrame(out)

    return media.mapInPandas(fn, schema=schema)


def q_wav_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: real RIFF/WAVE decode of 48 synthetic 16-bit PCM
    clips → per-chunk exact integer energy. ``rms`` is rounded to 6
    decimals — safe here because sum_sq/len is a ratio of exact
    integers, not an iterated float (cross-engine SQRT agrees to 1 ulp
    and the ROUND boundary needs ~1e-7 relative to flip)."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    chunks = chunk_wav_audio(synthetic_wav_media(spark, 48))
    return tiny_sorted(
        chunks.select(
            "media_id", "chunk_idx", "n_frames", "sample_rate", "sum_sq",
            F.round("rms", 6).alias("rms"),
        ),
        "media_id", "chunk_idx",
    )


SQL_WAV_CHUNKS = """
WITH clip AS (
  SELECT i AS media_id, 400 + (i % 7) * 100 AS n
  FROM range(48) t(i)
),
frame AS (
  SELECT media_id, n, j.j AS j,
         (media_id * 13 + j.j * j.j) % 4096 - 2048 AS s
  FROM clip, LATERAL (SELECT UNNEST(range(n)) AS j) j
),
chunk AS (
  SELECT media_id, j // 256 AS chunk_idx,
         COUNT(*) AS n_frames,
         SUM(s * s) AS sum_sq
  FROM frame
  GROUP BY media_id, j // 256
)
SELECT media_id,
       CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(n_frames AS BIGINT) AS n_frames,
       CAST(8000 AS INT) AS sample_rate,
       CAST(sum_sq AS BIGINT) AS sum_sq,
       ROUND(SQRT(CAST(sum_sq AS DOUBLE) / n_frames), 6) AS rms
FROM chunk
ORDER BY media_id, chunk_idx
"""


# ---------------------------------------------------------------------
# Audio fingerprint dedup (round 8)
# ---------------------------------------------------------------------

_FP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("hist", T.StringType()),
        T.StructField("fp", T.LongType()),
    ]
)


def wav_fingerprints(media: DataFrame) -> DataFrame:
    """Per-clip amplitude-histogram fingerprints: decode the PCM
    samples, bucket into 16 equi-width amplitude bins
    ((s + 2048) div 256 over the int16 range the fixture spans), and
    hash the ordered count string (md5-prefix BIGINT) — clips sharing
    a fingerprint are near-duplicate candidates. The audio leg of the
    multimodal dedup triad (MinHash text / frame-histogram video /
    amplitude-histogram audio); one narrow Arrow stage."""
    import hashlib

    def fn(batches):
        for pdf in batches:
            out = {f.name: [] for f in _FP_SCHEMA.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                rate, n_ch, samples = wav_decode(bytes(payload))
                bins = np.clip(
                    (samples.reshape(-1).astype(np.int64) + 2048) // 256,
                    0,
                    15,
                )
                counts = np.bincount(bins, minlength=16)[:16]
                hist = ",".join(str(int(c)) for c in counts)
                fp = int(
                    hashlib.md5(hist.encode()).hexdigest()[:15], 16
                )
                out["media_id"].append(mid)
                out["n_frames"].append(int(samples.size))
                out["hist"].append(hist)
                out["fp"].append(fp)
            yield pd.DataFrame(out)

    return media.mapInPandas(fn, _FP_SCHEMA)


def q_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: amplitude-histogram fingerprints over the 48-clip
    WAV corpus plus two byte-duplicate clips (media 48/49 repeat
    clips 3/10) with per-fingerprint collision counts — the audio
    dedup path, collisions non-vacuous."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    base = synthetic_wav_media(spark, 48)
    dups = spark.createDataFrame(
        [(48, make_synthetic_wav(3)), (49, make_synthetic_wav(10))],
        MEDIA_WAV_SCHEMA,
    )
    from pyspark.sql import Window

    fps = wav_fingerprints(base.unionByName(dups))
    # fp-partitioned window, not groupBy+join: a join would re-run
    # the Arrow decode stage on both subtrees (see q_video_fingerprint)
    n = F.count(F.lit(1)).over(Window.partitionBy("fp"))
    return tiny_sorted(
        fps.select(
            "media_id", "n_frames", "hist", "fp",
            n.alias("n_clips_with_fp"),
        ),
        "media_id",
    )


SQL_AUDIO_FINGERPRINT = """
WITH clip AS (
  SELECT i AS media_id,
         CASE WHEN i = 48 THEN 3 WHEN i = 49 THEN 10 ELSE i END AS ie
  FROM range(50) t(i)
),
sds AS (
  SELECT DISTINCT ie, 400 + (ie % 7) * 100 AS n FROM clip
),
frame AS (
  SELECT ie, n, ((ie * 13 + j.j * j.j) % 4096 - 2048 + 2048) // 256
           AS bin
  FROM sds, LATERAL (SELECT UNNEST(range(n)) AS j) j
),
hist AS (
  SELECT f.ie, b.b AS bin, COUNT(*) FILTER (f.bin = b.b) AS cnt
  FROM frame f, LATERAL (SELECT UNNEST(range(16)) AS b) b
  GROUP BY f.ie, b.b
),
fp AS (
  SELECT ie,
         string_agg(CAST(cnt AS VARCHAR), ',' ORDER BY bin) AS hist,
         CAST(SUM(cnt) AS BIGINT) AS n_frames
  FROM hist GROUP BY ie
),
fp2 AS (
  SELECT ie, hist, n_frames,
         CAST(('0x' || substr(md5(hist), 1, 15)) AS BIGINT) AS fp
  FROM fp
),
dups AS (
  SELECT f2.fp, COUNT(*) AS n_clips_with_fp
  FROM clip c JOIN fp2 f2 ON f2.ie = c.ie
  GROUP BY f2.fp
)
SELECT c.media_id, f2.n_frames, f2.hist, f2.fp, d.n_clips_with_fp
FROM clip c
JOIN fp2 f2 ON f2.ie = c.ie
JOIN dups d ON d.fp = f2.fp
ORDER BY c.media_id
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "wav_chunks": (q_wav_chunks, SQL_WAV_CHUNKS),
    "audio_fingerprint": (q_audio_fingerprint, SQL_AUDIO_FINGERPRINT),
}
