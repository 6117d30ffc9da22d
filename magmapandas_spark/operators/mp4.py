"""ISO BMFF (MP4) container parsing — the real layer of the video
path (beyond-reference surface).

The CONTAINER is a plain big-endian box grammar defined by the public
ISO/IEC 14496-12 spec, and everything a pipeline planner needs —
duration, timescale, track inventory, payload extents — lives there.
Codec-level frame decode is real too: MJPEG through the engine's own
JPEG decoder, and AVC/H.264 through the from-scratch ladder in
operators/h264.py (see the round-8/9 paragraphs below; only the
generic multimodal.py entry points remain deliberately stubbed).
This module implements the container in both directions:

- :func:`mp4_encode` — writes a conforming minimal file: ``ftyp``,
  ``moov`` ( ``mvhd`` + per-track ``trak``/``tkhd``/``mdia``/``mdhd``/
  ``hdlr`` ), ``mdat``.
- :func:`mp4_parse` — recursive box walk (size/type headers, container
  boxes descended, unknown boxes skipped by size — the property that
  makes the format extensible), version-0 full-box field extraction,
  handler-type inventory, mdat extent + exact byte sum.

``sample_video_frames_mp4`` upgrades the frame-sampling operator: the
frame timestamp grid now comes from the FILE's mvhd duration/timescale
(a real decode), not from a trusted metadata column.

Round 6 makes frame IMAGE decode real for MJPEG: :func:`mp4_encode_mjpeg`
writes a conforming sample table (``stsd`` VisualSampleEntry 'jpeg',
``stts``/``stsz``/``stsc``/``stco``), :func:`mp4_parse` extracts the
codec fourcc + per-sample extents, and :func:`decode_mjpeg_frames`
slices each sample out of ``mdat`` and runs the engine's own baseline
JPEG decoder (operators/jpeg.py) on it — real end-to-end video frame
decode with zero codec libraries.

Round 8 extends that to AVC: :func:`decode_avc_frames` (below) routes
'avc1' sample entries through the engine's own H.264 baseline I-frame
decoder (operators/h264.py) — avcC SPS/PPS extraction, length-prefixed
NAL → Annex-B conversion, per-sample decode. Round 9's notch 13
(operators/h264p.py) added single-reference P slices, so the honest
``NotImplementedError`` boundary inside that decoder is now
long-term / MMCO reference marking, B slices, and CABAC entropy
coding — the complete P partition tree, multi-reference, explicit
weighted prediction and reference-list modification all decode (see
operators/h264.py's module docstring for the exact notch ladder).

Scale posture: identical to every decode path — one narrow
``mapInPandas`` stage, payloads never leave the executor.
"""

from __future__ import annotations

import importlib
import struct
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", len(payload) + 8) + btype + payload


def _full_box(btype: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(btype, struct.pack(">I", (version << 24) | flags) + payload)


_HANDLERS = {"video": b"vide", "audio": b"soun"}


def mp4_encode(
    duration_ms: int,
    tracks: list[str],
    mdat: bytes,
    timescale: int = 1000,
) -> bytes:
    """Minimal conforming ISO BMFF file with the given movie duration,
    track handler kinds (``"video"``/``"audio"``) and media payload."""
    duration = duration_ms * timescale // 1000
    mvhd = _full_box(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">iH", 0x00010000, 0x0100)  # rate, volume
        + b"\x00" * 10
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", len(tracks) + 1),  # next_track_ID
    )
    traks = b""
    for tid, kind in enumerate(tracks, start=1):
        tkhd = _full_box(
            b"tkhd", 0, 7,
            struct.pack(">IIIII", 0, 0, tid, 0, duration) + b"\x00" * 60,
        )
        mdhd = _full_box(
            b"mdhd", 0, 0,
            struct.pack(">IIIIHH", 0, 0, timescale, duration, 0x55C4, 0),
        )
        hdlr = _full_box(
            b"hdlr", 0, 0,
            b"\x00" * 4 + _HANDLERS[kind] + b"\x00" * 12 + b"\x00",
        )
        traks += _box(b"trak", tkhd + _box(b"mdia", mdhd + hdlr))
    moov = _box(b"moov", mvhd + traks)
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    return ftyp + moov + _box(b"mdat", mdat)


def _visual_sample_entry(
    fourcc: bytes, width: int = 0, height: int = 0, extra: bytes = b""
) -> bytes:
    """VisualSampleEntry (ISO 14496-12 §12.1.3): 86 fixed bytes plus
    optional codec-specific sub-boxes (e.g. avcC) appended inside the
    entry — the entry's size field covers them."""
    return (
        struct.pack(">I", 86 + len(extra))
        + fourcc
        + b"\x00" * 6                      # reserved
        + struct.pack(">H", 1)             # data_reference_index
        + b"\x00" * 16                     # pre_defined / reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4                      # reserved
        + struct.pack(">H", 1)             # frame_count
        + b"\x00" * 32                     # compressorname
        + struct.pack(">Hh", 0x0018, -1)   # depth, pre_defined
        + extra
    )


def mp4_encode_mjpeg(
    frames: list[bytes],
    frame_duration_ms: int = 100,
    timescale: int = 1000,
) -> bytes:
    """Conforming ISO BMFF file whose single video track carries one
    complete baseline-JPEG payload per sample (Motion-JPEG): full
    sample table — ``stsd`` ('jpeg' VisualSampleEntry), ``stts`` (one
    run of equal deltas), ``stsz`` (per-sample sizes), ``stsc`` (one
    chunk holding all samples), ``stco`` (absolute chunk offset).

    MJPEG has no inter-frame prediction, which is exactly why it is
    the honest no-codec-library video format: every sample is decodable
    by the engine's own JPEG decoder."""
    return _mp4_encode_video(
        frames, _visual_sample_entry(b"jpeg"), frame_duration_ms, timescale
    )


def avcc_record(sps_nal: bytes, pps_nal: bytes) -> bytes:
    """AVCDecoderConfigurationRecord (ISO 14496-15 §5.3.3.1) wrapped
    in its 'avcC' box: configurationVersion 1, profile/compat/level
    copied from the SPS payload, lengthSizeMinusOne 3 (4-byte sample
    NAL length prefixes), one SPS + one PPS with 2-byte lengths."""
    body = (
        bytes([1, sps_nal[1], sps_nal[2], sps_nal[3]])
        + bytes([0xFF])        # reserved(6) + lengthSizeMinusOne = 3
        + bytes([0xE1])        # reserved(3) + numOfSPS = 1
        + struct.pack(">H", len(sps_nal)) + sps_nal
        + bytes([1])           # numOfPPS
        + struct.pack(">H", len(pps_nal)) + pps_nal
    )
    return _box(b"avcC", body)


def mp4_encode_avc(
    samples: list[bytes],
    sps_nal: bytes,
    pps_nal: bytes,
    width: int,
    height: int,
    frame_duration_ms: int = 100,
    timescale: int = 1000,
) -> bytes:
    """ISO BMFF file whose video track is AVC ('avc1' sample entry
    with the avcC configuration record): each sample is one access
    unit of 4-byte-length-prefixed NAL units (AVCC framing — the MP4
    convention, NOT Annex-B: no start codes, SPS/PPS live in avcC,
    not in the samples)."""
    entry = _visual_sample_entry(
        b"avc1", width, height, avcc_record(sps_nal, pps_nal)
    )
    return _mp4_encode_video(samples, entry, frame_duration_ms, timescale)


def avc_sample(nals: list[bytes]) -> bytes:
    """One AVCC access unit: 4-byte big-endian length before each NAL."""
    return b"".join(struct.pack(">I", len(n)) + n for n in nals)


def _mp4_encode_video(
    frames: list[bytes],
    entry: bytes,
    frame_duration_ms: int = 100,
    timescale: int = 1000,
) -> bytes:
    if not frames:
        raise ValueError("video file needs at least one sample")
    n = len(frames)
    delta = frame_duration_ms * timescale // 1000
    duration = n * delta
    mdat_body = b"".join(frames)

    def build(chunk_offset: int) -> bytes:
        stsd = _full_box(
            b"stsd", 0, 0, struct.pack(">I", 1) + entry
        )
        stts = _full_box(
            b"stts", 0, 0, struct.pack(">III", 1, n, delta)
        )
        stsc = _full_box(
            b"stsc", 0, 0, struct.pack(">IIII", 1, 1, n, 1)
        )
        stsz = _full_box(
            b"stsz", 0, 0,
            struct.pack(">II", 0, n)
            + b"".join(struct.pack(">I", len(f)) for f in frames),
        )
        stco = _full_box(
            b"stco", 0, 0, struct.pack(">II", 1, chunk_offset)
        )
        stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
        minf = _box(b"minf", stbl)
        mvhd = _full_box(
            b"mvhd", 0, 0,
            struct.pack(">IIII", 0, 0, timescale, duration)
            + struct.pack(">iH", 0x00010000, 0x0100)
            + b"\x00" * 10
            + struct.pack(
                ">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000
            )
            + b"\x00" * 24
            + struct.pack(">I", 2),
        )
        tkhd = _full_box(
            b"tkhd", 0, 7,
            struct.pack(">IIIII", 0, 0, 1, 0, duration) + b"\x00" * 60,
        )
        mdhd = _full_box(
            b"mdhd", 0, 0,
            struct.pack(">IIIIHH", 0, 0, timescale, duration, 0x55C4, 0),
        )
        hdlr = _full_box(
            b"hdlr", 0, 0,
            b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"\x00",
        )
        trak = _box(b"trak", tkhd + _box(b"mdia", mdhd + hdlr + minf))
        moov = _box(b"moov", mvhd + trak)
        ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
        return ftyp + moov + _box(b"mdat", mdat_body)

    # stco stores an ABSOLUTE file offset, which depends on moov's own
    # length — build once with a placeholder to measure, then rebuild
    # (the offset field is fixed-width, so the length doesn't move)
    probe = build(0)
    mdat_payload_off = len(probe) - len(mdat_body)
    return build(mdat_payload_off)


def _walk_boxes(data: bytes, start: int, end: int):
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", data[pos : pos + 4])
        btype = data[pos + 4 : pos + 8]
        if size == 1:  # 64-bit largesize
            (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
            body_off = 16
        elif size == 0:  # box extends to end of enclosing scope
            size = end - pos
            body_off = 8
        else:
            body_off = 8
        if size < body_off or pos + size > end:
            raise ValueError(f"malformed box {btype!r} at {pos}")
        yield btype, pos + body_off, pos + size
        pos += size


_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def mp4_parse(payload: bytes) -> dict:
    """Parse an ISO BMFF stream → movie metadata dict with keys
    ``brand, timescale, duration_ms, n_tracks, track_kinds (sorted),
    mdat_bytes, mdat_sum`` plus the sample-table fields frame decode
    needs: ``codec`` (first stsd entry's fourcc; plus ``avcc``, the
    raw AVCDecoderConfigurationRecord, for 'avc1'), ``sample_sizes``
    (stsz), ``sample_deltas`` (stts, expanded per sample),
    ``chunk_offsets`` (stco, absolute file offsets)."""
    out = {
        "brand": None, "timescale": None, "duration_ms": None,
        "n_tracks": 0, "track_kinds": [], "mdat_bytes": 0, "mdat_sum": 0,
        "codec": None, "avcc": None, "sample_sizes": [],
        "sample_deltas": [], "chunk_offsets": [],
    }
    saw_ftyp = False

    def walk(start: int, end: int) -> None:
        nonlocal saw_ftyp
        for btype, b0, b1 in _walk_boxes(payload, start, end):
            if btype == b"ftyp":
                saw_ftyp = True
                out["brand"] = payload[b0 : b0 + 4].decode("ascii")
            elif btype == b"mvhd":
                version = payload[b0]
                if version != 0:
                    raise ValueError("only version-0 mvhd supported")
                _, _, ts, dur = struct.unpack(
                    ">IIII", payload[b0 + 4 : b0 + 20]
                )
                out["timescale"] = ts
                out["duration_ms"] = dur * 1000 // ts
            elif btype == b"trak":
                out["n_tracks"] += 1
                walk(b0, b1)
            elif btype == b"hdlr":
                out["track_kinds"].append(
                    payload[b0 + 8 : b0 + 12].decode("ascii")
                )
            elif btype == b"mdat":
                body = np.frombuffer(payload[b0:b1], dtype=np.uint8)
                out["mdat_bytes"] += len(body)
                out["mdat_sum"] += int(body.sum(dtype=np.int64))
            elif btype == b"stsd":
                (n_entries,) = struct.unpack(">I", payload[b0 + 4 : b0 + 8])
                if n_entries >= 1 and out["codec"] is None:
                    out["codec"] = payload[b0 + 12 : b0 + 16].decode(
                        "ascii", errors="replace"
                    )
                    # avc1 entries carry codec config in an avcC
                    # sub-box after the 86 fixed VisualSampleEntry
                    # bytes — scan the entry's sub-boxes for it
                    (esz,) = struct.unpack(
                        ">I", payload[b0 + 8 : b0 + 12]
                    )
                    e0, e1 = b0 + 8, b0 + 8 + esz
                    p_ = e0 + 86
                    while p_ + 8 <= e1:
                        (bsz,) = struct.unpack(
                            ">I", payload[p_ : p_ + 4]
                        )
                        if bsz < 8:
                            break
                        if payload[p_ + 4 : p_ + 8] == b"avcC":
                            out["avcc"] = payload[p_ + 8 : p_ + bsz]
                            break
                        p_ += bsz
            elif btype == b"stsz":
                size, cnt = struct.unpack(">II", payload[b0 + 4 : b0 + 12])
                if size != 0:
                    out["sample_sizes"] = [size] * cnt
                else:
                    out["sample_sizes"] = list(
                        struct.unpack(
                            f">{cnt}I", payload[b0 + 12 : b0 + 12 + 4 * cnt]
                        )
                    )
            elif btype == b"stts":
                (n_runs,) = struct.unpack(">I", payload[b0 + 4 : b0 + 8])
                deltas: list[int] = []
                for k in range(n_runs):
                    cnt, d = struct.unpack(
                        ">II", payload[b0 + 8 + 8 * k : b0 + 16 + 8 * k]
                    )
                    deltas.extend([d] * cnt)
                out["sample_deltas"] = deltas
            elif btype == b"stco":
                (n_off,) = struct.unpack(">I", payload[b0 + 4 : b0 + 8])
                out["chunk_offsets"] = list(
                    struct.unpack(
                        f">{n_off}I", payload[b0 + 8 : b0 + 8 + 4 * n_off]
                    )
                )
            elif btype in _CONTAINERS:
                walk(b0, b1)

    walk(0, len(payload))
    if not saw_ftyp:
        raise ValueError("not an ISO BMFF stream (missing ftyp)")
    out["track_kinds"] = sorted(out["track_kinds"])
    return out


# ---------------------------------------------------------------------
# Synthetic generator + Spark operators
# ---------------------------------------------------------------------

# Formula shared with the SQL oracle: clip i has
#   duration_ms = 1000 + i * 37
#   tracks      = video (+ audio when i % 2 = 1)
#   mdat        = 64 + i * 3 bytes, byte j = (i * 11 + j * 7) % 256

def make_synthetic_mp4(i: int) -> bytes:
    n = 64 + i * 3
    j = np.arange(n, dtype=np.int64)
    mdat = ((i * 11 + j * 7) % 256).astype(np.uint8).tobytes()
    tracks = ["video"] + (["audio"] if i % 2 else [])
    return mp4_encode(1000 + i * 37, tracks, mdat)


MEDIA_MP4_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def synthetic_mp4_media(spark: SparkSession, n: int = 40) -> DataFrame:
    rows = [(i, make_synthetic_mp4(i)) for i in range(n)]
    return spark.createDataFrame(rows, MEDIA_MP4_SCHEMA).coalesce(4)


_MP4_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("brand", T.StringType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("n_tracks", T.IntegerType()),
        T.StructField("track_kinds", T.StringType()),
        T.StructField("mdat_bytes", T.LongType()),
        T.StructField("mdat_sum", T.LongType()),
    ]
)


_MP4_PERMISSIVE_SCHEMA = T.StructType(
    _MP4_META_SCHEMA.fields + [T.StructField("error", T.StringType())]
)


def parse_mp4_metadata(media: DataFrame, permissive: bool = False) -> DataFrame:
    """Container-metadata extraction inside ``mapInPandas``: the real
    decode layer of the video path (frame decode stays stubbed).

    ``permissive=True`` quarantines malformed streams as ``error`` rows
    instead of failing the task; strict stays the gate default."""
    schema = _MP4_PERMISSIVE_SCHEMA if permissive else _MP4_META_SCHEMA

    def fn(batches):
        for pdf in batches:
            out = {f.name: [] for f in schema.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    m = mp4_parse(bytes(payload))
                    row = (m["brand"], m["duration_ms"], m["n_tracks"],
                           ",".join(m["track_kinds"]), m["mdat_bytes"],
                           m["mdat_sum"], None)
                except Exception as exc:  # noqa: BLE001
                    if not permissive:
                        raise
                    row = (None, None, None, None, None, None,
                           f"{type(exc).__name__}: {exc}")
                out["media_id"].append(mid)
                for name, val in zip(
                    ["brand", "duration_ms", "n_tracks", "track_kinds",
                     "mdat_bytes", "mdat_sum", "error"], row
                ):
                    if name in out:
                        out[name].append(val)
            yield pd.DataFrame(out)

    return media.mapInPandas(fn, schema=schema)


def sample_video_frames_mp4(
    media: DataFrame, every_ms: int = 1000
) -> DataFrame:
    """Frame-timestamp sampling where the grid comes from the FILE's
    mvhd duration (real container decode) instead of a metadata
    column. Frame image decode remains the honest stub."""
    meta = parse_mp4_metadata(media)
    # A valid container may carry mvhd duration 0 (fragmented MP4);
    # sequence(0, -1, step) throws, so guard to an empty grid instead
    # of killing the stage.
    grid = F.when(
        F.col("duration_ms") > 0,
        F.sequence(
            F.lit(0), F.col("duration_ms") - 1, F.lit(int(every_ms))
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return meta.select(
        "media_id", F.explode(grid).alias("frame_ts_ms")
    )


def q_mp4_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: parse 40 real ISO BMFF files (nested box walk,
    version-0 full boxes, handler inventory, exact mdat byte sum)."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(
        parse_mp4_metadata(synthetic_mp4_media(spark, 40)), "media_id"
    )


SQL_MP4_METADATA = """
WITH clip AS (
  SELECT i AS media_id, 1000 + i * 37 AS duration_ms,
         CASE WHEN i % 2 = 1 THEN 2 ELSE 1 END AS n_tracks,
         CASE WHEN i % 2 = 1 THEN 'soun,vide' ELSE 'vide' END
           AS track_kinds,
         64 + i * 3 AS n
  FROM range(40) t(i)
),
b AS (
  SELECT media_id, SUM((media_id * 11 + j.j * 7) % 256) AS mdat_sum
  FROM clip, LATERAL (SELECT UNNEST(range(n)) AS j) j
  GROUP BY media_id
)
SELECT clip.media_id,
       'isom' AS brand,
       CAST(duration_ms AS BIGINT) AS duration_ms,
       CAST(n_tracks AS INT) AS n_tracks,
       track_kinds,
       CAST(n AS BIGINT) AS mdat_bytes,
       CAST(mdat_sum AS BIGINT) AS mdat_sum
FROM clip JOIN b ON clip.media_id = b.media_id
ORDER BY clip.media_id
"""


# ---------------------------------------------------------------------
# MJPEG frame decode — the real video-frame path (round 6)
# ---------------------------------------------------------------------

_FRAME_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_ts_ms", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_blocks", T.LongType()),
        T.StructField("sum_dc", T.LongType()),
        T.StructField("sum_abs_ac", T.LongType()),
        T.StructField("nnz_ac", T.LongType()),
    ]
)

_FRAME_PERMISSIVE_SCHEMA = T.StructType(
    _FRAME_DECODE_SCHEMA.fields + [T.StructField("error", T.StringType())]
)


def decode_mjpeg_frames(media: DataFrame, permissive: bool = False) -> DataFrame:
    """REAL video frame decode: walk the container's sample table
    (stsz sizes + stco chunk offset), slice each sample out of
    ``mdat``, and run the engine's own baseline JPEG decoder on it —
    per frame, exact integer coefficient statistics plus the stts
    presentation timestamp. One narrow ``mapInPandas`` stage; payload
    bytes never leave the executor.

    Only MJPEG ('jpeg' stsd fourcc) is decodable without a codec
    library — inter-frame codecs raise ``NotImplementedError``
    (``permissive=True`` quarantines them as error rows instead)."""
    from magmapandas_spark.operators.jpeg import jpeg_decode_coeffs

    schema = _FRAME_PERMISSIVE_SCHEMA if permissive else _FRAME_DECODE_SCHEMA
    names = [f.name for f in _FRAME_PERMISSIVE_SCHEMA.fields][1:]

    def fn(batches):
        for pdf in batches:
            out = {f.name: [] for f in schema.fields}

            def emit(mid, row):
                out["media_id"].append(mid)
                for nm, val in zip(names, row):
                    if nm in out:
                        out[nm].append(val)

            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(payload)
                try:
                    m = mp4_parse(payload)
                    if m["codec"] != "jpeg":
                        raise NotImplementedError(
                            f"codec {m['codec']!r}: only MJPEG frames "
                            "are decodable without a codec library"
                        )
                    if not m["chunk_offsets"] or not m["sample_sizes"]:
                        raise ValueError("MJPEG file without sample table")
                    ts_scale = m["timescale"] or 1000
                    pos = m["chunk_offsets"][0]
                    t_units = 0
                    for idx, size in enumerate(m["sample_sizes"]):
                        frame = payload[pos : pos + size]
                        pos += size
                        img = jpeg_decode_coeffs(frame)
                        sum_dc = sum_abs = nnz = nb = 0
                        for comp in img.coeffs:
                            nb += comp.shape[0]
                            flat = comp.reshape(comp.shape[0], 64)
                            sum_dc += int(flat[:, 0].sum())
                            sum_abs += int(np.abs(flat[:, 1:]).sum())
                            nnz += int((flat[:, 1:] != 0).sum())
                        emit(mid, (
                            idx, t_units * 1000 // ts_scale, img.width,
                            img.height, nb, sum_dc, sum_abs, nnz, None,
                        ))
                        deltas = m["sample_deltas"]
                        t_units += deltas[idx] if idx < len(deltas) else 0
                except Exception as exc:  # noqa: BLE001
                    if not permissive:
                        raise
                    emit(mid, (None, None, None, None, None, None,
                               None, None, f"{type(exc).__name__}: {exc}"))
            yield pd.DataFrame(out)

    return media.mapInPandas(fn, schema=schema)


# Formula shared with the SQL oracle: clip i carries
#   n_frames = 2 + i % 3 frames at 100 ms per frame, and frame f is
#   the engine's synthetic JPEG with seed 3·i + f (dims + quantized
#   coefficients all follow jpeg.py's seed formulas).

def make_synthetic_mjpeg_mp4(i: int) -> bytes:
    from magmapandas_spark.operators.jpeg import make_synthetic_jpeg

    n_frames = 2 + i % 3
    frames = [make_synthetic_jpeg(3 * i + f) for f in range(n_frames)]
    return mp4_encode_mjpeg(frames, frame_duration_ms=100)


def synthetic_mjpeg_media(spark: SparkSession, n: int = 14) -> DataFrame:
    rows = [(i, make_synthetic_mjpeg_mp4(i)) for i in range(n)]
    return spark.createDataFrame(rows, MEDIA_MP4_SCHEMA).coalesce(4)


def q_video_frame_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: decode every frame of 14 real MJPEG-in-MP4 files —
    container walk (sample table), per-sample mdat slicing, REAL
    baseline-JPEG decode of each frame, stts timestamps. Exact integer
    coefficient statistics per frame sit under the hash (the oracle
    replays the seed formulas arithmetically; the float IDCT/pixel
    path is verified separately in unit tests, as for jpeg_decode)."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    out = decode_mjpeg_frames(synthetic_mjpeg_media(spark, 14))
    return tiny_sorted(
        out.select(
            "media_id", "frame_idx", "frame_ts_ms", "width", "height",
            "n_blocks", "sum_dc", "sum_abs_ac", "nnz_ac",
        ),
        "media_id", "frame_idx",
    )


# Oracle: per (clip, frame) seed = 3·i + f, then jpeg.py's dims +
# coefficient formulas replayed arithmetically (see SQL_JPEG_DECODE).
SQL_VIDEO_FRAME_DECODE = """
WITH clip AS (
  SELECT i AS media_id, f.f AS frame_idx, 3 * i + f.f AS seed
  FROM range(14) t(i),
       LATERAL (SELECT UNNEST(range(2 + i % 3)) AS f) f
),
img AS (
  SELECT media_id, frame_idx, seed,
         CASE WHEN seed % 2 = 0 THEN 8 * (4 + seed % 5)
              ELSE 16 * (2 + seed % 3) END AS w,
         CASE WHEN seed % 2 = 0 THEN 8 * (3 + seed % 4)
              ELSE 16 * (1 + seed % 2) END AS h,
         seed % 2 = 0 AS full_res
  FROM clip
),
comp AS (
  SELECT media_id, frame_idx, seed, w, h, c.c AS c,
         CASE WHEN c.c = 0 OR full_res THEN (w // 8) * (h // 8)
              ELSE (w // 16) * (h // 16) END AS nb
  FROM img, (SELECT UNNEST([0, 1, 2]) AS c) c
),
blk AS (
  SELECT media_id, frame_idx, seed, c, b.b AS b
  FROM comp, LATERAL (SELECT UNNEST(range(nb)) AS b) b
),
nbagg AS (
  SELECT media_id, frame_idx, w, h, SUM(nb) AS n_blocks
  FROM comp GROUP BY media_id, frame_idx, w, h
),
dc AS (
  SELECT media_id, frame_idx,
         SUM((seed * 5 + c * 11 + b * 3) % 41 - 20) AS sum_dc
  FROM blk GROUP BY media_id, frame_idx
),
ac AS (
  SELECT media_id, frame_idx,
         SUM(ABS((seed + c * 7 + b * 5 + k.k * 13) % 19 - 9))
           AS sum_abs_ac,
         SUM(CASE WHEN (seed + c * 7 + b * 5 + k.k * 13) % 19 - 9
                  <> 0 THEN 1 ELSE 0 END) AS nnz_ac
  FROM blk, LATERAL (SELECT UNNEST(range(1, 10)) AS k) k
  GROUP BY media_id, frame_idx
)
SELECT n.media_id,
       CAST(n.frame_idx AS INT) AS frame_idx,
       CAST(n.frame_idx * 100 AS BIGINT) AS frame_ts_ms,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(n_blocks AS BIGINT) AS n_blocks,
       CAST(sum_dc AS BIGINT) AS sum_dc,
       CAST(sum_abs_ac AS BIGINT) AS sum_abs_ac,
       CAST(nnz_ac AS BIGINT) AS nnz_ac
FROM nbagg n
JOIN dc ON n.media_id = dc.media_id AND n.frame_idx = dc.frame_idx
JOIN ac ON n.media_id = ac.media_id AND n.frame_idx = ac.frame_idx
ORDER BY n.media_id, n.frame_idx
"""


# ---------------------------------------------------------------------
# AVC (H.264) frame decode — the codec ladder meets the container
# ---------------------------------------------------------------------

_AVC_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_nals", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_mbs", T.LongType()),
        T.StructField("sum_y", T.LongType()),
        T.StructField("sum_cb", T.LongType()),
        T.StructField("sum_cr", T.LongType()),
        T.StructField("ck_y", T.LongType()),
    ]
)

_AVC_PERMISSIVE_SCHEMA = T.StructType(
    _AVC_FRAME_SCHEMA.fields + [T.StructField("error", T.StringType())]
)


def parse_avcc_config(avcc: bytes) -> tuple[list[bytes], list[bytes]]:
    """SPS / PPS NAL lists from an AVCDecoderConfigurationRecord
    (ISO 14496-15 §5.3.3.1); asserts the 4-byte NAL length convention
    this decoder walks."""
    if not avcc or avcc[0] != 1:
        raise ValueError("missing/unsupported avcC record")
    if (avcc[4] & 3) != 3:
        raise NotImplementedError(
            "only 4-byte AVCC NAL length prefixes supported"
        )
    n_sps = avcc[5] & 0x1F
    pos = 6
    sps = []
    for _ in range(n_sps):
        (ln,) = struct.unpack(">H", avcc[pos : pos + 2])
        sps.append(avcc[pos + 2 : pos + 2 + ln])
        pos += 2 + ln
    n_pps = avcc[pos]
    pos += 1
    pps = []
    for _ in range(n_pps):
        (ln,) = struct.unpack(">H", avcc[pos : pos + 2])
        pps.append(avcc[pos + 2 : pos + 2 + ln])
        pos += 2 + ln
    return sps, pps


def _avcc_sample_nals(sample: bytes) -> list[bytes]:
    """NAL units of one AVCC access unit (4-byte length prefixes)."""
    nals = []
    pos = 0
    while pos + 4 <= len(sample):
        (ln,) = struct.unpack(">I", sample[pos : pos + 4])
        if pos + 4 + ln > len(sample):
            raise ValueError("truncated AVCC NAL")
        nals.append(sample[pos + 4 : pos + 4 + ln])
        pos += 4 + ln
    if pos != len(sample):
        raise ValueError("trailing bytes after last AVCC NAL")
    return nals


def decode_avc_frames(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """REAL H.264-in-MP4 decode: walk the container's sample table,
    slice each AVCC access unit out of ``mdat``, convert to Annex-B
    with the avcC parameter sets prepended, and run the engine's own
    baseline I-frame decoder (operators/h264.py, notches 1-6) — per
    frame, exact plane statistics + the MB-order luma checksum. One
    narrow ``mapInPandas`` stage; payload bytes never leave the
    executor. Inter-predicted samples raise inside the H.264 ladder's
    honest boundary (``permissive=True`` quarantines any failing
    payload as an error row instead — the MJPEG discipline, so one
    corrupt crawl file never kills the batch)."""
    from magmapandas_spark.operators.h264 import (
        _frame_ck,
        decode_h264_stream,
    )

    schema = _AVC_PERMISSIVE_SCHEMA if permissive else _AVC_FRAME_SCHEMA

    def fn(batches):
        for pdf in batches:
            out = {f.name: [] for f in schema.fields}

            def quarantine(mid, err):
                out["media_id"].append(mid)
                for f_ in schema.fields[1:-1]:
                    out[f_.name].append(None)
                out["error"].append(err)

            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(payload)
                try:
                    m = mp4_parse(payload)
                    if m["codec"] != "avc1":
                        raise ValueError(
                            f"not an AVC track: {m['codec']!r}"
                        )
                    sps_l, pps_l = parse_avcc_config(m["avcc"])
                except Exception as e:
                    if not permissive:
                        raise
                    quarantine(mid, f"{type(e).__name__}: {e}")
                    continue
                header = b"".join(
                    b"\x00\x00\x00\x01" + n for n in sps_l + pps_l
                )
                pos = m["chunk_offsets"][0]
                for idx, size in enumerate(m["sample_sizes"]):
                    try:
                        nals = _avcc_sample_nals(
                            payload[pos : pos + size]
                        )
                        annexb = header + b"".join(
                            b"\x00\x00\x00\x01" + n for n in nals
                        )
                        pics, sps = decode_h264_stream(annexb)
                        if len(pics) != 1:
                            raise ValueError(
                                "AVC sample is not one picture"
                            )
                        y, cb, cr = pics[0]
                    except Exception as e:
                        if not permissive:
                            raise
                        pos += size
                        quarantine(mid, f"{type(e).__name__}: {e}")
                        continue
                    pos += size
                    mbs_w, mbs_h = sps["mbs_w"], sps["mbs_h"]
                    ck = _frame_ck(y, mbs_w, mbs_h)
                    out["media_id"].append(mid)
                    out["frame_idx"].append(idx)
                    out["n_nals"].append(len(nals))
                    out["width"].append(y.shape[1])
                    out["height"].append(y.shape[0])
                    out["n_mbs"].append(mbs_w * mbs_h)
                    out["sum_y"].append(int(y.sum()))
                    out["sum_cb"].append(int(cb.sum()))
                    out["sum_cr"].append(int(cr.sum()))
                    out["ck_y"].append(ck)
                    if permissive:
                        out["error"].append(None)
            yield pd.DataFrame(out)

    return media.mapInPandas(fn, schema)


#: value-seed offset for the AVC-in-MP4 corpus: same closed forms as
#: the GOP corpus, different content (sd = 96 + 4i + f keeps per-frame
#: seeds unique and disjoint from notch 6's 4i + f)
_AVC_SEED_OFF = 96


def make_synthetic_avc_mp4(i: int) -> bytes:
    from magmapandas_spark.operators.h264 import (
        _encode_picture_slices,
        _fixture_mode_frame,
        _gop_parameter_sets,
    )

    mbs_w, mbs_h = 2 + i % 3, 2 + i % 2
    sps_nal, pps_nal = _gop_parameter_sets(mbs_w, mbs_h, 26)
    samples = []
    for f in range(1 + i % 3):
        frame = _fixture_mode_frame(_AVC_SEED_OFF + 4 * i + f, mbs_w, mbs_h)
        samples.append(
            avc_sample(_encode_picture_slices(frame, f, mbs_w, mbs_h))
        )
    return mp4_encode_avc(
        samples, sps_nal, pps_nal, 16 * mbs_w, 16 * mbs_h
    )


def synthetic_avc_media(spark: SparkSession, n: int = 24) -> DataFrame:
    rows = [
        (i, bytearray(make_synthetic_avc_mp4(i))) for i in range(n)
    ]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def q_h264_mp4_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: decode 24 AVC-in-MP4 files end to end — ISO BMFF
    walk (stsd 'avc1' entry, avcC parameter-set record, stsz/stco
    sample extents), AVCC length-prefixed access units converted to
    Annex-B, then the engine's own H.264 I-frame ladder per sample —
    one exact statistics row per frame under the cross-engine hash.
    The container tier and the codec ladder verified as ONE path."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(
        decode_avc_frames(synthetic_avc_media(spark)),
        "media_id",
        "frame_idx",
    )


def avcc_record_multi(
    sps_nals: list[bytes], pps_nals: list[bytes]
) -> bytes:
    """AVCDecoderConfigurationRecord carrying MULTIPLE parameter sets
    (ISO 14496-15 allows up to 31 SPS / 255 PPS) — the form real
    multi-QP encodes ship, and what the notch-12 composition corpus
    needs (two PPSs at different init_qp)."""
    body = (
        bytes([1, sps_nals[0][1], sps_nals[0][2], sps_nals[0][3]])
        + bytes([0xFF])  # reserved(6) + lengthSizeMinusOne = 3
        + bytes([0xE0 | len(sps_nals)])
        + b"".join(
            struct.pack(">H", len(n)) + n for n in sps_nals
        )
        + bytes([len(pps_nals)])
        + b"".join(
            struct.pack(">H", len(n)) + n for n in pps_nals
        )
    )
    return _box(b"avcC", body)


def make_synthetic_avc_ac_mp4(i: int) -> bytes:
    """Ladder clip ``i`` (notch 12: AC + I_4x4 + multi-slice +
    multi-PPS pictures) as a conforming AVC-in-MP4 file: the avcC
    record carries the SPS and BOTH PPSs, each sample is one access
    unit of two 4-byte-length-prefixed slice NALs."""
    from magmapandas_spark.operators.h264 import _ladder_nals, _n12_geom

    sps_nal, pps_nals, pictures = _ladder_nals(i)
    mbs_w, mbs_h, _ = _n12_geom(i)
    entry = _visual_sample_entry(
        b"avc1", 16 * mbs_w, 16 * mbs_h,
        avcc_record_multi([sps_nal], pps_nals),
    )
    return _mp4_encode_video(
        [avc_sample(nals) for nals in pictures], entry
    )


def synthetic_avc_ac_media(
    spark: SparkSession, n: int = 12
) -> DataFrame:
    return spark.createDataFrame(
        [(i, bytearray(make_synthetic_avc_ac_mp4(i))) for i in range(n)],
        "media_id long, payload binary",
    )


def q_h264_mp4_ac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query (the container x AC capstone): the notch-12
    composition corpus shipped as AVC-in-MP4 — ISO BMFF walk, a
    MULTI-parameter-set avcC record (two PPSs at different init_qp),
    two-slice access units, then full AC / I_4x4 / slice-gated decode
    per sample. Every composition axis the ladder has, through the
    container path, one exact statistics row per frame under the
    cross-engine hash."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(
        decode_avc_frames(synthetic_avc_ac_media(spark)),
        "media_id",
        "frame_idx",
    )


def decode_avc_track(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """SEQUENTIAL AVC track decode — the inter-prediction twin of
    :func:`decode_avc_frames`: a P picture references the previously
    decoded picture, so samples cannot be decoded in isolation; the
    whole sample list is converted to ONE Annex-B stream (parameter
    sets from avcC, then every access unit in track order) and decoded
    stateful through the H.264 ladder. One statistics row per frame;
    ``n_nals`` counts the sample's own NALs. Still one narrow
    ``mapInPandas`` stage per payload — reference state lives inside
    the decode call, never across rows, so the stage parallelizes
    across payloads exactly like the per-sample path. With
    ``permissive=True`` a failing payload quarantines WHOLE (an error
    row): a broken reference chain poisons every later frame, so
    per-sample salvage would report garbage as decoded."""
    from magmapandas_spark.operators.h264 import (
        _frame_ck,
        decode_h264_stream_info,
    )

    schema = _AVC_PERMISSIVE_SCHEMA if permissive else _AVC_FRAME_SCHEMA

    def fn(batches):
        for pdf in batches:
            out = {f.name: [] for f in schema.fields}

            def quarantine(mid, err):
                out["media_id"].append(mid)
                for f_ in schema.fields[1:-1]:
                    out[f_.name].append(None)
                out["error"].append(err)

            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(payload)
                try:
                    m = mp4_parse(payload)
                    if m["codec"] != "avc1":
                        raise ValueError(
                            f"not an AVC track: {m['codec']!r}"
                        )
                    sps_l, pps_l = parse_avcc_config(m["avcc"])
                    pos = m["chunk_offsets"][0]
                    sample_nals = []
                    for size in m["sample_sizes"]:
                        sample_nals.append(
                            _avcc_sample_nals(payload[pos : pos + size])
                        )
                        pos += size
                    annexb = b"".join(
                        b"\x00\x00\x00\x01" + n
                        for n in sps_l + pps_l
                    ) + b"".join(
                        b"\x00\x00\x00\x01" + n
                        for nals in sample_nals
                        for n in nals
                    )
                    pics, sps, _counts = decode_h264_stream_info(
                        annexb
                    )
                    if len(pics) != len(sample_nals):
                        raise ValueError(
                            f"track decoded {len(pics)} pictures from "
                            f"{len(sample_nals)} samples — access "
                            "units do not map 1:1 to pictures"
                        )
                except Exception as e:
                    if not permissive:
                        raise
                    quarantine(mid, f"{type(e).__name__}: {e}")
                    continue
                mbs_w, mbs_h = sps["mbs_w"], sps["mbs_h"]
                for idx, (y, cb, cr) in enumerate(pics):
                    ck = _frame_ck(y, mbs_w, mbs_h)
                    out["media_id"].append(mid)
                    out["frame_idx"].append(idx)
                    out["n_nals"].append(len(sample_nals[idx]))
                    out["width"].append(y.shape[1])
                    out["height"].append(y.shape[0])
                    out["n_mbs"].append(mbs_w * mbs_h)
                    out["sum_y"].append(int(y.sum()))
                    out["sum_cb"].append(int(cb.sum()))
                    out["sum_cr"].append(int(cr.sum()))
                    out["ck_y"].append(ck)
                    if permissive:
                        out["error"].append(None)
            yield pd.DataFrame(out)

    return media.mapInPandas(fn, schema)


def make_synthetic_avc_p_mp4(i: int) -> bytes:
    """Notch-13 clip ``i`` (I->P->P inter-prediction chain) as a
    conforming AVC-in-MP4 file: one access unit per picture, 4-byte
    length prefixes, parameter sets in the avcC record."""
    from magmapandas_spark.operators.h264p import _n13_geom, _p_nals

    sps_nal, pps_nal, pictures = _p_nals(i)
    mbs_w, mbs_h = _n13_geom(i)
    entry = _visual_sample_entry(
        b"avc1", 16 * mbs_w, 16 * mbs_h,
        avcc_record(sps_nal, pps_nal),
    )
    return _mp4_encode_video(
        [avc_sample(nals) for nals in pictures], entry
    )


def synthetic_avc_p_media(
    spark: SparkSession, n: int | None = None
) -> DataFrame:
    from magmapandas_spark.operators.h264p import _N13_CLIPS

    n = _N13_CLIPS if n is None else n
    return spark.createDataFrame(
        [(i, bytearray(make_synthetic_avc_p_mp4(i))) for i in range(n)],
        "media_id long, payload binary",
    )


def q_h264_mp4_p_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query (the container x INTER capstone): the notch-13
    P-slice corpus shipped as AVC-in-MP4 — ISO BMFF walk, avcC
    parameter sets, one access unit per picture — decoded as a
    SEQUENTIAL track so every P picture motion-compensates from the
    previously reconstructed sample, one exact statistics row per
    frame under the cross-engine hash. Proves the container tier and
    the inter-prediction ladder compose."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(
        decode_avc_track(synthetic_avc_p_media(spark)),
        "media_id",
        "frame_idx",
    )


def _codec_oracle(module: str, name: str) -> Callable[[], str]:
    """Builder for an AVC-in-MP4 oracle, which h264/h264p build beside
    their decoders' explicit-loop twins; imported on first build."""
    return lambda: getattr(
        importlib.import_module(f"magmapandas_spark.operators.{module}"),
        name,
    )


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "mp4_metadata": (q_mp4_metadata, SQL_MP4_METADATA),
    "video_frame_decode": (q_video_frame_decode, SQL_VIDEO_FRAME_DECODE),
    "h264_mp4_decode": (
        q_h264_mp4_decode,
        _codec_oracle("h264", "SQL_H264_MP4_DECODE"),
    ),
    "h264_mp4_ac_decode": (
        q_h264_mp4_ac_decode,
        _codec_oracle("h264", "SQL_H264_MP4_AC_DECODE"),
    ),
    "h264_mp4_p_decode": (
        q_h264_mp4_p_decode,
        _codec_oracle("h264p", "SQL_H264_MP4_P_DECODE"),
    ),
}
