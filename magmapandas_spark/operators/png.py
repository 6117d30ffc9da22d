"""Pure-Python/numpy PNG codec (RFC 2083) — second real
compressed-format image decode path for the multimodal tier.

PNG's compression is DEFLATE, which the Python standard library's
``zlib`` provides, so unlike JPEG nothing has to be reimplemented at
the bit level: the work is the container and the scanline filter
pipeline, both implemented here from the public spec:

- chunk stream parse with CRC-32 validation (IHDR / PLTE-less truecolor
  / IDAT concatenation / IEND);
- scanline unfiltering for all five filter types (None, Sub, Up,
  Average, Paeth), Paeth per the spec's predictor tie-break order;
- 8-bit greyscale (color type 0), RGB (2) and RGBA (6), interlace 0.

PNG is lossless, so the Spark gate query can compare exact per-channel
pixel sums against an arithmetic DuckDB oracle — a stronger statement
than JPEG's (where only the entropy layer is exactly checkable).

Scale posture: identical to the JPEG/PPM paths — decode inside
``mapInPandas``, one narrow Arrow stage, payloads never leave the
executor.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SIG = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 6: 4}  # colortype -> samples per pixel


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _filter_row(
    ftype: int, raw: np.ndarray, prev: np.ndarray, bpp: int
) -> np.ndarray:
    """Apply filter ``ftype`` to one raw scanline (encoder side)."""
    n = len(raw)
    raw16 = raw.astype(np.int16)
    if ftype == 0:
        return raw.copy()
    if ftype == 1:  # Sub
        left = np.zeros(n, dtype=np.int16)
        left[bpp:] = raw16[:-bpp]
        return ((raw16 - left) % 256).astype(np.uint8)
    if ftype == 2:  # Up
        return ((raw16 - prev.astype(np.int16)) % 256).astype(np.uint8)
    if ftype == 3:  # Average
        left = np.zeros(n, dtype=np.int16)
        left[bpp:] = raw16[:-bpp]
        return ((raw16 - (left + prev.astype(np.int16)) // 2) % 256).astype(
            np.uint8
        )
    if ftype == 4:  # Paeth
        out = np.empty(n, dtype=np.uint8)
        for x in range(n):
            a = int(raw[x - bpp]) if x >= bpp else 0
            b = int(prev[x])
            c = int(prev[x - bpp]) if x >= bpp else 0
            out[x] = (int(raw[x]) - _paeth(a, b, c)) % 256
        return out
    raise ValueError(f"unknown filter type {ftype}")


def _unfilter_row(
    ftype: int, filt: np.ndarray, prev: np.ndarray, bpp: int
) -> np.ndarray:
    """Reconstruct one scanline (decoder side)."""
    n = len(filt)
    if ftype == 0:
        return filt.copy()
    if ftype == 2:  # Up — vectorized (no intra-row dependency)
        return ((filt.astype(np.int16) + prev.astype(np.int16)) % 256).astype(
            np.uint8
        )
    out = np.zeros(n, dtype=np.uint8)
    if ftype == 1:  # Sub
        for x in range(n):
            left = int(out[x - bpp]) if x >= bpp else 0
            out[x] = (int(filt[x]) + left) % 256
        return out
    if ftype == 3:  # Average
        for x in range(n):
            left = int(out[x - bpp]) if x >= bpp else 0
            out[x] = (int(filt[x]) + (left + int(prev[x])) // 2) % 256
        return out
    if ftype == 4:  # Paeth
        for x in range(n):
            a = int(out[x - bpp]) if x >= bpp else 0
            b = int(prev[x])
            c = int(prev[x - bpp]) if x >= bpp else 0
            out[x] = (int(filt[x]) + _paeth(a, b, c)) % 256
        return out
    raise ValueError(f"unknown filter type {ftype}")


def png_encode(
    pixels: np.ndarray, filter_for_row=None, level: int = 6
) -> bytes:
    """Encode an (h, w) or (h, w, c) uint8 raster (c in {1, 3, 4}) as
    PNG. ``filter_for_row(row_idx) -> 0..4`` selects the per-row filter
    (default Sub) — tests use it to exercise every filter type."""
    if pixels.ndim == 2:
        pixels = pixels[..., None]
    h, w, c = pixels.shape
    colortype = {1: 0, 3: 2, 4: 6}[c]
    bpp = c
    if filter_for_row is None:
        filter_for_row = lambda r: 1  # noqa: E731
    raws = pixels.reshape(h, w * c)
    prev = np.zeros(w * c, dtype=np.uint8)
    stream = bytearray()
    for r in range(h):
        ftype = int(filter_for_row(r))
        stream.append(ftype)
        stream += _filter_row(ftype, raws[r], prev, bpp).tobytes()
        prev = raws[r]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, colortype, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(stream), level))
        + _chunk(b"IEND", b"")
    )


def png_decode(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a PNG → (width, height, (h, w, c) uint8 raster).

    Real format validation: signature, per-chunk CRC-32, IHDR sanity,
    decompressed length check."""
    if payload[:8] != _SIG:
        raise ValueError("not a PNG payload (bad signature)")
    pos = 8
    width = height = 0
    colortype = -1
    idat = bytearray()
    seen_end = False
    while pos < len(payload) and not seen_end:
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {ctype!r} chunk")
        if ctype == b"IHDR":
            width, height, depth, colortype, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if depth != 8:
                raise ValueError("only 8-bit depth supported")
            if colortype not in _CHANNELS:
                raise ValueError(f"unsupported color type {colortype}")
            if interlace != 0:
                raise ValueError("Adam7 interlace not supported")
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            seen_end = True
        pos += 12 + length
    if not seen_end:
        raise ValueError("missing IEND chunk")
    c = _CHANNELS[colortype]
    raw = zlib.decompress(bytes(idat))
    stride = width * c
    if len(raw) != height * (stride + 1):
        raise ValueError("decompressed size mismatch")
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for r in range(height):
        out[r] = _unfilter_row(int(arr[r, 0]), arr[r, 1:], prev, c)
        prev = out[r]
    return width, height, out.reshape(height, width, c)


# ---------------------------------------------------------------------
# Synthetic generator + Spark operators
# ---------------------------------------------------------------------

# Pixel formula shared with the SQL oracle: image i is RGB with
# w = 16 + i % 13, h = 12 + i % 11; raster byte j = (i*7 + j*j) % 256.
# Per-row filter type (i + row) % 5 — every filter type is exercised;
# lossless decode must return exactly these bytes.

def synthetic_png_dims(i: int) -> tuple[int, int]:
    return 16 + i % 13, 12 + i % 11


def make_synthetic_png(i: int) -> bytes:
    w, h = synthetic_png_dims(i)
    j = np.arange(w * h * 3, dtype=np.int64)
    px = ((i * 7 + j * j) % 256).astype(np.uint8).reshape(h, w, 3)
    return png_encode(px, filter_for_row=lambda r: (i + r) % 5)


MEDIA_PNG_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def synthetic_png_media(spark: SparkSession, n: int = 40) -> DataFrame:
    rows = [(i, make_synthetic_png(i)) for i in range(n)]
    return spark.createDataFrame(rows, MEDIA_PNG_SCHEMA).coalesce(4)


_PNG_DECODE_SCHEMA = T.StructType(
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


_PNG_PERMISSIVE_SCHEMA = T.StructType(
    _PNG_DECODE_SCHEMA.fields + [T.StructField("error", T.StringType())]
)


def decode_pngs(media: DataFrame, permissive: bool = False) -> DataFrame:
    """Decode PNG payloads inside ``mapInPandas``; emit header dims and
    exact per-channel pixel sums (lossless codec → integers all the way,
    the full inflate + unfilter pipeline sits under the oracle hash).

    ``permissive=True`` quarantines corrupt payloads (CRC mismatches,
    truncated streams) as ``error`` rows instead of failing the task —
    see decode_jpegs for the rationale; strict stays the gate default."""
    schema = _PNG_PERMISSIVE_SCHEMA if permissive else _PNG_DECODE_SCHEMA

    def fn(batches):
        for pdf in batches:
            out = {f.name: [] for f in schema.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    w, h, px = png_decode(bytes(payload))
                    # Per-channel sums keyed off the decoded raster's
                    # actual channel count: grayscale replicates into
                    # r=g=b, RGBA drops alpha — never reshape(-1, 3),
                    # which silently mixes channels for 4-channel
                    # payloads whose byte count divides by 3.
                    c = px.shape[2]
                    ch = px.reshape(-1, c).sum(axis=0, dtype=np.int64)
                    if c == 1:
                        r = g = b = int(ch[0])
                    else:  # c in (3, 4); alpha (ch[3]) intentionally dropped
                        r, g, b = int(ch[0]), int(ch[1]), int(ch[2])
                    row = (w, h, w * h, r, g, b, None)
                except Exception as exc:  # noqa: BLE001
                    if not permissive:
                        raise
                    row = (None, None, None, None, None, None,
                           f"{type(exc).__name__}: {exc}")
                out["media_id"].append(mid)
                for name, val in zip(
                    ["width", "height", "n_px", "sum_r", "sum_g",
                     "sum_b", "error"], row
                ):
                    if name in out:
                        out[name].append(val)
            yield pd.DataFrame(out)

    return media.mapInPandas(fn, schema=schema)


def q_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: decode 40 real PNGs (all five scanline filters in
    play) and compare exact integer pixel statistics."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(decode_pngs(synthetic_png_media(spark, 40)),
                       "media_id")


SQL_PNG_DECODE = """
WITH img AS (
  SELECT i AS media_id, 16 + i % 13 AS w, 12 + i % 11 AS h
  FROM range(40) t(i)
),
px AS (
  SELECT media_id, w, h, j.j AS j,
         (media_id * 7 + j.j * j.j) % 256 AS b
  FROM img, LATERAL (SELECT UNNEST(range(w * h * 3)) AS j) j
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


# ---------------------------------------------------------------------
# Image fingerprint dedup (round 8)
# ---------------------------------------------------------------------

_FP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("hist", T.StringType()),
        T.StructField("fp", T.LongType()),
    ]
)


def png_fingerprints(media: DataFrame) -> DataFrame:
    """Per-image pixel-histogram fingerprints: decode (real inflate +
    per-row unfilter), bucket all channel bytes into 16 equi-width
    bins, hash the ordered count string (md5-prefix BIGINT) — images
    sharing a fingerprint are near-duplicate candidates. The image
    leg of the multimodal dedup quad (text / video / audio / image);
    one narrow Arrow stage."""
    import hashlib

    def fn(batches):
        for pdf in batches:
            out = {f.name: [] for f in _FP_SCHEMA.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, px = png_decode(bytes(payload))
                flat = px.reshape(-1).astype(np.int64)
                counts = np.bincount(flat // 16, minlength=16)[:16]
                hist = ",".join(str(int(c)) for c in counts)
                fp = int(
                    hashlib.md5(hist.encode()).hexdigest()[:15], 16
                )
                out["media_id"].append(mid)
                out["n_px"].append(int(flat.size))
                out["hist"].append(hist)
                out["fp"].append(fp)
            yield pd.DataFrame(out)

    return media.mapInPandas(fn, _FP_SCHEMA)


def q_image_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: pixel-histogram fingerprints over the 40-image PNG
    corpus plus two byte-duplicate images (media 40/41 repeat images
    2/7) with per-fingerprint collision counts — the image-dedup
    path, collisions non-vacuous, through the REAL inflate/unfilter
    decode."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    base = synthetic_png_media(spark, 40)
    dups = spark.createDataFrame(
        [(40, make_synthetic_png(2)), (41, make_synthetic_png(7))],
        MEDIA_PNG_SCHEMA,
    )
    from pyspark.sql import Window

    fps = png_fingerprints(base.unionByName(dups))
    # fp-partitioned window, not groupBy+join: a join would re-run
    # the Arrow decode stage on both subtrees (see q_video_fingerprint)
    n = F.count(F.lit(1)).over(Window.partitionBy("fp"))
    return tiny_sorted(
        fps.select(
            "media_id", "n_px", "hist", "fp",
            n.alias("n_images_with_fp"),
        ),
        "media_id",
    )


SQL_IMAGE_FINGERPRINT = """
WITH clip AS (
  SELECT i AS media_id,
         CASE WHEN i = 40 THEN 2 WHEN i = 41 THEN 7 ELSE i END AS ie
  FROM range(42) t(i)
),
sds AS (
  SELECT DISTINCT ie,
         (16 + ie % 13) * (12 + ie % 11) * 3 AS n FROM clip
),
pix AS (
  SELECT ie, n, ((ie * 7 + j.j * j.j) % 256) // 16 AS bin
  FROM sds, LATERAL (SELECT UNNEST(range(n)) AS j) j
),
hist AS (
  SELECT p.ie, b.b AS bin, COUNT(*) FILTER (p.bin = b.b) AS cnt
  FROM pix p, LATERAL (SELECT UNNEST(range(16)) AS b) b
  GROUP BY p.ie, b.b
),
fp AS (
  SELECT ie,
         string_agg(CAST(cnt AS VARCHAR), ',' ORDER BY bin) AS hist,
         CAST(SUM(cnt) AS BIGINT) AS n_px
  FROM hist GROUP BY ie
),
fp2 AS (
  SELECT ie, hist, n_px,
         CAST(('0x' || substr(md5(hist), 1, 15)) AS BIGINT) AS fp
  FROM fp
),
dups AS (
  SELECT f2.fp, COUNT(*) AS n_images_with_fp
  FROM clip c JOIN fp2 f2 ON f2.ie = c.ie
  GROUP BY f2.fp
)
SELECT c.media_id, f2.n_px, f2.hist, f2.fp, d.n_images_with_fp
FROM clip c
JOIN fp2 f2 ON f2.ie = c.ie
JOIN dups d ON d.fp = f2.fp
ORDER BY c.media_id
"""


def write_fp_index(
    media: DataFrame, table: str, n_buckets: int = 32
) -> None:
    """Persist the corpus's image fingerprints as a table BUCKETED on
    fp — the incremental multimodal-dedup shape (the write_lsh_index
    pattern on the fingerprint tier): the index is written once and
    every arriving media batch probes it with an equi-join in which
    ONLY the new batch's fingerprints shuffle; the stored side reads
    its buckets with no exchange. At crawl scale the index is one
    ~40-byte row per image."""
    from magmapandas_spark.operators.dedup import _drop_table_and_dir

    # survive a stale prior-session warehouse dir (same hazard as
    # write_lsh_index: LOCATION_ALREADY_EXISTS on a fresh catalog)
    _drop_table_and_dir(media.sparkSession, table)
    (
        png_fingerprints(media)
        .write.mode("overwrite")
        .bucketBy(n_buckets, "fp")
        .sortBy("fp")
        .saveAsTable(table, format="parquet")
    )


def incremental_fp_duplicates(
    new_media: DataFrame, table: str
) -> DataFrame:
    """Fingerprint-duplicate candidates between an arriving media
    batch and the persisted index: decode + fingerprint the batch
    (one narrow Arrow stage), equi-join the bucketed index on fp —
    only the batch side shuffles."""
    spark = new_media.sparkSession
    idx = spark.table(table).select(
        F.col("media_id").alias("idx_media_id"), "fp"
    )
    batch = png_fingerprints(new_media).select("media_id", "fp")
    return batch.join(idx, "fp").select(
        "media_id", "idx_media_id", "fp"
    )


# index tables already built by THIS process (keyed by table name,
# which embeds the applicationId, so a restarted session rebuilds) —
# lets repeated invocations of q_fp_index_probe skip the
# DROP/rmtree/saveAsTable build and time ONLY the probe plan, the
# thing the gate entry claims to measure (a deployed index is built
# once and probed per batch; min-of-N bench samples therefore record
# the steady-state probe cost, not the one-time build)
_FP_INDEX_BUILT: dict = {}  # table -> n_images it was built with


def ensure_fp_index(spark: SparkSession, n_images: int = 40) -> str:
    """Build the bucketed fingerprint index once per session and
    return its table name. First call per process pays the scratch
    hygiene (DROP stale catalog entry, clear a prior same-app table
    dir) and the bucketed ``write_fp_index``; later calls are a set
    lookup."""
    import re

    # per-session table name: two sessions (a bench run racing a test
    # run) must not DROP/rmtree/saveAsTable the same location — every
    # other registry query is a pure read, this one builds an index
    app = re.sub(
        r"[^A-Za-z0-9_]", "_", spark.sparkContext.applicationId
    )
    table = f"fp_index_gate_{app}"
    if _FP_INDEX_BUILT.get(table) == n_images:
        return table
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a table dir left by a PRIOR run of this same app isn't in a
    # fresh catalog, and saveAsTable refuses to reuse the location —
    # clear it too (stale other-app dirs stay; the warehouse is
    # gitignored scratch)
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/{table}", ignore_errors=True)
    # opportunistic scratch hygiene: per-app table names mean every
    # session leaves one dir behind; reap OTHER apps' dirs once they
    # are a day old (a concurrent live session's table is never that
    # old — sessions here live minutes; 24 h is two orders of margin)
    import os
    import time as _time

    cutoff = _time.time() - 24 * 3600
    try:
        for d in os.listdir(wh):
            if d.startswith("fp_index_gate_") and d != table:
                p = os.path.join(wh, d)
                if os.path.getmtime(p) < cutoff:
                    shutil.rmtree(p, ignore_errors=True)
    except OSError:
        pass  # warehouse dir listing is best-effort scratch hygiene
    write_fp_index(synthetic_png_media(spark, n_images), table)
    # keyed table -> n_images: a later call with a different corpus
    # size replaces the entry and rebuilds, never silently returning
    # an index of the wrong size
    _FP_INDEX_BUILT[table] = n_images
    return table


def q_fp_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: REPLAY the bucketed fingerprint index path under
    the oracle hash — ``ensure_fp_index`` persists the 40-image
    corpus's fingerprints bucketed on fp (once per session; repeated
    bench samples reuse it so min-of-N times the probe, not the
    build), then ``incremental_fp_duplicates`` probes it with a
    3-image batch (two byte-duplicates of indexed images 2/7 plus one
    fresh image). The result is the real probe output (batch side
    shuffles once, stored side reads its buckets with no exchange —
    tests/test_lsh_index.py pins the plan); the oracle recomputes the
    same fingerprint join in closed form. Completes the verified-index
    pattern: LSH and IVF probes already have hashed relational twins."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    table = ensure_fp_index(spark, 40)
    batch = spark.createDataFrame(
        [
            (100, make_synthetic_png(2)),
            (101, make_synthetic_png(7)),
            (102, make_synthetic_png(45)),
        ],
        MEDIA_PNG_SCHEMA,
    )
    return tiny_sorted(
        incremental_fp_duplicates(batch, table),
        "media_id",
        "idx_media_id",
    )


SQL_FP_INDEX_PROBE = """
WITH batch AS (
  SELECT * FROM (VALUES (100, 2), (101, 7), (102, 45)) t(media_id, ie)
),
idx AS (SELECT i AS media_id, i AS ie FROM range(40) t(i)),
seeds AS (
  SELECT DISTINCT ie FROM (
    SELECT ie FROM batch UNION ALL SELECT ie FROM idx
  )
),
sds AS (
  SELECT ie, (16 + ie % 13) * (12 + ie % 11) * 3 AS n FROM seeds
),
pix AS (
  SELECT ie, ((ie * 7 + j.j * j.j) % 256) // 16 AS bin
  FROM sds, LATERAL (SELECT UNNEST(range(n)) AS j) j
),
hist AS (
  SELECT p.ie, b.b AS bin, COUNT(*) FILTER (p.bin = b.b) AS cnt
  FROM pix p, LATERAL (SELECT UNNEST(range(16)) AS b) b
  GROUP BY p.ie, b.b
),
fp AS (
  SELECT ie,
         string_agg(CAST(cnt AS VARCHAR), ',' ORDER BY bin) AS hist
  FROM hist GROUP BY ie
),
fp2 AS (
  SELECT ie, CAST(('0x' || substr(md5(hist), 1, 15)) AS BIGINT) AS fp
  FROM fp
),
bj AS (
  SELECT b.media_id, f.fp FROM batch b JOIN fp2 f ON f.ie = b.ie
),
ij AS (
  SELECT i.media_id AS idx_media_id, f.fp
  FROM idx i JOIN fp2 f ON f.ie = i.ie
)
SELECT bj.media_id, ij.idx_media_id, bj.fp
FROM bj JOIN ij ON ij.fp = bj.fp
ORDER BY media_id, idx_media_id
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "png_decode": (q_png_decode, SQL_PNG_DECODE),
    "image_fingerprint": (q_image_fingerprint, SQL_IMAGE_FINGERPRINT),
    "fp_index_probe": (q_fp_index_probe, SQL_FP_INDEX_PROBE),
}
