"""Pure-Python GIF87a codec — third REAL compressed-format image
decode path (after JPEG's Huffman+DCT and PNG's DEFLATE): GIF's LZW is
a genuinely different compression family (adaptive dictionary coding),
implemented here from the public GIF87a specification:

- logical screen descriptor + global color table parse;
- image descriptor, LZW-compressed image data in length-prefixed
  sub-blocks, trailer;
- full variable-width LZW decode: LSB-first bit unpacking, clear/EOI
  codes, dictionary growth with code-width bumps at 2^w, the KwKwK
  (code == next dictionary slot) case, 12-bit cap;
- encoder with a real adaptive dictionary (not literal-only), so the
  decoder's dictionary reconstruction is actually exercised.

Gate discipline identical to the other codecs: synthetic palettes and
index rasters come from arithmetic formulas the DuckDB oracle replays,
so the exact per-channel sums under the hash certify the entire
LZW + container pipeline. Spark plumbing: one mapInPandas stage,
payloads never leave the executor.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_HDR = b"GIF87a"
_TRAILER = 0x3B
_IMG_SEP = 0x2C


# ---------------------------------------------------------------------
# LZW kernel (GIF variant: variable width, clear/EOI, LSB-first)
# ---------------------------------------------------------------------

def lzw_encode(indices: np.ndarray, min_code_size: int) -> bytes:
    """GIF-flavor LZW with a real adaptive dictionary."""
    clear = 1 << min_code_size
    eoi = clear + 1
    next_code = eoi + 1
    width = min_code_size + 1
    table: dict[bytes, int] = {
        bytes([i]): i for i in range(1 << min_code_size)
    }

    out_bits: list[tuple[int, int]] = [(clear, width)]
    w = b""
    for px in indices.tolist():
        c = bytes([px])
        if w + c in table:
            w += c
            continue
        out_bits.append((table[w], width))
        table[w + c] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        elif next_code - 1 == (1 << 12):
            # table full: emit clear and reset (spec-conformant)
            out_bits.append((clear, width))
            table = {bytes([i]): i for i in range(1 << min_code_size)}
            next_code = eoi + 1
            width = min_code_size + 1
        w = c
    if w:
        out_bits.append((table[w], width))
    out_bits.append((eoi, width))

    acc = 0
    nbits = 0
    data = bytearray()
    for code, wd in out_bits:
        acc |= code << nbits
        nbits += wd
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        data.append(acc & 0xFF)
    return bytes(data)


def lzw_decode(
    data: bytes, min_code_size: int, n_expected: int
) -> np.ndarray:
    """Decode GIF LZW → index array of length ``n_expected``."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    acc = 0
    nbits = 0
    pos = 0
    prev: bytes | None = None
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("LZW stream truncated (no EOI)")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = table[: clear + 2]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError(f"bad first code {code}")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"LZW code {code} beyond table")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    if len(out) != n_expected:
        raise ValueError(
            f"decoded {len(out)} pixels, expected {n_expected}"
        )
    return np.frombuffer(bytes(out), dtype=np.uint8)


# ---------------------------------------------------------------------
# Container
# ---------------------------------------------------------------------

def gif_encode(
    indices: np.ndarray, palette: np.ndarray
) -> bytes:
    """Encode an (h, w) uint8 index raster + (n, 3) palette as GIF87a
    (global color table, single image, no interlace)."""
    h, w = indices.shape
    n = len(palette)
    bits = max(2, int(n - 1).bit_length())
    pal_size = 1 << bits
    pad = np.zeros((pal_size - n, 3), dtype=np.uint8)
    pal = np.vstack([palette.astype(np.uint8), pad])
    packed = 0x80 | ((bits - 1) << 4) | (bits - 1)
    out = bytearray()
    out += _HDR
    out += struct.pack("<HHBBB", w, h, packed, 0, 0)
    out += pal.tobytes()
    out += struct.pack("<BHHHHB", _IMG_SEP, 0, 0, w, h, 0)
    mcs = bits
    out.append(mcs)
    lzw = lzw_encode(indices.reshape(-1), mcs)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    out.append(_TRAILER)
    return bytes(out)


def gif_decode(payload: bytes) -> tuple[int, int, np.ndarray, np.ndarray]:
    """Decode GIF87a → (width, height, (h,w) index raster, palette).

    Real validation: magic, descriptor bounds, sub-block framing, LZW
    stream integrity, pixel-count check, trailer."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload (bad magic)")
    w, h, packed, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    if not packed & 0x80:
        raise ValueError("missing global color table")
    pal_bits = (packed & 0x07) + 1
    pal_size = 1 << pal_bits
    pos = 13
    pal = np.frombuffer(
        payload[pos : pos + 3 * pal_size], dtype=np.uint8
    ).reshape(pal_size, 3)
    pos += 3 * pal_size
    if payload[pos] != _IMG_SEP:
        raise ValueError(f"expected image descriptor at {pos}")
    _l, _t, iw, ih, ipacked = struct.unpack(
        "<HHHHB", payload[pos + 1 : pos + 10]
    )
    if ipacked & 0x80:
        raise ValueError("local color tables not supported")
    if ipacked & 0x40:
        raise ValueError("interlaced GIF not supported")
    pos += 10
    mcs = payload[pos]
    pos += 1
    lzw = bytearray()
    while True:
        blen = payload[pos]
        pos += 1
        if blen == 0:
            break
        lzw += payload[pos : pos + blen]
        pos += blen
    if payload[pos] != _TRAILER:
        raise ValueError("missing trailer")
    idx = lzw_decode(bytes(lzw), mcs, iw * ih).reshape(ih, iw)
    return iw, ih, idx, pal


# ---------------------------------------------------------------------
# Synthetic generator + Spark operator + oracle
# ---------------------------------------------------------------------
# Image i: w = 14 + i % 11, h = 10 + i % 7, 16-color palette
#   palette[c] = ((c*37 + i) % 256, (c*59 + 2i) % 256, (c*83 + 3i) % 256)
# index raster j = (i*5 + j*j) % 16  → runs + repeats exercise the
# adaptive dictionary (not literal-only LZW).

def synthetic_gif_dims(i: int) -> tuple[int, int]:
    return 14 + i % 11, 10 + i % 7


def make_synthetic_gif(i: int) -> bytes:
    w, h = synthetic_gif_dims(i)
    j = np.arange(w * h, dtype=np.int64)
    idx = ((i * 5 + j * j) % 16).astype(np.uint8).reshape(h, w)
    c = np.arange(16, dtype=np.int64)
    pal = np.stack(
        [
            (c * 37 + i) % 256,
            (c * 59 + 2 * i) % 256,
            (c * 83 + 3 * i) % 256,
        ],
        axis=1,
    ).astype(np.uint8)
    return gif_encode(idx, pal)


MEDIA_GIF_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def synthetic_gif_media(spark: SparkSession, n: int = 40) -> DataFrame:
    rows = [(i, make_synthetic_gif(i)) for i in range(n)]
    return spark.createDataFrame(rows, MEDIA_GIF_SCHEMA).coalesce(4)


_GIF_DECODE_SCHEMA = T.StructType(
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

_GIF_PERMISSIVE_SCHEMA = T.StructType(
    _GIF_DECODE_SCHEMA.fields + [T.StructField("error", T.StringType())]
)


def decode_gifs(media: DataFrame, permissive: bool = False) -> DataFrame:
    """Decode GIF payloads inside ``mapInPandas``; emit dims + exact
    per-channel sums of the palette-expanded raster (lossless →
    integers all the way; the LZW dictionary reconstruction sits under
    the oracle hash)."""
    schema = _GIF_PERMISSIVE_SCHEMA if permissive else _GIF_DECODE_SCHEMA

    def fn(batches):
        for pdf in batches:
            out = {f.name: [] for f in schema.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    w, h, idx, pal = gif_decode(bytes(payload))
                    rgb = pal[idx.reshape(-1)].astype(np.int64)
                    s = rgb.sum(axis=0)
                    row = (w, h, w * h, int(s[0]), int(s[1]),
                           int(s[2]), None)
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


def q_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: decode 40 real GIF87a files (adaptive-dictionary
    LZW) and hash exact palette-expanded pixel sums."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(decode_gifs(synthetic_gif_media(spark, 40)),
                       "media_id")


SQL_GIF_DECODE = """
WITH img AS (
  SELECT i AS media_id, 14 + i % 11 AS w, 10 + i % 7 AS h
  FROM range(40) t(i)
),
px AS (
  SELECT media_id, w, h,
         (media_id * 5 + j.j * j.j) % 16 AS c
  FROM img, LATERAL (SELECT UNNEST(range(w * h)) AS j) j
)
SELECT media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(w * h AS BIGINT) AS n_px,
       CAST(SUM((c * 37 + media_id) % 256) AS BIGINT) AS sum_r,
       CAST(SUM((c * 59 + 2 * media_id) % 256) AS BIGINT) AS sum_g,
       CAST(SUM((c * 83 + 3 * media_id) % 256) AS BIGINT) AS sum_b
FROM px
GROUP BY media_id, w, h
ORDER BY media_id
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "gif_decode": (q_gif_decode, SQL_GIF_DECODE),
}
