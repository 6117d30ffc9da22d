"""WARC (Web ARChive, ISO 28500) record parsing — the Common-Crawl
ingestion shape (beyond-reference surface).

A WARC file is a concatenation of records, each a ``WARC/1.0`` header
block (CRLF-terminated ``Name: value`` lines, blank-line terminated)
followed by exactly ``Content-Length`` payload bytes and a CRLF CRLF
record separator. Parsing is length-delimited — the payload may
contain anything, including CRLFs — which is exactly what
:func:`warc_parse` exercises.

Spark-side plumbing mirrors the other real-decode paths (ppm/png/wav/
mp4): synthetic conforming files are generated from an arithmetic
formula both engines replay; :func:`parse_warc_records` walks the
records inside ``mapInPandas`` (one narrow Arrow stage; payload bytes
never leave the executor) and emits per-record metadata plus an exact
integer payload checksum the DuckDB oracle regenerates.

At 100 TB: WARC files arrive as (path, bytes) via
``spark.read.format("binaryFile")`` or as a binary column from a
lake table; either way the parse is scan-local and embarrassingly
parallel at file granularity (WARC is not splittable mid-file without
an index — the standard posture is file-per-task, and crawl files are
~1 GB by convention).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_CRLF = b"\r\n"


def warc_encode_record(
    rec_type: str, target_uri: str, payload: bytes, rec_id: str
) -> bytes:
    """One conforming WARC/1.0 record."""
    headers = (
        b"WARC/1.0\r\n"
        + f"WARC-Type: {rec_type}\r\n".encode()
        + f"WARC-Record-ID: <urn:uuid:{rec_id}>\r\n".encode()
        + f"WARC-Target-URI: {target_uri}\r\n".encode()
        + f"Content-Length: {len(payload)}\r\n".encode()
    )
    return headers + _CRLF + payload + _CRLF + _CRLF


def warc_parse(payload: bytes) -> list[dict]:
    """Parse a WARC file → list of record dicts. Real format
    validation: version line, header syntax, mandatory Content-Length,
    exact length-delimited payload extraction, record separator."""
    out = []
    pos = 0
    n = len(payload)
    while pos < n:
        eol = payload.find(_CRLF, pos)
        if eol < 0:
            raise ValueError("truncated WARC header")
        version = payload[pos:eol]
        if not version.startswith(b"WARC/"):
            raise ValueError(f"bad WARC version line {version!r}")
        pos = eol + 2
        headers: dict[str, str] = {}
        while True:
            eol = payload.find(_CRLF, pos)
            if eol < 0:
                raise ValueError("unterminated header block")
            line = payload[pos:eol]
            pos = eol + 2
            if not line:
                break
            name, sep, value = line.partition(b":")
            if not sep:
                raise ValueError(f"malformed header line {line!r}")
            headers[name.decode().strip().lower()] = value.decode().strip()
        if "content-length" not in headers:
            raise ValueError("missing Content-Length")
        clen = int(headers["content-length"])
        if pos + clen > n:
            raise ValueError("payload extends past end of file")
        body = payload[pos : pos + clen]
        pos += clen
        if payload[pos : pos + 4] != _CRLF + _CRLF:
            raise ValueError("missing record separator")
        pos += 4
        out.append(
            {
                "warc_type": headers.get("warc-type", ""),
                "target_uri": headers.get("warc-target-uri", ""),
                "content_length": clen,
                "payload": body,
            }
        )
    return out


# ---------------------------------------------------------------------
# Synthetic generator — formula shared with the SQL oracle
# ---------------------------------------------------------------------
# File i has 3 + i % 4 records; record r:
#   type        = response if r even else request
#   target_uri  = http://site{i % 20}.example/p{r}
#   payload len = 20 + (i * 7 + r) % 50
#   payload[j]  = (i * 31 + r * 17 + j * j) % 256   (raw bytes,
#                 CRLFs included when the formula lands on 13/10 —
#                 the length-delimited parse must not care)

def synthetic_warc_dims(i: int) -> int:
    return 3 + i % 4


def make_synthetic_warc(i: int) -> bytes:
    out = b""
    for r in range(synthetic_warc_dims(i)):
        ln = 20 + (i * 7 + r) % 50
        j = np.arange(ln, dtype=np.int64)
        body = ((i * 31 + r * 17 + j * j) % 256).astype(np.uint8).tobytes()
        out += warc_encode_record(
            "response" if r % 2 == 0 else "request",
            f"http://site{i % 20}.example/p{r}",
            body,
            f"{i:08d}-{r:04d}",
        )
    return out


MEDIA_WARC_SCHEMA = T.StructType(
    [
        T.StructField("file_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def synthetic_warc_media(spark: SparkSession, n: int = 40) -> DataFrame:
    rows = [(i, make_synthetic_warc(i)) for i in range(n)]
    return spark.createDataFrame(rows, MEDIA_WARC_SCHEMA).coalesce(4)


_WARC_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("file_id", T.LongType()),
        T.StructField("rec_idx", T.IntegerType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("content_length", T.LongType()),
        T.StructField("payload_sum", T.LongType()),
    ]
)

_WARC_PERMISSIVE_SCHEMA = T.StructType(
    _WARC_RECORD_SCHEMA.fields + [T.StructField("error", T.StringType())]
)


def parse_warc_records(
    media: DataFrame,
    permissive: bool = False,
    transform: Callable[[bytes], bytes] | None = None,
) -> DataFrame:
    """Explode WARC files into per-record rows inside ``mapInPandas``.
    ``permissive=True`` quarantines unparseable FILES as one error row
    (rec_idx null) instead of failing the task. ``transform`` is an
    optional per-file payload pre-step (the .gz variant passes
    gunzip_payload) — it runs inside the same try, so a corrupt
    compressed member quarantines like a corrupt record walk."""
    schema = _WARC_PERMISSIVE_SCHEMA if permissive else _WARC_RECORD_SCHEMA

    def fn(batches):
        for pdf in batches:
            out = {f.name: [] for f in schema.fields}
            for fid, payload in zip(pdf["file_id"], pdf["payload"]):
                try:
                    raw = bytes(payload)
                    if transform is not None:
                        raw = transform(raw)
                    recs = warc_parse(raw)
                except Exception as exc:  # noqa: BLE001
                    if not permissive:
                        raise
                    out["file_id"].append(fid)
                    for k in ("rec_idx", "warc_type", "target_uri",
                              "content_length", "payload_sum"):
                        out[k].append(None)
                    out["error"].append(f"{type(exc).__name__}: {exc}")
                    continue
                for idx, rec in enumerate(recs):
                    out["file_id"].append(fid)
                    out["rec_idx"].append(idx)
                    out["warc_type"].append(rec["warc_type"])
                    out["target_uri"].append(rec["target_uri"])
                    out["content_length"].append(rec["content_length"])
                    out["payload_sum"].append(
                        int(
                            np.frombuffer(
                                rec["payload"], dtype=np.uint8
                            ).sum(dtype=np.int64)
                        )
                    )
                    if permissive:
                        out["error"].append(None)
            yield pd.DataFrame(out)

    return media.mapInPandas(fn, schema=schema)


def q_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: parse 40 synthetic WARC files (180 records, raw
    binary payloads with embedded CRLFs) — record metadata + exact
    payload byte sums under the hash."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(
        parse_warc_records(synthetic_warc_media(spark, 40)),
        "file_id", "rec_idx",
    )


SQL_WARC_RECORDS = """
WITH f AS (
  SELECT i AS file_id, r.r AS rec_idx,
         20 + (i * 7 + r.r) % 50 AS content_length
  FROM range(40) t(i),
       LATERAL (SELECT UNNEST(range(3 + i % 4)) AS r) r
),
b AS (
  SELECT file_id, rec_idx, content_length,
         (file_id * 31 + rec_idx * 17 + j.j * j.j) % 256 AS byte
  FROM f, LATERAL (SELECT UNNEST(range(content_length)) AS j) j
)
SELECT file_id,
       CAST(rec_idx AS INT) AS rec_idx,
       CASE WHEN rec_idx % 2 = 0 THEN 'response' ELSE 'request' END
         AS warc_type,
       'http://site' || (file_id % 20) || '.example/p' || rec_idx
         AS target_uri,
       CAST(content_length AS BIGINT) AS content_length,
       CAST(SUM(byte) AS BIGINT) AS payload_sum
FROM b
GROUP BY file_id, rec_idx, content_length
ORDER BY file_id, rec_idx
"""


# ---------------------------------------------------------------------
# Gzipped WARC — the actual Common Crawl wire format (warc.gz: each
# file a gzip stream; decompression is stdlib zlib, the same "real
# codec via stdlib" posture as PNG's DEFLATE)
# ---------------------------------------------------------------------

def gzip_payload(data: bytes, level: int = 6) -> bytes:
    """Deterministic gzip member (mtime=0, no name — reproducible
    bytes for the fixture; decode accepts any conforming member)."""
    import zlib

    co = zlib.compressobj(level, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return co.compress(data) + co.flush()


def gunzip_payload(data: bytes) -> bytes:
    import zlib

    return zlib.decompress(data, 16 + zlib.MAX_WBITS)


def make_synthetic_warc_gz(i: int) -> bytes:
    return gzip_payload(make_synthetic_warc(i))


def synthetic_warc_gz_media(spark: SparkSession, n: int = 40) -> DataFrame:
    rows = [(i, make_synthetic_warc_gz(i)) for i in range(n)]
    return spark.createDataFrame(rows, MEDIA_WARC_SCHEMA).coalesce(4)


def parse_warc_gz_records(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Decompress-then-parse: :func:`parse_warc_records` with a
    gunzip pre-step inside the same mapInPandas stage. One narrow
    Arrow pass; compressed bytes never leave the executor and the
    decompressed stream never leaves the batch."""
    return parse_warc_records(
        media, permissive=permissive, transform=gunzip_payload
    )


def q_warc_gz_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: the Common Crawl wire shape — 40 warc.gz files
    gunzipped (stdlib zlib, gzip wrapper validated) then record-parsed.
    gzip is lossless, so the oracle is IDENTICAL to the uncompressed
    twin: same arithmetic formula, and a decode bug anywhere in the
    gzip→WARC chain breaks the hash."""
    from magmapandas_spark.operators.multimodal import tiny_sorted

    return tiny_sorted(
        parse_warc_gz_records(synthetic_warc_gz_media(spark, 40)),
        "file_id", "rec_idx",
    )


#: lossless → same oracle as the uncompressed gate
SQL_WARC_GZ_RECORDS = SQL_WARC_RECORDS


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "warc_records": (q_warc_records, SQL_WARC_RECORDS),
    "warc_gz_records": (q_warc_gz_records, SQL_WARC_GZ_RECORDS),
}
