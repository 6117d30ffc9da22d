"""JSONL ingestion with corrupt-record quarantine.

JSONL is the lingua franca of LLM training corpora (one JSON document
per line), and real crawl-derived JSONL always contains a corrupt tail
— truncated writes, encoding damage, half-flushed shards. The
production posture is PERMISSIVE parsing: parse what parses, QUARANTINE
(never drop silently, never fail the job) what doesn't.

Spark-first: ``F.from_json`` with an explicit schema is a JVM
expression — parsing happens inside the scan projection at codegen
speed, no Python, no shuffle. Quarantine uses Spark's canonical
mechanism: a ``_corrupt_record`` field named via
``columnNameOfCorruptRecord`` — set (to the raw line) exactly when
the record is malformed, NULL otherwise. Absent keys parse to NULL
*fields* with ``_corrupt_record`` NULL, which is exactly the
distinction a curation pipeline needs (missing optional field ≠
corrupt record).

At 100 TB this is `spark.read.text(...)` (splittable, unlike gzip'd
JSONL) followed by this projection; the gate synthesizes the lines
in-plan from `range` (the line_dedup/WARC precedent) so the oracle can
replay byte-identical input.

Oracle: DuckDB ``json_valid`` + ``json_extract_string``/CAST replays
the same verdicts; integer fields are CAST from the extracted string
in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

JSON_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("user", StringType()),
        StructField("value", LongType()),
        StructField("_corrupt_record", StringType()),
    ]
)


def parse_jsonl(
    lines: DataFrame, json_col: str = "line", key_col: str = "rec_no"
) -> DataFrame:
    """Parse a JSONL line column against :data:`JSON_SCHEMA`;
    quarantined = ``_corrupt_record`` populated (the line failed to
    parse — PERMISSIVE ``from_json`` then nulls the data fields and
    preserves the raw line for triage). Missing keys parse to NULL
    fields (not quarantine). Scan-local projection — the plan has no
    exchange, no Python."""
    parsed = F.from_json(
        F.col(json_col),
        JSON_SCHEMA,
        {"columnNameOfCorruptRecord": "_corrupt_record"},
    )
    return lines.select(
        F.col(key_col),
        parsed["id"].alias("id"),
        parsed["user"].alias("user"),
        parsed["value"].alias("value"),
        parsed["_corrupt_record"].isNotNull().alias("quarantined"),
    )


def synthetic_jsonl(spark: SparkSession, n: int = 2000) -> DataFrame:
    """JSONL lines with a realistic damage profile: every 13th line is
    a truncated write (corrupt), every 11th omits the optional
    ``value`` key (valid), the rest are fully-populated records."""
    i = F.col("id")
    s = lambda c: c.cast("string")  # noqa: E731
    full = F.concat(
        F.lit('{"id": '), s(i),
        F.lit(', "user": "u'), s(i % 97),
        F.lit('", "value": '), s((i * i) % 1009), F.lit("}"),
    )
    no_value = F.concat(
        F.lit('{"id": '), s(i),
        F.lit(', "user": "u'), s(i % 97), F.lit('"}'),
    )
    truncated = F.concat(F.lit('{"id": '), s(i), F.lit(', "us'))
    line = (
        F.when(i % 13 == 0, truncated)
        .when(i % 11 == 0, no_value)
        .otherwise(full)
    )
    return spark.range(n).select(i.alias("rec_no"), line.alias("line"))


def q_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: parse 2000 synthetic JSONL lines — extracted
    fields, NULL-field-vs-quarantine verdicts, and the corrupt tail
    all under the hash."""
    return (
        parse_jsonl(synthetic_jsonl(spark))
        .orderBy("rec_no")
        .coalesce(1)
    )


SQL_JSONL_INGEST = """
WITH lines AS (
  SELECT i AS rec_no,
         CASE WHEN i % 13 = 0 THEN '{"id": ' || i || ', "us'
              WHEN i % 11 = 0 THEN '{"id": ' || i || ', "user": "u'
                                   || (i % 97) || '"}'
              ELSE '{"id": ' || i || ', "user": "u' || (i % 97)
                   || '", "value": ' || ((i * i) % 1009) || '}'
         END AS line
  FROM range(2000) t(i)
)
SELECT rec_no,
       CASE WHEN json_valid(line)
            THEN TRY_CAST(json_extract_string(line, '$.id') AS BIGINT)
       END AS id,
       CASE WHEN json_valid(line)
            THEN json_extract_string(line, '$.user')
       END AS user,
       CASE WHEN json_valid(line)
            THEN TRY_CAST(json_extract_string(line, '$.value') AS BIGINT)
       END AS value,
       NOT json_valid(line) AS quarantined
FROM lines
ORDER BY rec_no
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "jsonl_ingest": (q_jsonl_ingest, SQL_JSONL_INGEST),
}
