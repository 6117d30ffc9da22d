"""Web-corpus hygiene operators — PII detection/redaction and URL
canonicalization (beyond-reference surface; first-class for a 100 TB
web-crawl curation pipeline).

Both operators are pure scan-local expression chains — no UDF, no
shuffle, no driver state — so they compose with source-side sampling
and quality filters at zero extra cost and their throughput is the
parquet scan's. Every regex is written in the common Java-regex/RE2
subset (character classes, bounded quantifiers, alternation, word
boundaries — no lookaround), so the DuckDB oracle runs the literally
identical pattern.

The synthetic ``page(i)`` text (emails, phone numbers, IPv4 hosts, a
messy tracking-infested URL) is generated by the same arithmetic
formula in Spark and in the oracle SQL — the media-decode playbook
(ppm/wav/mp4) applied to text: the operators' parse logic is what is
under test, not the data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------

#: Java-regex/RE2-common patterns. Deliberately conservative (high
#: precision): a production pass would add locale-specific variants,
#: but each added pattern is one more regexp_count/regexp_replace in
#: the same scan-local chain.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

#: Redaction order matters: emails are masked first so an address's
#: host part can never be half-eaten by the IPv4 pattern, and phones
#: before IPv4 so neither pattern sees the other's residue.
_REDACTIONS = [
    (EMAIL_RE, "[EMAIL]"),
    (PHONE_RE, "[PHONE]"),
    (IPV4_RE, "[IP]"),
]


def scan_pii(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document PII inventory + redacted text.

    Counts are taken on the ORIGINAL text (regexp_count is one
    vectorized pass per pattern), then the redaction chain masks each
    category in precedence order. Entirely scan-local: at 100 TB this
    is a map-only stage whose cost is the regex engine's, with no
    shuffle and nothing leaving the executor.
    """
    return docs.select(F.col(id_col), *pii_exprs(text_col))


def pii_exprs(text_col: str = "text") -> list[Column]:
    """The PII inventory as bare aliased Columns (`n_emails`,
    `n_phones`, `n_ipv4`, `redacted`) so stateless consumers — the
    streaming scrub in particular — can fold them into one projection
    instead of joining scan_pii's output back to the source."""
    redacted: Column = F.col(text_col)
    for pat, token in _REDACTIONS:
        redacted = F.regexp_replace(redacted, pat, token)
    return [
        F.regexp_count(F.col(text_col), F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(F.col(text_col), F.lit(PHONE_RE)).alias("n_phones"),
        F.regexp_count(F.col(text_col), F.lit(IPV4_RE)).alias("n_ipv4"),
        redacted.alias("redacted"),
    ]


# ---------------------------------------------------------------------
# URL canonicalization
# ---------------------------------------------------------------------

_URL_SPLIT = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)(.*)$"


def canonicalize_url(url: Column) -> Column:
    """Canonical form of an absolute http(s) URL — the web-dedup join
    key. Steps (each one regexp_replace / string function, identical
    in DuckDB):

    1. lowercase scheme and host (authority), keep path/query case;
    2. strip the default port (``:80`` for http, ``:443`` for https);
    3. drop the fragment;
    4. drop ``utm_*`` tracking params (mid-query then trailing form);
    5. strip a now-dangling trailing ``?``/``&`` and ALL trailing
       slashes on a non-root path (one pass — the canonical form must
       be a fixpoint, which a single-slash strip is not for ``//``;
       pinned by the idempotence property test).
    """
    scheme = F.lower(F.regexp_extract(url, _URL_SPLIT, 1))
    auth = F.lower(F.regexp_extract(url, _URL_SPLIT, 2))
    rest = F.regexp_extract(url, _URL_SPLIT, 3)
    host = F.when(
        (scheme == "http") & auth.endswith(":80"),
        F.substring(auth, F.lit(1), F.length(auth) - 3),
    ).when(
        (scheme == "https") & auth.endswith(":443"),
        F.substring(auth, F.lit(1), F.length(auth) - 4),
    ).otherwise(auth)
    rest = F.regexp_replace(rest, r"#.*$", "")
    rest = F.regexp_replace(rest, r"utm_[A-Za-z]+=[^&#]*&", "")
    rest = F.regexp_replace(rest, r"[?&]utm_[A-Za-z]+=[^&#]*", "")
    rest = F.regexp_replace(rest, r"[?&]$", "")
    rest = F.regexp_replace(rest, r"(.)/+$", "$1")
    rest = F.when(rest == "", F.lit("/")).otherwise(rest)
    return F.concat(scheme, F.lit("://"), host, rest)


def url_host(url: Column) -> Column:
    """Lowercased host with any port stripped."""
    auth = F.lower(F.regexp_extract(url, _URL_SPLIT, 2))
    return F.regexp_replace(auth, r":\d+$", "")


def registered_domain(host: Column) -> Column:
    """Last two labels of the host — the eTLD+1 approximation used for
    per-site quotas when no public-suffix list is shipped."""
    return F.regexp_extract(host, r"([A-Za-z0-9-]+\.[A-Za-z0-9-]+)$", 1)


def canonicalize_urls(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Attach canonical_url / host / domain columns — scan-local."""
    u = F.col(url_col)
    host = url_host(u)
    return df.select(
        F.col(id_col),
        u.alias(url_col),
        canonicalize_url(u).alias("canonical_url"),
        host.alias("host"),
        registered_domain(host).alias("domain"),
    )


# ---------------------------------------------------------------------
# Synthetic page text — formula shared verbatim with the SQL oracle
# ---------------------------------------------------------------------

def synthetic_pages(spark: SparkSession, n: int = 600) -> DataFrame:
    """Deterministic crawl-page table: doc i carries 0-2 emails, 0-1
    phone numbers, 0-1 IPv4 literals (presence keyed on residues of i
    so zero-count rows are exercised) and one tracking-infested URL
    with mixed-case scheme/host, an explicit default port and a
    fragment — everything the canonicalizer must strip."""
    i = F.col("id")
    s = lambda c: c.cast("string")  # noqa: E731
    email_part = F.when(
        i % 4 != 0,
        F.concat(
            F.lit("Contact user"), s(i), F.lit("@mail"), s(i % 7),
            F.lit(".example.com or admin@corp"), s(i % 3),
            F.lit(".org now. "),
        ),
    ).otherwise(F.lit("No contact listed. "))
    phone_part = F.when(
        i % 3 != 0,
        F.concat(
            F.lit("Call 555-"), F.lpad(s(100 + i % 900), 3, "0"),
            F.lit("-"), F.lpad(s(i % 10000), 4, "0"), F.lit(". "),
        ),
    ).otherwise(F.lit(""))
    ip_part = F.when(
        i % 5 != 0,
        F.concat(
            F.lit("Server 10."), s(i % 256), F.lit("."),
            s((i * 7) % 256), F.lit("."), s((i * 13) % 256),
            F.lit(" responded. "),
        ),
    ).otherwise(F.lit(""))
    scheme = F.when(i % 2 == 0, F.lit("HTTPS://")).otherwise(
        F.lit("http://")
    )
    port = F.when(i % 2 == 0, F.lit(":443")).otherwise(F.lit(":80"))
    url = F.concat(
        scheme, F.lit("WWW.Site"), s(i % 50), F.lit(".COM"), port,
        F.lit("/path/"), s(i), F.lit("/?utm_source=feed&id="), s(i % 20),
        F.lit("&utm_campaign=x"), s(i % 9), F.lit("#frag"), s(i),
    )
    return spark.range(n).select(
        i.alias("doc_id"),
        F.concat(email_part, phone_part, ip_part).alias("text"),
        url.alias("url"),
    )


#: DuckDB twin of :func:`synthetic_pages` — spliced into the oracle
#: queries below. Residue logic and concatenation order are verbatim.
SQL_PAGES_CTE = """
pages AS (
  SELECT i AS doc_id,
         (CASE WHEN i % 4 <> 0 THEN
            'Contact user' || i || '@mail' || (i % 7)
            || '.example.com or admin@corp' || (i % 3) || '.org now. '
          ELSE 'No contact listed. ' END)
         || (CASE WHEN i % 3 <> 0 THEN
               'Call 555-' || lpad(CAST(100 + i % 900 AS VARCHAR), 3, '0')
               || '-' || lpad(CAST(i % 10000 AS VARCHAR), 4, '0') || '. '
             ELSE '' END)
         || (CASE WHEN i % 5 <> 0 THEN
               'Server 10.' || (i % 256) || '.' || ((i * 7) % 256)
               || '.' || ((i * 13) % 256) || ' responded. '
             ELSE '' END) AS text,
         (CASE WHEN i % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END)
         || 'WWW.Site' || (i % 50) || '.COM'
         || (CASE WHEN i % 2 = 0 THEN ':443' ELSE ':80' END)
         || '/path/' || i || '/?utm_source=feed&id=' || (i % 20)
         || '&utm_campaign=x' || (i % 9) || '#frag' || i AS url
  FROM range(600) t(i)
)
"""


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: PII inventory + redaction over the synthetic crawl
    pages — counts and the fully masked text are both under the hash."""
    out = scan_pii(synthetic_pages(spark))
    return out.orderBy("doc_id").coalesce(1)


SQL_PII_SCAN = f"""
WITH {SQL_PAGES_CTE.strip()}
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS INT)
         AS n_emails,
       CAST(len(regexp_extract_all(text,
         '\\b\\d{{3}}-\\d{{3}}-\\d{{4}}\\b')) AS INT) AS n_phones,
       CAST(len(regexp_extract_all(text,
         '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b')) AS INT)
         AS n_ipv4,
       regexp_replace(
         regexp_replace(
           regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
             '[EMAIL]', 'g'),
           '\\b\\d{{3}}-\\d{{3}}-\\d{{4}}\\b', '[PHONE]', 'g'),
         '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b',
         '[IP]', 'g') AS redacted
FROM pages
ORDER BY doc_id
"""


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: canonicalize the crawl URLs then aggregate per host
    — the canonical string itself is hash-checked via min/max per
    group, plus the distinct-canonical count the web-dedup key yields."""
    canon = canonicalize_urls(synthetic_pages(spark))
    return (
        canon.groupBy("host", "domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("canonical_url").alias("n_canonical"),
            F.min("canonical_url").alias("first_canonical"),
            F.max("canonical_url").alias("last_canonical"),
        )
        .orderBy("host")
        .coalesce(1)
    )


SQL_URL_CANONICAL = f"""
WITH {SQL_PAGES_CTE.strip()},
parts AS (
  SELECT doc_id,
         lower(regexp_extract(url,
           '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)(.*)$', 1)) AS scheme,
         lower(regexp_extract(url,
           '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)(.*)$', 2)) AS auth,
         regexp_extract(url,
           '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)(.*)$', 3) AS rest
  FROM pages
),
canon AS (
  SELECT doc_id,
         CASE WHEN scheme = 'http' AND auth LIKE '%:80'
                THEN substr(auth, 1, length(auth) - 3)
              WHEN scheme = 'https' AND auth LIKE '%:443'
                THEN substr(auth, 1, length(auth) - 4)
              ELSE auth END AS host0,
         regexp_replace(auth, ':\\d+$', '') AS host,
         CASE WHEN r4 = '' THEN '/' ELSE r4 END AS rest,
         scheme
  FROM (
    SELECT *,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(rest, '#.*$', ''),
                   'utm_[A-Za-z]+=[^&#]*&', '', 'g'),
                 '[?&]utm_[A-Za-z]+=[^&#]*', '', 'g'),
               '[?&]$', ''),
             '(.)/+$', '\\1') AS r4
    FROM parts
  )
),
urls AS (
  SELECT doc_id,
         scheme || '://' || host0 || rest AS canonical_url,
         host,
         regexp_extract(host, '([A-Za-z0-9-]+\\.[A-Za-z0-9-]+)$', 1)
           AS domain
  FROM canon
)
SELECT host, domain,
       COUNT(*) AS n_urls,
       COUNT(DISTINCT canonical_url) AS n_canonical,
       MIN(canonical_url) AS first_canonical,
       MAX(canonical_url) AS last_canonical
FROM urls
GROUP BY host, domain
ORDER BY host
"""


# ---------------------------------------------------------------------
# Per-site quota enforcement
# ---------------------------------------------------------------------

def enforce_host_quota(
    df: DataFrame,
    quota: int = 5,
    host_col: str = "host",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cap documents per host — the anti-domination rule every web
    corpus applies (one forum mirror must not become 4% of the
    training set). Keeps the ``quota`` lowest-``id_col`` docs per host
    (deterministic tie-free order).

    One window partitioned by host: shuffles (host, id)-sized rows
    only, and at 100 TB the per-host partitions are exactly the skew
    the rank bounds — a 100M-page host contributes ``quota`` rows
    downstream no matter what."""
    from pyspark.sql import Window

    w = Window.partitionBy(host_col).orderBy(id_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= quota)
        .drop("__rn")
    )


def q_host_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: canonicalize → cap 5 docs/host → per-host kept
    count and id range (the kept SET is pinned by min/max + count over
    the deterministic keep order)."""
    canon = canonicalize_urls(synthetic_pages(spark))
    capped = enforce_host_quota(canon, quota=5)
    return (
        capped.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("host")
        .coalesce(1)
    )


SQL_HOST_QUOTA = f"""
WITH {SQL_PAGES_CTE.strip()},
hosts AS (
  SELECT doc_id,
         regexp_replace(lower(regexp_extract(url,
           '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)(.*)$', 2)),
           ':\\d+$', '') AS host
  FROM pages
),
ranked AS (
  SELECT doc_id, host,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY doc_id) AS rn
  FROM hosts
)
SELECT host,
       COUNT(*) AS n_kept,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM ranked
WHERE rn <= 5
GROUP BY host
ORDER BY host
"""


# ---------------------------------------------------------------------
# Robots-rules URL filtering (RFC 9309 match semantics)
# ---------------------------------------------------------------------

def robots_filter(
    urls: DataFrame,
    rules: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply robots exclusion rules to a URL table — RFC 9309
    precedence: the most specific (longest path-prefix) matching rule
    wins; at equal length Allow beats Disallow; no matching rule means
    allowed.

    ``urls`` needs (id, host, path); ``rules`` is (host, path_prefix,
    allow). The rules side is the broadcast side by nature (robots
    files are KBs per host even when the URL table is 100 TB): a
    broadcast LEFT join on host + startswith, then the winning rule
    per URL as ONE ``max`` over a BIGINT verdict encoding — a plain
    HashAggregate with map-side partial merge and NO sort anywhere (a
    row_number window would total-sort every URL's candidate rules at
    crawl scale for what is just an argmax; even ``max_by`` over a
    struct falls back to SortAggregate because struct buffers aren't
    hash-aggregable).

    Encoding soundness: the winner maximizes (prefix length, allow),
    packed as ``length·2 + allow``. Every candidate prefix is a prefix
    of the SAME path, so equal-length candidates are equal strings —
    the winning prefix is recoverable as ``substr(path, 1, best>>1)``
    and needs no string in the aggregation buffer. The un-ruled
    left-join branch carries a NULL encoding, which ``max`` ignores.

    Returns (id, host, path, allowed, rule_prefix)."""
    r = rules.select(
        F.col("host").alias("r_host"),
        F.col("path_prefix"),
        F.col("allow"),
    )
    j = urls.join(
        F.broadcast(r),
        (F.col("host") == F.col("r_host"))
        & F.col("path").startswith(F.col("path_prefix")),
        how="left",
    )
    verdict = (
        F.length("path_prefix").cast("long") * 2
        + F.col("allow").cast("long")
    )
    return (
        j.groupBy(id_col, "host", "path")
        .agg(F.max(verdict).alias("best"))
        .select(
            id_col,
            "host",
            "path",
            F.coalesce(F.col("best") % 2 == 1, F.lit(True)).alias(
                "allowed"
            ),
            F.when(
                F.col("best").isNotNull(),
                F.col("path").substr(
                    F.lit(1), F.shiftright("best", 1).cast("int")
                ),
            )
            .otherwise(F.lit(""))
            .alias("rule_prefix"),
        )
    )


def synthetic_robots_rules(spark: SparkSession) -> DataFrame:
    """Per-host rules for the synthetic crawl's 50 hosts: every host
    disallows /path/<h%7>-suffixed buckets via a prefix ladder with an
    Allow carve-out, so longest-match and allow-beats-disallow are both
    exercised."""
    h = F.col("id")
    host = F.concat(F.lit("www.site"), h.cast("string"), F.lit(".com"))
    rows = spark.range(50).select(
        F.explode(
            F.array(
                F.struct(
                    host.alias("host"),
                    F.concat(F.lit("/path/"), (h % 7).cast("string"))
                        .alias("path_prefix"),
                    F.lit(False).alias("allow"),
                ),
                F.struct(
                    host.alias("host"),
                    F.concat(
                        F.lit("/path/"), (h % 7).cast("string"), F.lit("7")
                    ).alias("path_prefix"),
                    F.lit(True).alias("allow"),
                ),
                F.struct(
                    host.alias("host"),
                    F.lit("/tmp").alias("path_prefix"),
                    F.lit(False).alias("allow"),
                ),
            )
        ).alias("r")
    )
    return rows.select("r.host", "r.path_prefix", "r.allow")


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: robots verdicts for the 600 synthetic crawl URLs —
    longest-match precedence and the Allow carve-out both land in the
    hash (e.g. /path/37 is allowed on hosts whose ladder disallows
    /path/3)."""
    pages = canonicalize_urls(synthetic_pages(spark))
    urls = pages.select(
        "doc_id",
        "host",
        F.regexp_replace(
            F.regexp_extract(F.col("canonical_url"), _URL_SPLIT, 3),
            r"\?.*$", "",
        ).alias("path"),
    )
    out = robots_filter(urls, synthetic_robots_rules(spark))
    return out.orderBy("doc_id").coalesce(1)


SQL_ROBOTS_FILTER = f"""
WITH {SQL_PAGES_CTE.strip()},
parts AS (
  SELECT doc_id,
         lower(regexp_extract(url,
           '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)(.*)$', 1)) AS scheme,
         lower(regexp_extract(url,
           '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)(.*)$', 2)) AS auth,
         regexp_extract(url,
           '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)(.*)$', 3) AS rest
  FROM pages
),
urls AS (
  SELECT doc_id,
         regexp_replace(auth, ':\\d+$', '') AS host,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(rest, '#.*$', ''),
                   'utm_[A-Za-z]+=[^&#]*&', '', 'g'),
                 '[?&]utm_[A-Za-z]+=[^&#]*', '', 'g'),
               '[?&]$', ''),
             '(.)/+$', '\\1'),
           '\\?.*$', '') AS path
  FROM parts
),
rules AS (
  SELECT 'www.site' || h || '.com' AS host,
         '/path/' || (h % 7) AS path_prefix, FALSE AS allow
  FROM range(50) t(h)
  UNION ALL
  SELECT 'www.site' || h || '.com',
         '/path/' || (h % 7) || '7', TRUE
  FROM range(50) t(h)
  UNION ALL
  SELECT 'www.site' || h || '.com', '/tmp', FALSE
  FROM range(50) t(h)
),
ranked AS (
  SELECT u.doc_id, u.host, u.path, r.allow, r.path_prefix,
         ROW_NUMBER() OVER (
           PARTITION BY u.doc_id
           ORDER BY length(r.path_prefix) DESC NULLS LAST,
                    r.allow DESC NULLS LAST,
                    r.path_prefix NULLS LAST
         ) AS rrn
  FROM urls u
  LEFT JOIN rules r
    ON u.host = r.host AND starts_with(u.path, r.path_prefix)
)
SELECT doc_id, host, path,
       COALESCE(allow, TRUE) AS allowed,
       COALESCE(path_prefix, '') AS rule_prefix
FROM ranked WHERE rrn = 1
ORDER BY doc_id
"""


# ---------------------------------------------------------------------
# Line-level corpus dedup (round 6) — the CCNet trick: boilerplate
# (cookie banners, nav menus, footers) repeats ACROSS pages even when
# no two whole pages are duplicates, so dedup at line granularity:
# count each distinct line corpus-wide, drop lines whose count reaches
# the threshold, reassemble pages from what is left.
# ---------------------------------------------------------------------


def line_dedup(
    docs: DataFrame,
    min_dup: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Drop every line occurring ≥ ``min_dup`` times corpus-wide;
    reassemble each doc from its surviving lines (original order).

    Plan shape at 100 TB: posexplode (scan-local), a map-side-combined
    count shuffle keyed on the line, an equi-join of lines against
    their counts on that same key (the counts side reuses its
    aggregation's partitioning; the lines side pays one exchange —
    at gate scale AQE broadcasts the tiny filtered count relation
    instead, eliminating even that), and ONE shuffle back on doc id
    to reassemble. Boilerplate is by definition the high-count head,
    so the count shuffle is heavily combined map-side (Catalyst
    pushes the ``cnt < min_dup`` filter below the join onto the
    counts side). Reassembly is order-exact via array_sort over
    (pos, line) structs in an ObjectHashAggregate — no window, no
    sort operator.

    Returns (id, clean_text, n_kept, n_dropped); docs whose every
    line was boilerplate survive with empty text (left join), so
    downstream accounting never loses rows."""
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias(
            "pos", "line"
        ),
    )
    counts = lines.groupBy("line").agg(F.count(F.lit(1)).alias("cnt"))
    kept = lines.join(counts, on="line").filter(
        F.col("cnt") < F.lit(min_dup)
    )
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "line"))
                ),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    n_lines = F.size(F.split(F.col(text_col), "\n"))
    return (
        docs.select(F.col(id_col), n_lines.alias("n_lines"))
        .join(reassembled, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
    )


def synthetic_lined_pages(spark: SparkSession, n: int = 600) -> DataFrame:
    """Multi-line crawl pages with graded boilerplate: a cookie banner
    on every page (n dups), a per-host nav menu (n/50 dups), a
    newsletter plea on every third page (n/3 dups), a quote block
    repeated exactly 4 times (just UNDER the default threshold — the
    boundary case), and one unique article line."""
    i = F.col("id")
    s = lambda c: c.cast("string")  # noqa: E731
    text = F.concat_ws(
        "\n",
        F.lit("accept cookies and continue"),
        F.concat(F.lit("site "), s(i % 50), F.lit(" navigation menu")),
        F.when(i % 3 == 0, F.lit("subscribe to our newsletter")),
        F.concat(F.lit("quote block "), s(i % 150)),
        F.concat(
            F.lit("article "), s(i), F.lit(" body "), s((i * i) % 101)
        ),
    )
    return spark.range(n).select(i.alias("doc_id"), text.alias("text"))


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: line-level dedup over 600 synthetic multi-line
    pages (min_dup=5): the cookie banner (600×), nav menus (12×), and
    newsletter pleas (200×) drop; the 4×-repeated quote blocks sit one
    below the threshold and stay; every reassembled page text is under
    the hash."""
    out = line_dedup(synthetic_lined_pages(spark))
    return out.orderBy("doc_id").coalesce(1)


SQL_LINE_DEDUP = """
WITH pages AS (
  SELECT i AS doc_id,
         concat_ws(chr(10),
           'accept cookies and continue',
           'site ' || (i % 50) || ' navigation menu',
           CASE WHEN i % 3 = 0 THEN 'subscribe to our newsletter' END,
           'quote block ' || (i % 150),
           'article ' || i || ' body ' || ((i * i) % 101)
         ) AS text
  FROM range(600) t(i)
),
ls AS (SELECT doc_id, str_split(text, chr(10)) AS arr FROM pages),
lines AS (
  SELECT doc_id, unnest(arr) AS line,
         unnest(range(len(arr))) AS pos
  FROM ls
),
counts AS (SELECT line, COUNT(*) AS cnt FROM lines GROUP BY line),
kept AS (
  SELECT l.doc_id, l.pos, l.line
  FROM lines l JOIN counts c ON l.line = c.line
  WHERE c.cnt < 5
),
reassembled AS (
  SELECT doc_id,
         string_agg(line, chr(10) ORDER BY pos) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT p.doc_id,
       COALESCE(r.clean_text, '') AS clean_text,
       COALESCE(r.n_kept, 0) AS n_kept,
       len(str_split(p.text, chr(10))) - COALESCE(r.n_kept, 0)
         AS n_dropped
FROM pages p LEFT JOIN reassembled r ON p.doc_id = r.doc_id
ORDER BY p.doc_id
"""


# ---------------------------------------------------------------------
# k-anonymity audit (round 6): the privacy tier's aggregate check —
# PII detect/redact handle direct identifiers; this audits
# QUASI-identifiers (attribute combinations that single people out)
# ---------------------------------------------------------------------


def k_anonymity_audit(
    df: DataFrame, qi_cols: list, k: int = 5
) -> DataFrame:
    """Equivalence-class census over the quasi-identifier columns:
    one row per class SIZE with how many classes / records sit at
    that size and whether it violates k-anonymity (size < k — those
    records are re-identifiable by joining the QI combination against
    an external dataset).

    Plan shape: two partial-aggregatable groupBys (QI → class sizes,
    size → census) — the first shuffle is keyed on the QI tuple, the
    second on the (tiny) distinct-size domain. Nothing else; at 100 TB
    this is exactly two map-side-combined aggregations. Suppression /
    generalization policies compose downstream by joining the risky
    class keys back (the table_diff changed-key pattern)."""
    classes = df.groupBy(*qi_cols).agg(
        F.count(F.lit(1)).alias("class_size")
    )
    return (
        classes.groupBy("class_size")
        .agg(F.count(F.lit(1)).alias("n_classes"))
        .select(
            "class_size",
            "n_classes",
            (F.col("class_size") * F.col("n_classes")).alias("n_rows"),
            (F.col("class_size") < k).alias("risky"),
        )
        .orderBy("class_size")
    )


K_ANON_K = 5


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: k=5 audit of customers under the quasi-identifier
    (nation, market segment, account-balance kilo-band) — the class-
    size census and every risky count under the hash."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    banded = cust.withColumn(
        "bal_band",
        F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("int"),
    )
    return k_anonymity_audit(
        banded, ["c_nationkey", "c_mktsegment", "bal_band"], k=K_ANON_K
    )


SQL_K_ANONYMITY = f"""
WITH banded AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000.0) AS INT) AS bal_band
  FROM customer
),
classes AS (
  SELECT c_nationkey, c_mktsegment, bal_band,
         COUNT(*) AS class_size
  FROM banded GROUP BY ALL
)
SELECT class_size,
       COUNT(*) AS n_classes,
       class_size * COUNT(*) AS n_rows,
       class_size < {K_ANON_K} AS risky
FROM classes
GROUP BY class_size
ORDER BY class_size
"""


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: l-diversity audit — k-anonymity's required
    companion: a quasi-identifier class can be large (k-anonymous)
    yet still leak its SENSITIVE attribute when every member shares
    one value. Under the k_anonymity quasi-identifier (nation,
    market segment, balance kilo-band) with the order-priority mix of
    each customer's orders as the sensitive attribute, report the
    class census by (class_size, distinct sensitive values): classes
    with l < 2 are homogeneous leaks even when k-anonymous.

    Plan: one orders aggregation to the customer grain, a keyed join,
    one class aggregation (count + exact count-distinct), one census
    roll-up — no window, nothing beyond the class grain after the
    second shuffle."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    sens = orders.groupBy("o_custkey").agg(
        F.min("o_orderpriority").alias("sensitive")
    )
    banded = (
        cust.join(sens, cust.c_custkey == sens.o_custkey)
        .select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / F.lit(1000.0))
            .cast("int")
            .alias("bal_band"),
            "sensitive",
        )
    )
    classes = banded.groupBy(
        "c_nationkey", "c_mktsegment", "bal_band"
    ).agg(
        F.count(F.lit(1)).alias("class_size"),
        F.count_distinct(F.col("sensitive")).alias("l_div"),
    )
    return (
        classes.groupBy("class_size", "l_div")
        .agg(F.count(F.lit(1)).alias("n_classes"))
        .select(
            "class_size",
            "l_div",
            "n_classes",
            (F.col("l_div") < 2).alias("homogeneous_leak"),
        )
        .orderBy("class_size", "l_div")
    )


SQL_L_DIVERSITY = """
WITH sens AS (
  SELECT o_custkey, MIN(o_orderpriority) AS sensitive
  FROM orders GROUP BY o_custkey
),
banded AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000.0) AS INT) AS bal_band,
         sensitive
  FROM customer JOIN sens ON sens.o_custkey = c_custkey
),
classes AS (
  SELECT c_nationkey, c_mktsegment, bal_band,
         COUNT(*) AS class_size,
         COUNT(DISTINCT sensitive) AS l_div
  FROM banded GROUP BY ALL
)
SELECT class_size, l_div, COUNT(*) AS n_classes,
       l_div < 2 AS homogeneous_leak
FROM classes
GROUP BY class_size, l_div
ORDER BY class_size, l_div
"""


_TC_PRIOS = [
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
]


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: t-closeness — the third privacy audit (after
    k-anonymity and l-diversity): a class can be large AND diverse
    yet still leak when its sensitive-value DISTRIBUTION deviates
    from the global one. Per quasi-identifier class, the ordinal EMD
    against the global order-priority distribution, computed as an
    EXACT integer numerator Σ_k |cum_class_k·N − cum_global_k·n| over
    the 4 prefix cuts (the standard equal-ground-distance EMD for
    ordered attributes, scaled by 4·n·N), with the double EMD beside
    it. The 5 priorities pivot to columns, so prefix sums are plain
    column arithmetic — no window anywhere.

    Plan: one customer-grain aggregation, keyed join, one class
    aggregation with 5 conditional counts, a 1-row global broadcast —
    class-grain output."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    sens = orders.groupBy("o_custkey").agg(
        F.min("o_orderpriority").alias("sensitive")
    )
    banded = cust.join(sens, cust.c_custkey == sens.o_custkey).select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(1000.0))
        .cast("int")
        .alias("bal_band"),
        "sensitive",
    )
    conds = [
        F.sum(
            F.when(F.col("sensitive") == p, F.lit(1)).otherwise(F.lit(0))
        ).alias(f"s{k}")
        for k, p in enumerate(_TC_PRIOS)
    ]
    cls = banded.groupBy(
        "c_nationkey", "c_mktsegment", "bal_band"
    ).agg(F.count(F.lit(1)).alias("n"), *conds)
    # the global distribution is the SUM of the class rows — derive
    # it from cls (a |classes|-row relation) instead of re-scanning
    # banded: one structural pass over the fact chain
    glob = cls.agg(
        F.sum("n").alias("gn"),
        *[
            F.sum(f"s{k}").alias(f"g{k}")
            for k in range(len(_TC_PRIOS))
        ],
    )
    j = cls.crossJoin(F.broadcast(glob))
    num = None
    for k in range(4):  # prefix cuts between the 5 ordered values
        cum_c = sum((F.col(f"s{i}") for i in range(k + 1)), F.lit(0))
        cum_g = sum((F.col(f"g{i}") for i in range(k + 1)), F.lit(0))
        term = F.abs(
            cum_c.cast("decimal(38,0)") * F.col("gn").cast("decimal(18,0)")
            - cum_g.cast("decimal(38,0)") * F.col("n").cast("decimal(18,0)")
        )
        num = term if num is None else num + term
    emd = num.cast("double") / (
        F.lit(4.0) * F.col("n").cast("double") * F.col("gn").cast("double")
    )
    return j.select(
        "c_nationkey",
        "c_mktsegment",
        "bal_band",
        "n",
        num.cast("long").alias("emd_num"),
        F.round(emd, 6).alias("emd"),
    ).orderBy("c_nationkey", "c_mktsegment", "bal_band")


def _sql_t_closeness() -> str:
    conds_c = ",\n         ".join(
        f"SUM(CASE WHEN sensitive = '{p}' THEN 1 ELSE 0 END) AS s{k}"
        for k, p in enumerate(_TC_PRIOS)
    )
    conds_g = ",\n         ".join(
        f"SUM(s{k}) AS g{k}" for k in range(len(_TC_PRIOS))
    )
    terms = []
    for k in range(4):
        cc = " + ".join(f"s{i}" for i in range(k + 1))
        cg = " + ".join(f"g{i}" for i in range(k + 1))
        terms.append(
            f"ABS(CAST({cc} AS DECIMAL(38,0)) * CAST(gn AS DECIMAL(18,0))"
            f" - CAST({cg} AS DECIMAL(38,0)) * CAST(n AS DECIMAL(18,0)))"
        )
    num = " + ".join(terms)
    return f"""
WITH sens AS (
  SELECT o_custkey, MIN(o_orderpriority) AS sensitive
  FROM orders GROUP BY o_custkey
),
banded AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000.0) AS INT) AS bal_band,
         sensitive
  FROM customer JOIN sens ON sens.o_custkey = c_custkey
),
cls AS (
  SELECT c_nationkey, c_mktsegment, bal_band, COUNT(*) AS n,
         {conds_c}
  FROM banded GROUP BY c_nationkey, c_mktsegment, bal_band
),
gtot AS (
  SELECT SUM(n) AS gn,
         {conds_g}
  FROM cls
)
SELECT c_nationkey, c_mktsegment, bal_band, n,
       CAST({num} AS BIGINT) AS emd_num,
       ROUND(CAST({num} AS DOUBLE)
             / (4.0 * CAST(n AS DOUBLE) * CAST(gn AS DOUBLE)), 6)
         AS emd
FROM cls CROSS JOIN gtot
ORDER BY c_nationkey, c_mktsegment, bal_band
"""


SQL_T_CLOSENESS = _sql_t_closeness()


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "pii_scan": (q_pii_scan, SQL_PII_SCAN),
    "url_canonical": (q_url_canonical, SQL_URL_CANONICAL),
    "host_quota": (q_host_quota, SQL_HOST_QUOTA),
    "robots_filter": (q_robots_filter, SQL_ROBOTS_FILTER),
    "line_dedup": (q_line_dedup, SQL_LINE_DEDUP),
    "k_anonymity": (q_k_anonymity, SQL_K_ANONYMITY),
    "l_diversity": (q_l_diversity, SQL_L_DIVERSITY),
    "t_closeness": (q_t_closeness, SQL_T_CLOSENESS),
}
