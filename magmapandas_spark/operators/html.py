"""HTML boilerplate stripping — main-content extraction for web-crawl
ingestion (beyond-reference surface; the step before every text
operator in a real pipeline).

Expression-tier: the whole pipeline is a chain of ``regexp_replace`` /
``regexp_extract`` Column expressions (Java regex, evaluated in
whole-stage codegen — no Python), in the standard order:

1. drop ``<head>`` (script/style/title/meta go with it; the title is
   extracted separately first);
2. drop ``<script>``/``<style>`` bodies that sit inside ``<body>``;
3. drop comments;
4. drop structural boilerplate containers (``nav``/``header``/
   ``footer``/``aside``) and ad-class divs;
5. strip remaining tags, decode the five basic entities, collapse
   whitespace.

The gate oracle does NOT replay the regexes (cross-engine regex
semantics are a trap); it reconstructs the expected main text directly
from the synthetic generator's word formula — two independent routes
to the same string, compared exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_BOILERPLATE_TAGS = ("nav", "header", "footer", "aside")


def _decode_entities(t: Column) -> Column:
    for ent, ch in (
        ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&nbsp;", " "),
    ):
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return t


def extract_title(html: Column) -> Column:
    return _decode_entities(
        F.regexp_extract(html, r"(?is)<title[^>]*>(.*?)</title>", 1)
    )


def html_to_text(html: Column) -> Column:
    """Main-content text from an HTML string column (pure expressions).
    Handles the hygiene cases that matter in crawls: script/style
    payloads, comments, boilerplate containers, ad-class divs,
    attribute-carrying tags, basic entities, whitespace runs."""
    t = F.regexp_replace(html, r"(?is)<head[^>]*>.*?</head>", " ")
    t = F.regexp_replace(t, r"(?is)<(script|style)[^>]*>.*?</\1>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    for tag in _BOILERPLATE_TAGS:
        t = F.regexp_replace(t, rf"(?is)<{tag}[^>]*>.*?</{tag}>", " ")
    t = F.regexp_replace(
        t, r'(?is)<div[^>]*class="(ad|banner|cookie)[^"]*"[^>]*>.*?</div>',
        " ",
    )
    t = F.regexp_replace(t, r"(?s)<[^>]+>", " ")
    t = _decode_entities(t)
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def extract_main_text(
    docs: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """(id, title, text, n_words) from an HTML column — one narrow
    projection, no shuffle; composes with every text operator
    downstream (quality scoring, dedup, packing)."""
    text = html_to_text(F.col(html_col))
    return docs.select(
        F.col(id_col),
        extract_title(F.col(html_col)).alias("title"),
        text.alias("text"),
        F.size(
            F.filter(F.split(text, r"\s+"), lambda x: x != F.lit(""))
        ).alias("n_words"),
    )


# ---------------------------------------------------------------------
# Synthetic generator + gate query
# ---------------------------------------------------------------------

# 16-word vocabulary; paragraph j of page i has 5 + (i+j) % 4 words,
# word k = VOCAB[(i*7 + j*3 + k*5) % 16]; page i has 2 + i % 3
# paragraphs. The oracle rebuilds the expected text from this formula.
VOCAB = [
    "magma", "basalt", "olivine", "spark", "shuffle", "parquet",
    "vector", "token", "crystal", "solver", "window", "batch",
    "oxide", "melt", "buffer", "grid",
]


def _para_words(i: int, j: int) -> list[str]:
    n = 5 + (i + j) % 4
    return [VOCAB[(i * 7 + j * 3 + k * 5) % 16] for k in range(n)]


def make_synthetic_html(i: int) -> str:
    paras = [
        f"<p class='body'>{' '.join(_para_words(i, j))}</p>"
        for j in range(2 + i % 3)
    ]
    # boilerplate mixed between real paragraphs, entity in para 0
    body = paras[0]
    body += "<div class=\"ad banner\"><b>buy now!!</b></div>"
    body += "<!-- tracking pixel %d -->" % i
    for p in paras[1:]:
        body += f"<script>var x = {i};\nif (x < 2) {{}}</script>" + p
    return (
        f"<html><head><title>Page {i} &amp; friends</title>"
        f"<style>.c{{color:red}}</style><meta charset='utf-8'/></head>"
        f"<body><nav><a href='/'>home</a> about</nav>"
        f"<header>site {i}</header>{body}"
        f"<footer>&copy; {i}</footer></body></html>"
    )


def synthetic_html_docs(spark: SparkSession, n: int = 60) -> DataFrame:
    rows = [(i, make_synthetic_html(i)) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, html string").coalesce(4)


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: strip 60 synthetic pages and compare title + the
    EXACT extracted text + word count against the formula oracle.
    The footer's ``&copy;`` entity is not in the decode set and the
    footer is removed as boilerplate anyway — by construction the
    expected text is exactly the paragraph words."""
    return extract_main_text(synthetic_html_docs(spark, 60)).orderBy(
        "doc_id"
    )


SQL_HTML_EXTRACT = """
WITH page AS (
  SELECT i AS doc_id, 2 + i % 3 AS n_paras FROM range(60) t(i)
),
para AS (
  SELECT doc_id, j.j AS j, 5 + (doc_id + j.j) % 4 AS n_words
  FROM page, LATERAL (SELECT UNNEST(range(n_paras)) AS j) j
),
word AS (
  SELECT doc_id, j, k.k AS k,
         ['magma','basalt','olivine','spark','shuffle','parquet',
          'vector','token','crystal','solver','window','batch',
          'oxide','melt','buffer','grid'
         ][(doc_id * 7 + j * 3 + k.k * 5) % 16 + 1] AS w
  FROM para, LATERAL (SELECT UNNEST(range(n_words)) AS k) k
),
txt AS (
  SELECT doc_id,
         string_agg(w, ' ' ORDER BY j, k) AS text,
         COUNT(*) AS n_words
  FROM word GROUP BY doc_id
)
SELECT page.doc_id,
       'Page ' || page.doc_id || ' & friends' AS title,
       txt.text AS text,
       CAST(txt.n_words AS INT) AS n_words
FROM page JOIN txt ON page.doc_id = txt.doc_id
ORDER BY page.doc_id
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "html_extract": (q_html_extract, SQL_HTML_EXTRACT),
}
