"""BPE-style subword tokenization (beyond-reference surface — the
token-budget primitive a training-data pipeline sits on).

Two halves, mirroring how real pipelines use a tokenizer:

- :func:`learn_bpe_merges` — classic byte-pair-encoding training
  (Sennrich et al. 2016, public algorithm): count adjacent symbol
  pairs over the word-frequency table, merge the most frequent pair,
  repeat. Runs DRIVER-SIDE on a bounded sample (``max_fit_rows`` cap,
  same discipline as the IVF fit) — tokenizer training is a one-time
  small-data job even when application is 100 TB; determinism comes
  from the count-desc / pair-lexicographic tie-break.
- :func:`apply_bpe` — application as a PURE EXPRESSION CHAIN: the
  merge table is a constant artifact, each merge is one
  ``replace(sym_string, '#a# #b#', '#ab#')`` over sentinel-wrapped
  symbols (see :func:`bpe_symbols` — the wrap is what guarantees a
  pattern only ever matches whole symbols), and both engines scan
  left-to-right non-overlapping, so the whole encode is scan-local,
  shuffle-free, and exactly reproducible in DuckDB SQL. Words are
  '|'-separated; merges are [a-z0-9]-only, so no merge can cross a
  word boundary or collide with the sentinels.

The gate query applies :data:`DEFAULT_MERGES` — a 30-merge table
learned once (offline, with this module's trainer, count-desc /
lexicographic tie-breaks) from the synthetic corpus vocabulary — to
whatever sf_dir the driver passes: fixed tokenizer, any corpus, the
production shape.
"""

from __future__ import annotations

import collections
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from magmapandas_spark.operators.curation import word_tokens
from magmapandas_spark.operators.dedup import fan_out

#: merge symbols must stay inside the token alphabet so the '#'
#: sentinel can never collide with symbol content
_SYM_OK = re.compile(r"[a-z0-9]+")

#: Learned once from the synthetic-corpus vocabulary (sf0.01 sample,
#: 30 steps) — regenerate with ``learn_bpe_merges`` if the corpus
#: changes. A fixed artifact by design: tokenizers are trained once
#: and then applied unchanged.
DEFAULT_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("cu", "st"), ("cust", "o"),
    ("custo", "mer"),
]


def learn_bpe_merges(
    docs: DataFrame,
    n_merges: int = 30,
    text_col: str = "text",
    max_fit_rows: int = 20_000,
) -> list[tuple[str, str]]:
    """Train a BPE merge table on a bounded corpus sample.

    Driver-side by design (bounded collect: ``limit(max_fit_rows)``,
    never the corpus) — the pair-count/merge loop is inherently
    sequential and its input is a word-frequency table, which is tiny
    relative to any corpus. Deterministic: ties broken by pair
    lexicographic order."""
    # limit() on an unordered frame takes whichever rows the
    # first-completing tasks supply — NOT reproducible across runs or
    # partitionings. Order by a text hash first: deterministic sample
    # for the same corpus, regardless of layout (the sort is bounded
    # by the one-time trainer job, not a per-query cost).
    sample = (
        docs.select(F.lower(F.col(text_col)).alias("t"))
        .orderBy(F.md5(F.col("t")), F.col("t"))
        .limit(max_fit_rows)
        .collect()
    )
    wc: collections.Counter = collections.Counter()
    for row in sample:
        for w in re.split(r"[^a-z0-9]+", row[0] or ""):
            if w:
                wc[w] += 1
    seqs = {w: list(w) for w in wc}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pc: collections.Counter = collections.Counter()
        for w, syms in seqs.items():
            c = wc[w]
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        ab = best[0] + best[1]
        for w, syms in seqs.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == best[0]
                    and syms[i + 1] == best[1]
                ):
                    out.append(ab)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[w] = out
    return merges


def bpe_symbols(text_col: str = "text") -> Column:
    """Lowercased words joined by '|' then per-char SENTINEL-WRAPPED
    symbols: ``'key|agg'`` → ``'#k# #e# #y# #|# #a# #g# #g#'``.

    The '#' wrap is what makes the literal replace chain sound: a
    merge rewrites ``'#a# #b#'`` → ``'#ab#'``, and a pattern can only
    match WHOLE symbols — without the wrap, merge (c,o) on symbols
    ``[c, ow]`` ('c ow') would literally match 'c o' inside the
    adjacent symbol and produce 'cow', diverging from BPE semantics
    whenever a merge's left part is a suffix (or right part a prefix)
    of a neighboring multi-char symbol. '#' cannot occur inside a
    symbol (tokens are [a-z0-9], enforced on merges too)."""
    joined = F.array_join(word_tokens(text_col), "|")
    return F.trim(F.regexp_replace(joined, "(.)", "#$1# "))


def apply_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encode each doc with the merge table; emit token statistics.

    One projection: N chained constant ``replace`` calls inside the
    scan stage — all JVM-side (the higher-order token filters evaluate
    as interpreted Catalyst expressions outside whole-stage codegen,
    the chained replaces inline; zero Python either way). Returns
    (id, n_words, n_symbols, n_bpe_tokens) — n_symbols is the
    pre-merge character count, so n_symbols/n_bpe_tokens is the
    tokenizer's compression ratio."""
    merges = DEFAULT_MERGES if merges is None else merges
    for a, b in merges:
        if not _SYM_OK.fullmatch(a) or not _SYM_OK.fullmatch(b):
            raise ValueError(f"illegal merge symbol pair: {(a, b)!r}")
    sym = bpe_symbols(text_col)
    for a, b in merges:
        sym = F.replace(sym, F.lit(f"#{a}# #{b}#"), F.lit(f"#{a}{b}#"))
    toks = word_tokens(text_col)
    # the empty-doc guard matters: split('', ' ') yields [''] — without
    # filtering '' a zero-token doc would report n_bpe_tokens = 1 (and
    # poison any corpus-level compression-ratio statistic)
    bpe_count = F.size(
        F.filter(
            F.split(sym, " "),
            lambda x: (x != F.lit("#|#")) & (x != F.lit("")),
        )
    )
    return docs.select(
        F.col(id_col),
        F.size(toks).alias("n_words"),
        F.length(F.array_join(toks, "")).alias("n_symbols"),
        bpe_count.alias("n_bpe_tokens"),
    )


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: fixed-artifact BPE encode of the documents table —
    per-doc word / character-symbol / BPE-token counts, exact."""
    docs = fan_out(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return apply_bpe(docs).orderBy("doc_id").coalesce(1)


def _sql_merge_chain() -> str:
    """Nested DuckDB replace() chain identical to apply_bpe's
    (sentinel-wrapped symbols — see bpe_symbols)."""
    expr = (
        "trim(regexp_replace(array_to_string(toks, '|'),"
        " '(.)', '#\\1# ', 'g'))"
    )
    for a, b in DEFAULT_MERGES:
        expr = f"replace({expr}, '#{a}# #{b}#', '#{a}{b}#')"
    return expr


SQL_BPE_TOKENS = f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_words,
       CAST(length(array_to_string(toks, '')) AS INT) AS n_symbols,
       CAST(len(list_filter(str_split({_sql_merge_chain()}, ' '),
                            x -> x <> '#|#' AND x <> '')) AS INT)
         AS n_bpe_tokens
FROM tok
ORDER BY doc_id
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "bpe_tokens": (q_bpe_tokens, SQL_BPE_TOKENS),
}
