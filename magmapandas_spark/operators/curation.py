"""Corpus-curation operators for LLM training-data pipelines:
vocabulary statistics, benchmark decontamination, deterministic
stratified sampling, and sequence packing.

All four are expression-tier (no Python at execution time) and are
designed for the 100 TB posture:

- tokenization / n-gram extraction is scan-local (narrow);
- the decontamination join broadcasts the (small) benchmark side;
- sampling is a scan-local filter on a deterministic hash — no shuffle
  at all, so it parallelizes embarrassingly and prunes at the source;
- sequence packing needs a global prefix sum, which is computed as the
  classic two-phase distributed scan (per-block partial sums + a tiny
  block-offset table broadcast back) instead of a single-partition
  window that would serialize the corpus through one task.

No counterpart in the reference (MagmaPandas is a geochemistry
library); these extend the engine toward the training-data use case.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from magmapandas_spark.operators.dedup import _md5_60, fan_out
from magmapandas_spark.relational.suite import _t

#: word tokenizer shared by every curation operator — lowercase, split
#: on non-alphanumeric runs, drop empties. The same expression is
#: evaluable verbatim in DuckDB as
#: ``list_filter(str_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')``.
TOKEN_SPLIT_RE = "[^a-z0-9]+"


def word_tokens(text_col: str = "text") -> Column:
    """Array of lowercase word tokens (empties removed)."""
    return F.filter(
        F.split(F.lower(F.col(text_col)), TOKEN_SPLIT_RE),
        lambda x: x != F.lit(""),
    )


#: DuckDB twin of :func:`word_tokens` over the ``text`` column.
SQL_WORD_TOKENS = (
    "list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),"
    " x -> x <> '')"
)


def word_ngrams(tokens_col: str, n: int) -> Column:
    """Distinct space-joined word n-grams from a token-array column.

    Built array-locally (transform over an index sequence) — the
    explode downstream emits only (id, n-gram) rows, never the full
    token array. Inputs shorter than ``n`` tokens yield an empty array
    (``sequence(1, 0)`` would otherwise descend through 0 and
    ``slice(..., 0, n)`` raise INVALID_PARAMETER_VALUE.START)."""
    return F.when(
        F.size(F.col(tokens_col)) >= n,
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, size({tokens_col}) - {n - 1}),"
                f" i -> array_join(slice({tokens_col}, i, {n}), ' '))"
            )
        ),
    ).otherwise(F.expr("array()"))


def sample_hash(key_col: Column, salt: str = "strat") -> Column:
    """Deterministic uniform bucket in [0, 1000) from a salted md5 —
    bit-identical in any engine with md5 (DuckDB:
    ``('0x' || substr(md5('strat:' || key), 1, 15))::BIGINT % 1000``)."""
    return (
        _md5_60(F.concat(F.lit(salt + ":"), key_col.cast("string"))) % 1000
    )


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    rates_permille: dict[str, int],
    default_permille: int,
    key_col: str = "doc_id",
    salt: str = "strat",
) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff its salted
    key-hash bucket falls below the stratum's rate (in permille).

    Scan-local filter — no shuffle, no RNG state, reproducible across
    engines, partitionings and reruns; changing one stratum's rate
    never changes which rows of another stratum are kept (per-key
    hashing, not per-partition counters)."""
    rate = F.lit(default_permille)
    for value, permille in sorted(rates_permille.items()):
        rate = F.when(
            F.col(stratum_col) == value, F.lit(permille)
        ).otherwise(rate)
    return df.filter(sample_hash(F.col(key_col), salt) < rate)


def contamination_pairs(
    corpus: DataFrame,
    bench: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: (corpus doc, benchmark doc) pairs
    sharing at least one word n-gram, with the count of shared
    distinct n-grams.

    The benchmark side is tiny by construction (eval sets are MBs even
    when the corpus is 100 TB), so its exploded n-gram relation is
    broadcast; the corpus side streams through the hash join with no
    shuffle of corpus data. Output is candidate contamination —
    downstream either drops the corpus doc or routes it to review."""
    toks = word_tokens(text_col)

    def grams(df: DataFrame, out_id: str) -> DataFrame:
        # fan_out before the n-gram explode: tokenization + shingling
        # amplify inside the scan stage, which caps parallelism at the
        # scan's task count (1 for a single-row-group file)
        t = fan_out(df).select(F.col(id_col).alias(out_id), toks.alias("t"))
        return t.filter(F.size("t") >= n).select(
            out_id, F.explode(word_ngrams("t", n)).alias("g")
        )

    cg = grams(corpus, "corpus_id")
    bg = grams(bench, "bench_id")
    return (
        cg.join(F.broadcast(bg), on="g")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def pack_offsets(
    df: DataFrame,
    token_col: str,
    order_col: str = "doc_id",
    block: int = 64,
    budget: int = 2048,
) -> DataFrame:
    """Assign each document its byte-stream position for concat-and-chunk
    sequence packing: documents are concatenated in ``order_col`` order
    and the stream is cut into fixed ``budget``-token context windows.

    The global prefix sum is a two-phase distributed scan:

    1. within-block running sums (window partitioned by
       ``order_col // block`` — parallel, bounded partitions);
    2. block totals aggregated into a tiny table, prefix-summed with a
       single-partition window over #blocks rows (thousands, not
       billions), and broadcast-joined back.

    No corpus-sized data ever passes through a single partition — the
    pattern a naive ``SUM() OVER (ORDER BY id)`` window would force.

    Emits start offset, first/last window (``bin``) ids and the number
    of windows the document spans."""
    # integer `div` keeps the block id exact for order_col past 2^53
    # (float division + cast would round there), matching the bin
    # columns' integer-div discipline below
    blk = F.expr(f"{order_col} div {block}").alias("blk")
    w_in = (
        Window.partitionBy("blk")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = df.select(
        F.col(order_col), F.col(token_col).alias("n_tok"), blk
    ).withColumn(
        "local_start", F.coalesce(F.sum("n_tok").over(w_in), F.lit(0))
    )
    totals = local.groupBy("blk").agg(F.sum("n_tok").alias("blk_tok"))
    w_blk = (
        Window.orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "blk",
        F.coalesce(F.sum("blk_tok").over(w_blk), F.lit(0)).alias(
            "blk_start"
        ),
    )
    start = (F.col("blk_start") + F.col("local_start")).alias("start")
    out = local.join(F.broadcast(offsets), on="blk").select(
        order_col, "n_tok", start
    )
    # integer `div`, not float division + cast: exact at any stream
    # length (a double loses token-offset precision past 2^53)
    return out.select(
        order_col,
        "n_tok",
        "start",
        F.expr(f"start div {budget}").alias("bin_first"),
        F.expr(
            f"(start + greatest(n_tok, 1) - 1) div {budget}"
        ).alias("bin_last"),
    )


def repetition_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition/quality signals (Rae et al. 2021 §A1.1
    published corpus filters, adapted to newline-free word streams):

    - ``dup_word_frac``  — fraction of token occurrences that repeat an
      earlier token (1 − distinct/total);
    - ``top2gram_frac``  — coverage of the single most frequent word
      bigram (degenerate boilerplate pushes this up);
    - ``max_word_run``   — longest run of the same token repeated
      consecutively ("foo foo foo" degeneration);
    - ``repetitive``     — the composite flag a pipeline would filter
      on.

    100 TB posture: ENTIRELY scan-local — every signal is an array
    expression over the doc's own token array (docs are bounded; the
    per-doc O(distinct·total) bigram count is ~10³ ops for web pages),
    so the operator is a narrow projection with NO shuffle: it
    parallelizes embarrassingly and composes with the stratified-
    sampling filter at the source. The fold for ``max_word_run`` is a
    single left-to-right ``aggregate`` with a (prev, run, best) struct
    accumulator.
    """
    toks = word_tokens(text_col)
    d = docs.select(F.col(id_col), toks.alias("t"))
    n = F.size("t")
    nd = F.size(F.array_distinct("t"))
    # sequence(1, 0) DESCENDS (same footgun word_ngrams guards): a
    # single-token doc must yield an empty bigram array, not t[1]
    grams = F.expr(
        "if(size(t) >= 2,"
        " transform(sequence(1, size(t) - 1),"
        "   i -> concat(t[i-1], ' ', t[i])),"
        " array())"
    )
    d = d.withColumn("g", grams)
    # max bigram multiplicity == longest equal-run in the SORTED gram
    # array: O(n log n) + one fold, vs the naive O(distinct·total)
    # count-each-distinct (higher-order-function lambdas run on
    # Spark's interpreted path, so the quadratic version costs ~6 s
    # over sf0.1; this form runs in ~2 s)
    top2 = F.expr(
        "aggregate(sort_array(g),"
        " struct('' as prev, 0 as run, 0 as best),"
        " (acc, x) -> struct(x as prev,"
        "   if(x = acc.prev, acc.run + 1, 1) as run,"
        "   greatest(acc.best, if(x = acc.prev, acc.run + 1, 1)) as best),"
        " acc -> acc.best)"
    )
    run_best = F.expr(
        "aggregate(t, struct('' as prev, 0 as run, 0 as best),"
        " (acc, x) -> struct(x as prev,"
        "   if(x = acc.prev, acc.run + 1, 1) as run,"
        "   greatest(acc.best, if(x = acc.prev, acc.run + 1, 1)) as best),"
        " acc -> acc.best)"
    )
    out = d.select(
        F.col(id_col),
        n.alias("n_words"),
        nd.alias("n_distinct"),
        F.round(
            F.lit(1.0)
            - nd.cast("double") / F.greatest(n, F.lit(1)).cast("double"),
            6,
        ).alias("dup_word_frac"),
        F.coalesce(top2, F.lit(0)).alias("top2_count"),
        F.round(
            F.coalesce(top2, F.lit(0)).cast("double")
            / F.greatest(n - 1, F.lit(1)).cast("double"),
            6,
        ).alias("top2gram_frac"),
        run_best.alias("max_word_run"),
    )
    # the coverage threshold alone over-fires on short docs (a unique
    # bigram in a 5-word doc already covers 25%) — require the top
    # bigram to actually repeat
    return out.withColumn(
        "repetitive",
        (F.col("max_word_run") >= 3)
        | ((F.col("top2_count") >= 3) & (F.col("top2gram_frac") > 0.08))
        | (F.col("dup_word_frac") > 0.9),
    )


# Oracle notes: dup/top2 fractions are ratios of exact integers rounded
# once (safe); max_word_run is computed INDEPENDENTLY via gaps-and-
# islands over positional tokens (different algorithm, same value) —
# the Spark side folds an array, the oracle groups consecutive islands.
SQL_REPETITION_SCORES = """
WITH tok AS (
  SELECT doc_id,
         list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
),
base AS (
  SELECT doc_id, t, len(t) AS n_words,
         len(list_distinct(t)) AS n_distinct,
         list_transform(range(1, len(t)),
                        i -> t[i] || ' ' || t[i + 1]) AS g
  FROM tok
),
top2 AS (
  SELECT doc_id,
         COALESCE(list_max(list_transform(list_distinct(g),
                  gg -> len(list_filter(g, x -> x = gg)))), 0)
           AS top2_count
  FROM base
),
pos AS (
  SELECT doc_id, u.w AS w, u.p AS p
  FROM tok, LATERAL (
    SELECT UNNEST(t) AS w, UNNEST(range(len(t))) AS p
  ) u
),
isl AS (
  SELECT doc_id, w,
         p - ROW_NUMBER() OVER (PARTITION BY doc_id, w ORDER BY p)
           AS grp
  FROM pos
),
runs AS (
  SELECT doc_id, MAX(cnt) AS max_word_run
  FROM (
    SELECT doc_id, w, grp, COUNT(*) AS cnt
    FROM isl GROUP BY doc_id, w, grp
  ) GROUP BY doc_id
),
joined AS (
  SELECT b.doc_id,
         CAST(b.n_words AS INT) AS n_words,
         CAST(b.n_distinct AS INT) AS n_distinct,
         ROUND(1.0 - CAST(b.n_distinct AS DOUBLE)
               / GREATEST(b.n_words, 1), 6)
           AS dup_word_frac,
         CAST(t2.top2_count AS INT) AS top2_count,
         ROUND(CAST(t2.top2_count AS DOUBLE)
               / GREATEST(b.n_words - 1, 1), 6) AS top2gram_frac,
         CAST(COALESCE(r.max_word_run, 0) AS INT) AS max_word_run
  FROM base b
  JOIN top2 t2 ON b.doc_id = t2.doc_id
  LEFT JOIN runs r ON b.doc_id = r.doc_id
)
SELECT *,
       (max_word_run >= 3
        OR (top2_count >= 3 AND top2gram_frac > 0.08)
        OR dup_word_frac > 0.9) AS repetitive
FROM joined
ORDER BY doc_id
"""


def lm_quality_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 1000,
) -> DataFrame:
    """Unigram language-model quality score — the classic perplexity
    filter (CCNet/KenLM-style, reduced to its unigram core so the
    whole computation is relational and exactly oracle-checkable).

    Train pass: corpus token counts (one shuffle), keep the top
    ``vocab_size`` tokens with a deterministic count-desc/token-asc
    tie-break. Score pass: every doc token is scored under the add-1
    smoothed MLE ``p(w) = (c(w)+1) / (N+V+1)`` (out-of-vocabulary
    tokens get c = 0) and docs report mean negative log10 probability
    — high ``avg_nll`` = far from the corpus distribution =
    gibberish/outlier candidate.

    100 TB posture: the LM is the TINY side (vocab_size rows) and is
    broadcast; the corpus side explodes tokens scan-locally, joins
    with no shuffle, and aggregates back per doc on the same key the
    explode preserved. Two shuffles total (train counts, per-doc agg)
    regardless of corpus width; N and V ride a 1-row cross join, not a
    driver collect."""
    toks = docs.select(F.col(id_col), word_tokens(text_col).alias("t"))
    tok = toks.select(id_col, F.explode("t").alias("w"))
    counts = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    vocab = counts.orderBy(F.desc("c"), "w").limit(vocab_size)
    totals = counts.agg(
        F.sum("c").alias("N"),
        F.least(F.count(F.lit(1)), F.lit(vocab_size)).alias("V"),
    )
    scored = (
        tok.join(F.broadcast(vocab), on="w", how="left")
        .crossJoin(F.broadcast(totals))
        .select(
            id_col,
            (
                -F.log10(
                    (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1)).cast(
                        "double"
                    )
                    / (F.col("N") + F.col("V") + 1).cast("double")
                )
            ).alias("nll"),
            F.when(F.col("c").isNull(), 1).otherwise(0).alias("oov"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("oov").alias("oov_count"),
            # Deterministic mean: sum per-token nll as decimal (exact,
            # order-independent) then divide — Spark's partition-order
            # double summation vs DuckDB's sequential sum can differ in
            # the last ulp and flip ROUND(..., 6) at a boundary.
            F.round(
                F.sum(F.col("nll").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_nll"),
        )
        .orderBy(id_col)
    )


SQL_LM_QUALITY = """
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS w
  FROM documents
),
counts AS (
  SELECT w, COUNT(*) AS c FROM tok GROUP BY w
),
vocab AS (
  SELECT w, c FROM counts ORDER BY c DESC, w LIMIT 1000
),
totals AS (
  SELECT SUM(c) AS N, LEAST(COUNT(*), 1000) AS V FROM counts
),
scored AS (
  SELECT tok.doc_id,
         -LOG10(CAST(COALESCE(vocab.c, 0) + 1 AS DOUBLE)
                / CAST(totals.N + totals.V + 1 AS DOUBLE)) AS nll,
         CASE WHEN vocab.c IS NULL THEN 1 ELSE 0 END AS oov
  FROM tok
  LEFT JOIN vocab ON tok.w = vocab.w
  CROSS JOIN totals
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(oov) AS BIGINT) AS oov_count,
       ROUND(CAST(SUM(CAST(nll AS DECIMAL(28,12))) AS DOUBLE)
             / COUNT(*), 6) AS avg_nll
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""


def chunk_text(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_chars: int = 200,
    overlap: int = 40,
) -> DataFrame:
    """Sliding-window text chunking — the RAG / context-window
    primitive: fixed-width character windows with ``overlap`` chars of
    context carried between consecutive chunks.

    Stride = chunk_chars − overlap; chunk k covers
    [k·stride, k·stride + chunk_chars); the final window is short
    rather than re-aligned (deterministic, and downstream tokenizers
    own token-boundary concerns — see pack_offsets for the cross-doc
    token-budget variant).

    100 TB posture: entirely scan-local (one transform + explode per
    doc, no shuffle) — chunking composes with source-side sampling and
    quality filters at zero extra cost."""
    if overlap >= chunk_chars:
        raise ValueError("overlap must be smaller than chunk_chars")
    stride = chunk_chars - overlap
    # n_chunks = max(ceil((len - overlap) / stride), 1); chunk k =
    # substring(text, k*stride + 1, chunk_chars) — all spliced literals
    # are ints, so no injection surface
    expr = (
        f"transform(sequence(0, greatest(cast(ceil((length({text_col})"
        f" - {overlap}) / {stride}) as long), 1) - 1), k -> "
        f"struct(k as chunk_idx, k * {stride} as start, "
        f"substring({text_col}, cast(k * {stride} + 1 as int), "
        f"{chunk_chars}) as chunk))"
    )
    out = docs.select(
        F.col(id_col), F.explode(F.expr(expr)).alias("c")
    ).select(
        id_col,
        F.col("c.chunk_idx").cast("int").alias("chunk_idx"),
        F.col("c.start").cast("long").alias("start"),
        F.col("c.chunk").alias("chunk"),
        F.length("c.chunk").cast("int").alias("chunk_len"),
    )
    return out


def mixture_schedule(
    docs: DataFrame,
    weights: dict[str, int],
    stratum_col: str = "lang",
    size_col: str = "n_chars",
    key_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Domain-mixture scheduling — compute, then APPLY, the per-stratum
    keep rates that hit a target mixture (Pile/Dolma-style domain
    weighting) without upsampling any stratum.

    The schedule: find the binding stratum (the one whose token supply
    runs out first relative to its weight, i.e. min tokens_s/w_s with
    a deterministic stratum-name tie-break), size every other stratum
    off it — ``rate_permille_s = min(1000, (1000 · T* · w_s) div
    (w* · tokens_s))`` — and keep docs via the same salted-hash
    permille filter as :func:`stratified_sample`, so the kept set is
    scan-local-deterministic and stable under rate changes to other
    strata.

    All decision arithmetic is INTEGER (ratios ordered by a scaled
    integer quotient, rates by bigint multiply-then-div), so any
    engine agrees on every rate and every kept doc. The bigint
    products hold to ~1e15 tokens per stratum; past that, pre-scale
    ``tokens`` to token-millions before the formula (quotients at
    permille precision are unaffected) or lift the products to
    decimal(38,0).

    Strata absent from ``weights`` get weight 0 → rate 0 → dropped.

    Returns one row per stratum:
    (stratum, weight, tokens, rate_permille, n_kept, kept_tokens)."""
    w_expr = F.lit(0)
    for value, wt in sorted(weights.items()):
        if wt < 0:
            raise ValueError(f"negative weight for {value!r}")
        w_expr = F.when(
            F.col(stratum_col) == value, F.lit(wt)
        ).otherwise(w_expr)
    sizes = docs.groupBy(stratum_col).agg(
        F.sum(F.col(size_col).cast("bigint")).alias("tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    ).withColumn("w", w_expr)
    # binding stratum: min scaled quotient (tokens*1e6 div w), name
    # tie-break — consistent cross-engine because both order the same
    # integers
    ref = (
        sizes.filter(F.col("w") > 0)
        .select(
            F.col("tokens").alias("ref_tokens"),
            F.col("w").alias("ref_w"),
            F.expr("(tokens * 1000000) div w").alias("q"),
            F.col(stratum_col).alias("ref_stratum"),
        )
        .orderBy("q", "ref_stratum")
        .limit(1)
    )
    rates = sizes.crossJoin(F.broadcast(ref)).select(
        stratum_col,
        "w",
        "tokens",
        F.when(F.col("w") == 0, F.lit(0))
        .otherwise(
            F.least(
                F.lit(1000),
                F.expr(
                    "(1000 * ref_tokens * w) div (ref_w * tokens)"
                ),
            )
        )
        .alias("rate_permille"),
    )
    kept = (
        docs.join(
            F.broadcast(rates.select(stratum_col, "rate_permille")),
            on=stratum_col,
        )
        .filter(sample_hash(F.col(key_col), salt) < F.col("rate_permille"))
        .groupBy(stratum_col)
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(F.col(size_col).cast("bigint")).alias("kept_tokens"),
        )
    )
    return (
        rates.join(kept, on=stratum_col, how="left")
        .select(
            F.col(stratum_col).alias("stratum"),
            F.col("w").alias("weight"),
            "tokens",
            "rate_permille",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
        )
    )


# ---------------------------------------------------------------------
# Weighted reservoir sampling (round 6) — Efraimidis–Spirakis A-ES
# ---------------------------------------------------------------------

_TWO_POW_60 = float(1 << 60)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    key_col: str = "doc_id",
    salt: str = "wrs",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement of ``k``
    rows: inclusion probability proportional to ``weight_col``
    (Efraimidis & Spirakis 2006 — keep the k largest priorities
    ``u^(1/w)``, equivalently the k largest ``ln(u)/w``, with ``u``
    a per-key uniform).

    ``u = (md5_60(salt:key) + 1) / 2^60`` replaces RNG state — the
    sample is reproducible across engines, partitionings, retries and
    cluster sizes, and ADDING rows never changes the priority of
    existing rows (the property that makes A-ES mergeable: union the
    candidate sets, keep the global top-k). The plan is a scan-local
    projection + TakeOrdered — no shuffle, no window. Priorities are
    rounded to 9 decimals in both engines (ln ulp divergence) with a
    total (priority, key) tie-break, so the selected SET is identical.

    Zero/negative weights are excluded (their inclusion probability
    is 0)."""
    u = (
        _md5_60(
            F.concat(F.lit(salt + ":"), F.col(key_col).cast("string"))
        )
        + 1
    ).cast("double") / F.lit(_TWO_POW_60)
    w = F.col(weight_col).cast("double")
    return (
        df.filter(w > 0)
        .select(
            key_col,
            weight_col,
            F.round(F.log(u) / w, 9).alias("priority"),
        )
        .orderBy(F.desc("priority"), key_col)
        .limit(k)
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: 200-document weighted sample, weight = n_chars —
    the md5-uniform, the A-ES priority, and the top-k boundary all
    under the hash."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return weighted_sample(docs.select("doc_id", "n_chars"),
                           "n_chars", 200)


SQL_WEIGHTED_SAMPLE = """
SELECT doc_id, n_chars,
       ROUND(ln((('0x' || substr(md5('wrs:' || doc_id), 1, 15))::BIGINT
                 + 1) / 1152921504606846976.0)
             / CAST(n_chars AS DOUBLE), 9) AS priority
FROM documents
WHERE n_chars > 0
ORDER BY priority DESC, doc_id
LIMIT 200
"""


def stratified_weighted_sample(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    k: int,
    key_col: str = "doc_id",
    salt: str = "wrs",
) -> DataFrame:
    """Per-stratum A-ES weighted sampling WITHOUT replacement: the k
    largest priorities ``ln(u)/w`` within each group — the "keep k
    documents per language, weighted by quality/length" selection.

    Same deterministic md5-uniform priority as
    :func:`weighted_sample`; the per-group top-k rides
    :func:`~magmapandas_spark.operators.indexing.group_topk`'s
    two-phase truncating aggregation, so there is no Window and no
    per-group Sort operator anywhere in the plan — per-stratum
    reservoirs stay mergeable (union candidate top-ks, re-truncate).

    Returns (group, rank, priority, key, weight)."""
    from magmapandas_spark.operators.indexing import group_topk

    u = (
        _md5_60(
            F.concat(F.lit(salt + ":"), F.col(key_col).cast("string"))
        )
        + 1
    ).cast("double") / F.lit(_TWO_POW_60)
    w = F.col(weight_col).cast("double")
    pri = df.filter(w > 0).select(
        group_col,
        key_col,
        weight_col,
        F.round(F.log(u) / w, 9).alias("priority"),
    )
    return group_topk(
        pri,
        group_col,
        "priority",
        k,
        payload_cols=[weight_col],
        id_col=key_col,
    )


def q_stratified_weighted_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gate query: 20 documents per language, weight = n_chars — the
    per-stratum priorities, reservoir boundaries, and tie-breaks all
    under the hash."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = stratified_weighted_sample(
        docs.select("lang", "doc_id", "n_chars"), "lang", "n_chars", 20
    )
    return out.orderBy("lang", "rank").coalesce(1)


SQL_STRATIFIED_WEIGHTED_SAMPLE = """
WITH pri AS (
  SELECT lang, doc_id, n_chars,
         ROUND(ln((('0x' || substr(md5('wrs:' || doc_id), 1, 15))::BIGINT
                   + 1) / 1152921504606846976.0)
               / CAST(n_chars AS DOUBLE), 9) AS priority
  FROM documents
  WHERE n_chars > 0
),
ranked AS (
  SELECT lang, doc_id, n_chars, priority,
         ROW_NUMBER() OVER (
           PARTITION BY lang ORDER BY priority DESC, doc_id
         ) AS rank
  FROM pri
)
SELECT lang, CAST(rank AS INT) AS rank, priority, doc_id, n_chars
FROM ranked WHERE rank <= 20
ORDER BY lang, rank
"""


# ---------------------------------------------------------------------
# Sentence segmentation statistics
# ---------------------------------------------------------------------

_SENT_SPLIT_RE = "[.!?]+ "  # literal-space boundary: same semantics in
# Java regex (Spark split) and RE2 (DuckDB str_split_regex)


def sentence_stats(docs: DataFrame) -> DataFrame:
    """Per-source sentence segmentation report.

    Documents are split into sentences on ``[.!?]+ `` (terminal
    punctuation followed by a space; empties filtered), then reduced
    per document and per source — all counts exact integers, means as
    integer milli-units. One explode + two aggregations; the sentence
    rows never carry the document body (only lengths), so the explode
    is narrow at crawl scale.
    """
    sents = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.filter(
                F.split(F.col("text"), _SENT_SPLIT_RE),
                lambda x: x != F.lit(""),
            )
        ).alias("s"),
    ).select("doc_id", "source", F.length("s").alias("slen"))
    per_doc = sents.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_sent"),
        F.sum("slen").alias("chars"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_sent").alias("n_sentences"),
            F.max("n_sent").alias("max_sent_per_doc"),
            F.sum("chars").alias("_chars"),
        )
        .select(
            "source",
            "n_docs",
            "n_sentences",
            "max_sent_per_doc",
            F.expr("n_sentences * 1000 div n_docs").alias(
                "sent_per_doc_milli"
            ),
            F.expr("_chars * 1000 div n_sentences").alias(
                "sent_len_milli"
            ),
        )
        .orderBy("source")
    )


def q_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: per-source sentence segmentation statistics."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return sentence_stats(docs)


SQL_SENTENCE_STATS = """
WITH sents AS (
  SELECT doc_id, source,
         LENGTH(UNNEST(list_filter(str_split_regex(text, '[.!?]+ '),
                                   x -> x <> ''))) AS slen
  FROM documents
),
per_doc AS (
  SELECT doc_id, source, COUNT(*) AS n_sent,
         CAST(SUM(slen) AS BIGINT) AS chars
  FROM sents GROUP BY doc_id, source
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_sent) AS BIGINT) AS n_sentences,
       MAX(n_sent) AS max_sent_per_doc,
       CAST(SUM(n_sent) * 1000 // COUNT(*) AS BIGINT)
         AS sent_per_doc_milli,
       CAST(SUM(chars) * 1000 // SUM(n_sent) AS BIGINT)
         AS sent_len_milli
FROM per_doc
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------
# Domain divergence (chi-square distance of token-length profiles)
# ---------------------------------------------------------------------


def domain_divergence(docs: DataFrame, max_bucket: int = 20) -> DataFrame:
    """Chi-square divergence of each source's token-length profile
    from the corpus profile — the ln-free domain-shift score used to
    flag outlier slices before mixing (the KL shape with rational
    arithmetic: contributions are ``(p - q)^2 div max(q, 1)`` over
    integer-ppm shares, so the statistic hashes exactly).

    Plan: one token explode into a (source, bucket) count aggregation
    (map-side partials; ≤ sources x 21 rows emerge), then
    constant-size profile joins. Nothing after the scan exceeds
    |sources| · (max_bucket + 1) rows.
    """
    toks = docs.select(
        "source",
        F.explode(word_tokens("text")).alias("tok"),
    ).select("source", F.least(F.length("tok"), F.lit(max_bucket)).alias("b"))
    # ONE token scan: the (source, bucket) counts are ≤ |sources|·21
    # rows and every other profile is a re-aggregation of them
    # (sums of counts == direct counts); eager-checkpointed so the
    # four consumers don't re-explode the corpus
    csb = (
        toks.groupBy("source", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    ns = csb.groupBy("source").agg(F.sum("c").alias("n_tokens"))
    gb = csb.groupBy("b").agg(F.sum("c").alias("g"))
    n = csb.select(F.sum("c").alias("n_total"))
    grid = ns.crossJoin(F.broadcast(gb)).join(
        csb, ["source", "b"], "left"
    ).crossJoin(F.broadcast(n))
    contrib = grid.select(
        "source",
        "b",
        "n_tokens",
        F.expr("COALESCE(c, 0) * 1000000 div n_tokens").alias("p_ppm"),
        F.expr("g * 1000000 div n_total").alias("q_ppm"),
    ).select(
        "source",
        "b",
        "n_tokens",
        F.expr(
            "(p_ppm - q_ppm) * (p_ppm - q_ppm)"
            " div (CASE WHEN q_ppm > 1 THEN q_ppm ELSE 1 END)"
        ).alias("contrib"),
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("contrib"), "b"
    )
    return (
        contrib.withColumn("rn", F.row_number().over(w))
        .groupBy("source", "n_tokens")
        .agg(
            F.sum("contrib").alias("chi2"),
            F.max(F.expr("CASE WHEN rn = 1 THEN b END")).alias("top_bucket"),
            F.max(F.expr("CASE WHEN rn = 1 THEN contrib END")).alias(
                "top_contrib"
            ),
        )
        .orderBy("source")
    )


def q_domain_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: chi-square token-length divergence per source."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return domain_divergence(docs)


SQL_DOMAIN_DIVERGENCE = """
WITH toks AS (
  SELECT source,
         LEAST(LENGTH(UNNEST(list_filter(
           str_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))), 20)
           AS b
  FROM documents
),
csb AS (SELECT source, b, COUNT(*) AS c FROM toks GROUP BY source, b),
ns AS (SELECT source, COUNT(*) AS n_tokens FROM toks GROUP BY source),
gb AS (SELECT b, COUNT(*) AS g FROM toks GROUP BY b),
n AS (SELECT COUNT(*) AS n_total FROM toks),
grid AS (
  SELECT ns.source, gb.b, ns.n_tokens,
         COALESCE(csb.c, 0) * 1000000 // ns.n_tokens AS p_ppm,
         gb.g * 1000000 // n.n_total AS q_ppm
  FROM ns CROSS JOIN gb
  LEFT JOIN csb ON csb.source = ns.source AND csb.b = gb.b
  CROSS JOIN n
),
contrib AS (
  SELECT source, b, n_tokens,
         (p_ppm - q_ppm) * (p_ppm - q_ppm)
           // (CASE WHEN q_ppm > 1 THEN q_ppm ELSE 1 END) AS contrib
  FROM grid
),
ranked AS (
  SELECT source, b, n_tokens, contrib,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY contrib DESC, b) AS rn
  FROM contrib
)
SELECT source, n_tokens, CAST(SUM(contrib) AS BIGINT) AS chi2,
       MAX(CASE WHEN rn = 1 THEN b END) AS top_bucket,
       MAX(CASE WHEN rn = 1 THEN contrib END) AS top_contrib
FROM ranked
GROUP BY source, n_tokens
ORDER BY source
"""


# ---------------------------------------------------------------------
# Bigram language-model fluency scoring
# ---------------------------------------------------------------------


def bigram_lm_score(docs: DataFrame, top_k: int = 30) -> DataFrame:
    """Per-document fluency under a corpus bigram LM, ln-free.

    Every adjacent token pair scores the integer conditional
    probability ``c(ab) · 10⁶ div c(a)`` (bigram count over head-token
    unigram count — both from the corpus itself, so every observed
    bigram has support ≥ 1); the document score is the integer mean
    over its bigrams. The log-domain sum is monotone in this rational
    mean for ranking purposes, and the rational form hashes exactly
    (same discipline as token_pmi).

    Plan: bigram arrays are built scan-locally (transform over an
    index sequence — only (doc, bigram) rows explode), corpus counts
    are two word-count aggregations, and scoring is two hash joins
    against vocabulary-sized relations. Top-k via orderBy+limit.
    """
    toks = docs.select(
        "doc_id", word_tokens("text").alias("t")
    ).filter(F.size("t") >= 2)
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
            )
        ).alias("bg"),
    ).select(
        "doc_id",
        "bg",
        F.expr("split(bg, ' ')[0]").alias("head"),
    )
    c_bg = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("c_ab"))
    unis = docs.select(F.explode(word_tokens("text")).alias("tok"))
    c_uni = unis.groupBy("tok").agg(F.count(F.lit(1)).alias("c_a"))
    scored = (
        bigrams.join(c_bg, "bg")
        .join(c_uni.withColumnRenamed("tok", "head"), "head")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.expr("c_ab * 1000000 div c_a")).alias("_psum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.expr("_psum div n_bigrams").alias("score_ppm"),
        )
    )
    top = scored.orderBy(F.desc("score_ppm"), "doc_id").limit(top_k)
    return top.orderBy(F.desc("score_ppm"), "doc_id")


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: top-30 most-fluent documents under the corpus
    bigram LM — exact integer ppm scores."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bigram_lm_score(docs)


SQL_BIGRAM_LM = """
WITH toks AS (
  SELECT doc_id,
         list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
),
bigrams AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i + 1])) AS bg
  FROM toks WHERE len(t) >= 2
),
bg2 AS (
  SELECT doc_id, bg, str_split(bg, ' ')[1] AS head FROM bigrams
),
c_bg AS (SELECT bg, COUNT(*) AS c_ab FROM bg2 GROUP BY bg),
unis AS (
  SELECT UNNEST(list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS tok
  FROM documents
),
c_uni AS (SELECT tok, COUNT(*) AS c_a FROM unis GROUP BY tok),
scored AS (
  SELECT b.doc_id, COUNT(*) AS n_bigrams,
         CAST(SUM(c.c_ab * 1000000 // u.c_a) AS BIGINT) AS psum
  FROM bg2 b
  JOIN c_bg c ON c.bg = b.bg
  JOIN c_uni u ON u.tok = b.head
  GROUP BY b.doc_id
)
SELECT doc_id, n_bigrams, psum // n_bigrams AS score_ppm
FROM scored
ORDER BY score_ppm DESC, doc_id
LIMIT 30
"""


# ---------------------------------------------------------------------
# Group-aware k-fold split assignment
# ---------------------------------------------------------------------


def kfold_split(
    events: DataFrame,
    group_col: str = "user_id",
    k: int = 5,
    salt: str = "kf7",
) -> DataFrame:
    """Group-hash k-fold assignment with a leakage audit column.

    Folds are assigned by md5 of the GROUP key (never the row), so
    every row of a user lands in one fold — the split that prevents
    per-user leakage between train and eval slices. Output per fold:
    rows, distinct groups, purchase-share ppm (a balance check), and
    ``leaked_groups`` — the count of groups seen in more than one
    fold, which this construction makes identically zero and the
    oracle re-derives rather than trusts.

    Plan: fold id is a scan-local hash expression; one fold-keyed
    aggregation plus one constant-size (k rows) audit join.
    """
    fold = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(salt), F.col(group_col).cast("string")
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        % k
    )
    rows = events.select(
        fold.alias("fold"),
        F.col(group_col).alias("grp"),
        F.col("event_type"),
    )
    per_fold = rows.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("grp").alias("n_groups"),
        F.sum(
            F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END")
        ).alias("_n_purch"),
    )
    leaks = (
        rows.select("grp", "fold")
        .distinct()
        .groupBy("grp")
        .agg(F.countDistinct("fold").alias("nf"))
        .select(
            F.sum(F.expr("CASE WHEN nf > 1 THEN 1 ELSE 0 END")).alias(
                "leaked_groups"
            )
        )
    )
    return (
        per_fold.crossJoin(F.broadcast(leaks))
        .select(
            "fold",
            "n_rows",
            "n_groups",
            F.expr("_n_purch * 1000000 div n_rows").alias("purchase_ppm"),
            "leaked_groups",
        )
        .orderBy("fold")
    )


def q_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: group-hash 5-fold split of events with the
    leakage audit re-derived under the hash."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return kfold_split(ev)


SQL_KFOLD_SPLIT = """
WITH rows_f AS (
  SELECT ('0x' || substr(md5('kf7' || CAST(user_id AS VARCHAR)), 1, 12))
           ::BIGINT % 5 AS fold,
         user_id AS grp, event_type
  FROM events
),
per_fold AS (
  SELECT fold, COUNT(*) AS n_rows, COUNT(DISTINCT grp) AS n_groups,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_purch
  FROM rows_f GROUP BY fold
),
leaks AS (
  SELECT CAST(SUM(CASE WHEN nf > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS leaked_groups
  FROM (SELECT grp, COUNT(DISTINCT fold) AS nf FROM rows_f GROUP BY grp)
)
SELECT fold, n_rows, n_groups,
       n_purch * 1000000 // n_rows AS purchase_ppm,
       leaked_groups
FROM per_fold CROSS JOIN leaks
ORDER BY fold
"""


# ---------------------------------------------------------------------
# Class-balanced deterministic downsampling (round 8)
# ---------------------------------------------------------------------


def q_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: rebalance the documents corpus to the smallest
    language class by deterministic hash sampling — per class, the
    acceptance rate is ``n_min·1e6 div n_class`` ppm and a document
    survives iff its md5-uniform (permille-scaled, the
    stratified-sample discipline) falls under the rate. Output per
    language: original count, rate, sampled count — the class-balance
    pass every training-mix pipeline runs, reproducible across
    engines, partitionings and retries.

    Plan: one counts aggregate (|classes| rows, broadcast back), one
    scan-local md5 filter, one counts aggregate — no window, no
    shuffle of the corpus beyond the two aggregations."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_orig"))
    n_min = counts.agg(F.min("n_orig").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        "lang",
        "n_orig",
        F.expr("n_min * 1000000 div n_orig").alias("rate_ppm"),
    )
    u_ppm = _md5_60(
        F.concat(F.lit("bal:"), F.col("doc_id").cast("string"))
    ) % 1_000_000
    sampled = (
        docs.select("lang", u_ppm.alias("u"))
        .join(F.broadcast(rates), "lang")
        .filter(F.col("u") < F.col("rate_ppm"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return (
        rates.join(F.broadcast(sampled), "lang", "left")
        .select(
            "lang",
            "n_orig",
            "rate_ppm",
            F.coalesce("n_sampled", F.lit(0)).cast("long").alias(
                "n_sampled"
            ),
        )
        .orderBy("lang")
    )


SQL_BALANCED_SAMPLE = """
WITH counts AS (
  SELECT lang, COUNT(*) AS n_orig FROM documents GROUP BY lang
),
rates AS (
  SELECT lang, n_orig,
         (SELECT MIN(n_orig) FROM counts) * 1000000 // n_orig
           AS rate_ppm
  FROM counts
),
sampled AS (
  SELECT d.lang, COUNT(*) AS n_sampled
  FROM documents d JOIN rates r ON r.lang = d.lang
  WHERE ('0x' || substr(md5('bal:' || d.doc_id), 1, 15))::BIGINT
        % 1000000 < r.rate_ppm
  GROUP BY d.lang
)
SELECT r.lang, r.n_orig, CAST(r.rate_ppm AS BIGINT) AS rate_ppm,
       COALESCE(s.n_sampled, 0) AS n_sampled
FROM rates r LEFT JOIN sampled s ON s.lang = r.lang
ORDER BY r.lang
"""


def q_text_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: per-language vocabulary profile — total tokens,
    distinct types, hapax legomena (frequency-1 types), type-token
    ratio and hapax share in integer ppm. The vocabulary-growth /
    lexical-diversity report a corpus-quality pass publishes; a
    collapsing TTR or hapax share flags near-duplicate or templated
    text the dedup tier should have caught.

    Plan: scan-local whitespace tokenize + explode (tokens only, the
    text never shuffles), one (lang, token) count aggregation
    (vocabulary-sized, map-side combined), one |langs|-row roll-up —
    the token_pmi two-phase shape."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    tf = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        tf.groupBy("lang")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(
                F.expr("CASE WHEN cnt = 1 THEN 1 ELSE 0 END")
            ).alias("n_hapax"),
        )
        .select(
            "lang",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "n_types",
            F.col("n_hapax").cast("long").alias("n_hapax"),
            F.expr("n_types * 1000000 div n_tokens").alias("ttr_ppm"),
            F.expr("n_hapax * 1000000 div n_types").alias("hapax_ppm"),
        )
        .orderBy("lang")
    )


SQL_TEXT_HAPAX = """
WITH toks AS (
  SELECT lang, UNNEST(str_split(text, ' ')) AS tok FROM documents
),
tf AS (
  SELECT lang, tok, COUNT(*) AS cnt
  FROM toks WHERE tok <> '' GROUP BY lang, tok
),
per AS (
  SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         COUNT(*) AS n_types,
         CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hapax
  FROM tf GROUP BY lang
)
SELECT lang, n_tokens, n_types, n_hapax,
       n_types * 1000000 // n_tokens AS ttr_ppm,
       n_hapax * 1000000 // n_types AS hapax_ppm
FROM per
ORDER BY lang
"""


def q_length_lognormal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: per-language log-normal fit of document lengths —
    μ and σ of ln(n_chars), the standard parametrization of corpus
    length distributions (a rebuilt corpus whose (μ, σ) moves is
    length-shifted even when mean length looks stable). Per-row
    ln(n_chars) is rounded to 9 decimals and the moments come from
    DECIMAL sums of the rounded terms — order-independent under any
    partitioning (the psi_drift/dsir ln-rounding precedent).

    Plan: one scan-local projection + one |langs|-row aggregation."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("n_chars") > 0
    )
    lx = F.round(F.log(F.col("n_chars").cast("double")), 9)
    src = docs.select("lang", lx.alias("lx"))
    g = src.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("lx").cast("decimal(28,9)")).cast("double").alias("s1"),
        F.sum(
            (F.col("lx") * F.col("lx")).cast("decimal(28,9)")
        ).cast("double").alias("s2"),
    )
    n = F.col("n").cast("double")
    mu = F.col("s1") / n
    var = F.col("s2") / n - mu * mu
    return g.select(
        "lang",
        "n",
        F.round(mu, 6).alias("mu"),
        F.round(F.sqrt(var), 6).alias("sigma"),
    ).orderBy("lang")


SQL_LENGTH_LOGNORMAL = """
WITH src AS (
  SELECT lang, ROUND(LN(CAST(n_chars AS DOUBLE)), 9) AS lx
  FROM documents WHERE n_chars > 0
),
g AS (
  SELECT lang, COUNT(*) AS n,
         CAST(SUM(CAST(lx AS DECIMAL(28,9))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(lx * lx AS DECIMAL(28,9))) AS DOUBLE) AS s2
  FROM src GROUP BY lang
)
SELECT lang, n,
       ROUND(s1 / CAST(n AS DOUBLE), 6) AS mu,
       ROUND(SQRT(s2 / CAST(n AS DOUBLE)
                  - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))),
             6) AS sigma
FROM g
ORDER BY lang
"""


# ---------------------------------------------------------------------
# Corpus-build funnel (round 9): the pipeline legs COMPOSED
# ---------------------------------------------------------------------


def corpus_build_funnel(docs: DataFrame) -> DataFrame:
    """ONE end-to-end corpus build — the report a real training-data
    pipeline publishes per snapshot. Five stages over the documents
    table, each the engine's separately-verified leg:

    1. ``ingest``        — the raw corpus.
    2. ``quality``       — keep docs with >= 20 whitespace tokens
                           (the text_quality signal).
    3. ``langid``        — keep docs the marker-token heuristic
                           classifies 'en' (the langid_heuristic leg).
    4. ``dedup_prefix``  — keep-first per md5 of the first five
                           tokens (boilerplate/title-prefix dedup; the
                           dedup_keep_best discipline).
    5. ``decontaminate`` — drop the held-out eval slice
                           (doc_id % 11 = 0) and every doc the Bloom
                           probe flags against it (the
                           bloom_decontaminate leg).

    Emits one row per stage: (stage, stage_name, n_docs,
    n_ws_tokens) — the survival funnel plus the token budget that
    survives to training.

    Scale posture: stages 1-3 are conditional aggregates over ONE
    scan (no per-stage re-filtering passes); stage 4 is a
    map-side-combined keep-first aggregate on the prefix hash (r12 —
    formerly a corpus-wide keep-first window whose sort dragged the
    text column); stage 5 is the Bloom chain's k broadcast
    semi joins (benchmark-sized build sides) + one anti join. No
    stage materializes an intermediate corpus."""
    from magmapandas_spark.operators.bloom import bloom_flag_docs

    tokens = F.split(F.col("text"), " ")
    ws = F.size(tokens)
    q = ws >= 20
    l_ = (
        F.size(
            F.filter(tokens, lambda x: x.isin("the", "a", "and", "of"))
        )
        >= 1
    )
    h = F.md5(F.concat_ws(" ", F.slice(tokens, 1, 5)))
    base = docs.select(
        "doc_id",
        "text",
        ws.alias("ws"),
        q.alias("q"),
        l_.alias("l"),
        h.alias("h"),
        (F.col("doc_id") % 11 == 0).alias("bench"),
    )
    head = base.agg(
        F.count(F.lit(1)).alias("n1"),
        F.sum("ws").alias("t1"),
        F.sum(F.when(F.col("q"), 1).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("q"), F.col("ws"))).alias("t2"),
        F.sum(F.when(F.col("q") & F.col("l"), 1).otherwise(0)).alias(
            "n3"
        ),
        F.sum(F.when(F.col("q") & F.col("l"), F.col("ws"))).alias("t3"),
    ).selectExpr(
        "stack(3, 1, 'ingest', n1, t1, 2, 'quality', n2, t2,"
        " 3, 'langid', n3, t3)"
        " AS (stage, stage_name, n_docs, n_ws_tokens)"
    )
    # stage-4 keep-first: min(struct(doc_id, payload)) per prefix-hash
    # — the map-side-combined twin of the former
    # `row_number() OVER (PARTITION BY h ORDER BY doc_id) = 1` window
    # (r12, the ivf_topk rewrite applied here). doc_id is unique, so
    # the payload fields after it are never compared — provably the
    # same surviving row — while the rewrite drops the corpus-wide
    # (h, doc_id) SORT of a text-carrying relation and combines
    # duplicates map-side before the exchange. Two aggregates, one per
    # consumer, so the tail branch's shuffle carries no text (the
    # struct would otherwise defeat column pruning).
    passed = base.filter(F.col("q") & F.col("l"))
    kept_slim = (
        passed.groupBy("h")
        .agg(F.min(F.struct("doc_id", "bench", "ws")).alias("m"))
        .select("m.doc_id", "m.bench", "m.ws")
    )
    cand = (
        passed.groupBy("h")
        .agg(F.min(F.struct("doc_id", "bench", "text")).alias("m"))
        .filter(~F.col("m.bench"))
        .select("m.doc_id", "m.text")
    )
    bench_docs = docs.filter(F.col("doc_id") % 11 == 0).select(
        "doc_id", "text"
    )
    flagged = bloom_flag_docs(cand, bench_docs).select(
        "doc_id", F.lit(True).alias("contaminated")
    )
    tail = (
        kept_slim.join(F.broadcast(flagged), "doc_id", "left")
        .agg(
            # sum(lit(1)), not count: over an empty survivor relation
            # the old conditional sums returned NULL, count would say 0
            F.sum(F.lit(1)).alias("n4"),
            F.sum("ws").alias("t4"),
            F.sum(
                F.when(
                    ~F.col("bench") & F.col("contaminated").isNull(),
                    1,
                ).otherwise(0)
            ).alias("n5"),
            F.sum(
                F.when(
                    ~F.col("bench") & F.col("contaminated").isNull(),
                    F.col("ws"),
                )
            ).alias("t5"),
        )
        .selectExpr(
            "stack(2, 4, 'dedup_prefix', n4, t4,"
            " 5, 'decontaminate', n5, t5)"
            " AS (stage, stage_name, n_docs, n_ws_tokens)"
        )
    )
    return (
        head.unionByName(tail)
        .select(
            F.col("stage").cast("int"),
            "stage_name",
            F.col("n_docs").cast("long"),
            F.col("n_ws_tokens").cast("long"),
        )
        .orderBy("stage")
    )


def q_corpus_build_funnel(spark, sf_dir: str) -> DataFrame:
    """Gate query: the five-stage corpus-build funnel (quality ->
    langid -> prefix dedup -> Bloom decontamination) with per-stage
    doc and token survival counts under the cross-engine hash — the
    engine's separately-verified pipeline legs composed into one
    corpus snapshot report."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus_build_funnel(docs)


SQL_CORPUS_BUILD_FUNNEL = """
WITH base AS (
  SELECT doc_id, text,
         len(str_split(text, ' ')) AS ws,
         len(str_split(text, ' ')) >= 20 AS q,
         len(list_filter(str_split(text, ' '),
                         x -> x IN ('the','a','and','of'))) >= 1 AS l,
         md5(array_to_string(str_split(text, ' ')[1:5], ' ')) AS h,
         doc_id % 11 = 0 AS bench
  FROM documents
),
surv AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) = 1 AS keep
  FROM base WHERE q AND l
),
tok AS (
  SELECT doc_id,
         list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM surv WHERE keep AND NOT bench
),
ng AS (
  SELECT DISTINCT doc_id,
         array_to_string(t[CAST(i AS INT):CAST(i + 4 AS INT)], ' ') AS ng
  FROM tok, UNNEST(range(1, len(t) - 3)) AS r(i)
  WHERE len(t) >= 5
),
btok AS (
  SELECT doc_id,
         list_filter(str_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents WHERE doc_id % 11 = 0
),
bng AS (
  SELECT DISTINCT
         array_to_string(t[CAST(i AS INT):CAST(i + 4 AS INT)], ' ') AS ng
  FROM btok, UNNEST(range(1, len(t) - 3)) AS r(i)
  WHERE len(t) >= 5
),
bench_pos AS (
  SELECT DISTINCT
    (((('0x' || substr(md5(ng), 1, 15))::BIGINT % 2147483647)
      + j.j * (('0x' || substr(md5(ng), 17, 15))::BIGINT % 2147483647))
     % 2147483647) % 131072 AS p
  FROM bng, (SELECT UNNEST([0, 1, 2]) AS j) j
),
probes AS (
  SELECT doc_id, ng,
    (((('0x' || substr(md5(ng), 1, 15))::BIGINT % 2147483647)
      + j.j * (('0x' || substr(md5(ng), 17, 15))::BIGINT % 2147483647))
     % 2147483647) % 131072 AS p
  FROM ng, (SELECT UNNEST([0, 1, 2]) AS j) j
),
flagged AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, ng FROM probes
    WHERE p IN (SELECT p FROM bench_pos)
    GROUP BY doc_id, ng HAVING COUNT(*) = 3
  )
)
SELECT CAST(1 AS INT) AS stage, 'ingest' AS stage_name,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ws) AS BIGINT) AS n_ws_tokens FROM base
UNION ALL
SELECT 2, 'quality', CAST(COUNT(*) AS BIGINT), CAST(SUM(ws) AS BIGINT)
FROM base WHERE q
UNION ALL
SELECT 3, 'langid', CAST(COUNT(*) AS BIGINT), CAST(SUM(ws) AS BIGINT)
FROM base WHERE q AND l
UNION ALL
SELECT 4, 'dedup_prefix', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(ws) AS BIGINT)
FROM surv WHERE keep
UNION ALL
SELECT 5, 'decontaminate', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(ws) AS BIGINT)
FROM surv
WHERE keep AND NOT bench
  AND doc_id NOT IN (SELECT doc_id FROM flagged)
ORDER BY stage
"""


# ----------------------------------------------------------------------
# gate queries
# ----------------------------------------------------------------------


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token frequency table, top 100 — the tokenizer-
    training / frequency-filter primitive. Classic word-count shape:
    scan-local tokenize + explode, ONE shuffle into a hash aggregate
    with map-side partial aggregation, TakeOrdered top-k (no global
    sort). Ties broken on the token so the LIMIT boundary is
    deterministic."""
    # fan_out: the tokenize-explode amplifies ~200× and runs inside the
    # scan stage — parallelism would be capped at the (single-row-group)
    # file's task count without it
    docs = fan_out(spark.read.parquet(_t(sf_dir, "documents")))
    tok = docs.select(
        "doc_id", F.explode(word_tokens()).alias("token")
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("tf"), "token")
        .limit(100)
    )


SQL_VOCAB_TOPK = f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_WORD_TOKENS}) AS token FROM documents
)
SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
FROM tok
GROUP BY token
ORDER BY tf DESC, token
LIMIT 100
"""


def q_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing a 5-word-gram
    with the held-out set (doc_id % 11 = 0 plays the benchmark here).
    The benchmark n-gram relation is broadcast; corpus data never
    shuffles. Word soup in the synthetic corpus means only true
    near-duplicates collide — exactly the leak the operator exists to
    catch."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    bench = docs.filter(F.col("doc_id") % 11 == 0)
    corpus = docs.filter(F.col("doc_id") % 11 != 0)
    return contamination_pairs(corpus, bench, n=5).orderBy(
        "corpus_id", "bench_id"
    )


SQL_NGRAM_CONTAMINATION = f"""
WITH toks AS (
  SELECT doc_id, {SQL_WORD_TOKENS} AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(t[CAST(i AS INT):CAST(i + 4 AS INT)], ' ') AS g
  FROM toks, UNNEST(range(1, len(t) - 3)) AS r(i)
  WHERE len(t) >= 5
)
SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id,
       COUNT(*) AS n_common
FROM sh c
JOIN sh b ON c.g = b.g
WHERE b.doc_id % 11 = 0 AND c.doc_id % 11 <> 0
GROUP BY c.doc_id, b.doc_id
ORDER BY corpus_id, bench_id
"""


_RATES = {"en": 250}


_DEFAULT_RATE = 500


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling: keep 25% of English docs
    and 50% of every other language, decided per-doc by a salted md5
    bucket — a scan-local filter (zero shuffle, zero RNG state) that
    any engine reproduces bit-for-bit. The shape that downsamples a
    100 TB common-crawl slice at the scan."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    out = stratified_sample(
        docs, "lang", _RATES, _DEFAULT_RATE, key_col="doc_id"
    )
    return out.select(
        "doc_id",
        "lang",
        "source",
        sample_hash(F.col("doc_id")).alias("bucket"),
    ).orderBy("doc_id")


SQL_STRATIFIED_SAMPLE = f"""
WITH h AS (
  SELECT doc_id, lang, source,
         ('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % 1000 AS bucket
  FROM documents
)
SELECT doc_id, lang, source, bucket
FROM h
WHERE bucket < CASE WHEN lang = 'en' THEN {_RATES['en']}
               ELSE {_DEFAULT_RATE} END
ORDER BY doc_id
"""


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing into 2048-token context
    windows: per-doc stream offsets via a two-phase distributed prefix
    sum (per-block windows + broadcast block offsets — no
    single-partition corpus window), then per-window occupancy stats.
    All integer arithmetic — the gate hash is exact by construction."""
    # fan_out: tokenization of every doc's full text runs in the scan
    # stage — spread it before the (cheap) downstream prefix scan
    docs = fan_out(spark.read.parquet(_t(sf_dir, "documents")))
    toks = docs.select(
        "doc_id", F.size(word_tokens()).alias("n_tok")
    )
    packed = pack_offsets(toks, "n_tok", budget=2048)
    return (
        packed.groupBy(F.col("bin_first").alias("bin_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("stream_tokens"),
            F.sum(
                F.when(F.col("bin_last") > F.col("bin_first"), 1).otherwise(0)
            ).alias("n_spanning"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("bin_id")
    )


SQL_SEQUENCE_PACKING = f"""
WITH toks AS (
  SELECT doc_id, len({SQL_WORD_TOKENS}) AS n_tok FROM documents
),
off AS (
  SELECT doc_id, n_tok,
         CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS start
  FROM toks
),
b AS (
  SELECT doc_id, n_tok,
         start // 2048 AS bin_first,
         (start + GREATEST(n_tok, 1) - 1) // 2048 AS bin_last
  FROM off
)
SELECT bin_first AS bin_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS stream_tokens,
       CAST(SUM(CASE WHEN bin_last > bin_first THEN 1 ELSE 0 END)
            AS BIGINT) AS n_spanning,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM b
GROUP BY bin_first
ORDER BY bin_id
"""


def q_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality filters (duplicate-word
    fraction, top-bigram coverage, longest same-word run) — entirely
    scan-local array expressions, zero shuffle; the oracle computes
    max_word_run with an independent gaps-and-islands formulation."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return repetition_scores(docs).orderBy("doc_id")


def q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity quality filter: broadcast top-1000 vocab,
    add-1 smoothed mean negative log-prob per doc (CCNet/KenLM-style
    reduced to its relational core)."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return lm_quality_score(docs)


def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window RAG chunking: 200-char windows, 40-char overlap,
    scan-local (no shuffle before the final sort)."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    return chunk_text(docs).orderBy("doc_id", "chunk_idx")


SQL_TEXT_CHUNKS = """
WITH d AS (
  SELECT doc_id, text,
         GREATEST(CAST(CEIL((LENGTH(text) - 40) / 160.0) AS BIGINT), 1)
           AS nc
  FROM documents
),
c AS (
  SELECT doc_id, CAST(k.k AS INT) AS chunk_idx,
         CAST(k.k * 160 AS BIGINT) AS start,
         substring(text, CAST(k.k * 160 + 1 AS INT), 200) AS chunk
  FROM d, LATERAL (SELECT UNNEST(range(nc)) AS k) k
)
SELECT doc_id, chunk_idx, start, chunk,
       CAST(LENGTH(chunk) AS INT) AS chunk_len
FROM c ORDER BY doc_id, chunk_idx
"""


#: Target mixture for the gate's domain-weighting query: English 40%,
#: every other language 15%.
_MIX_WEIGHTS = {"en": 40, "de": 15, "es": 15, "fr": 15, "zh": 15}


def q_mixture_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture scheduling over the documents table: per-lang
    keep rates toward a 40/15/15/15/15 target (no upsampling), plus
    the deterministically kept doc/token counts those rates produce."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return mixture_schedule(docs, _MIX_WEIGHTS).orderBy("stratum")


_SQL_MIX_W = (
    "CASE lang WHEN 'en' THEN 40 WHEN 'de' THEN 15 WHEN 'es' THEN 15 "
    "WHEN 'fr' THEN 15 WHEN 'zh' THEN 15 ELSE 0 END"
)


SQL_MIXTURE_SCHEDULE = f"""
WITH sizes AS (
  SELECT lang, CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS tokens,
         {_SQL_MIX_W} AS w
  FROM documents GROUP BY lang
),
ref AS (
  SELECT tokens AS ref_tokens, w AS ref_w
  FROM sizes WHERE w > 0
  ORDER BY (tokens * 1000000) // w, lang LIMIT 1
),
rates AS (
  SELECT lang, w, tokens,
         CASE WHEN w = 0 THEN 0
              ELSE LEAST(1000,
                (1000 * ref_tokens * w) // (ref_w * tokens)) END
           AS rate_permille
  FROM sizes, ref
),
kept AS (
  SELECT d.lang, COUNT(*) AS n_kept,
         CAST(SUM(CAST(d.n_chars AS BIGINT)) AS BIGINT) AS kept_tokens
  FROM documents d JOIN rates r ON d.lang = r.lang
  WHERE ('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15))
          ::BIGINT % 1000 < r.rate_permille
  GROUP BY d.lang
)
SELECT r.lang AS stratum,
       r.w AS weight,
       r.tokens,
       r.rate_permille,
       COALESCE(k.n_kept, 0) AS n_kept,
       COALESCE(k.kept_tokens, 0) AS kept_tokens
FROM rates r LEFT JOIN kept k ON r.lang = k.lang
ORDER BY stratum
"""


def q_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter ENSEMBLE — the composed keep/drop verdict a real
    pipeline ships: Gopher repetition flags ⋈ unigram-LM perplexity ⋈
    length/OOV heuristics, one boolean per doc. Thresholds are
    literals; the OOV test is integer arithmetic (oov·5 ≤ n_tokens)
    and the avg_nll test compares the decimal-summed rounded value, so
    the verdict is engine-independent. Both signal pipelines are
    scan-local; the ensemble adds one join on doc_id."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rep = repetition_scores(docs).select(
        "doc_id", "repetitive", "max_word_run"
    )
    lm = lm_quality_score(docs).select(
        "doc_id", "n_tokens", "oov_count", "avg_nll"
    )
    j = rep.join(lm, on="doc_id")
    keep = (
        (~F.col("repetitive"))
        & (F.col("avg_nll") <= 1.478)
        & (F.col("n_tokens") >= 20)
        & (F.col("oov_count") * 5 <= F.col("n_tokens"))
    )
    return j.select(
        "doc_id", "repetitive", "max_word_run", "n_tokens",
        "oov_count", "avg_nll", keep.alias("keep"),
    ).orderBy("doc_id")


def _sql_quality_ensemble() -> str:
    return f"""
SELECT r.doc_id, r.repetitive, r.max_word_run, q.n_tokens,
       q.oov_count, q.avg_nll,
       ((NOT r.repetitive) AND q.avg_nll <= 1.478
        AND q.n_tokens >= 20
        AND q.oov_count * 5 <= q.n_tokens) AS keep
FROM ({SQL_REPETITION_SCORES}) r
JOIN ({SQL_LM_QUALITY}) q ON r.doc_id = q.doc_id
ORDER BY r.doc_id
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "vocab_topk": (q_vocab_topk, SQL_VOCAB_TOPK),
    "ngram_contamination": (q_ngram_contamination, SQL_NGRAM_CONTAMINATION),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "sequence_packing": (q_sequence_packing, SQL_SEQUENCE_PACKING),
    "repetition_scores": (q_repetition_scores, SQL_REPETITION_SCORES),
    "lm_quality": (q_lm_quality, SQL_LM_QUALITY),
    "text_chunks": (q_text_chunks, SQL_TEXT_CHUNKS),
    "mixture_schedule": (q_mixture_schedule, SQL_MIXTURE_SCHEDULE),
    "quality_ensemble": (q_quality_ensemble, _sql_quality_ensemble),
    "weighted_sample": (q_weighted_sample, SQL_WEIGHTED_SAMPLE),
    "stratified_weighted_sample": (
        q_stratified_weighted_sample,
        SQL_STRATIFIED_WEIGHTED_SAMPLE,
    ),
    "sentence_stats": (q_sentence_stats, SQL_SENTENCE_STATS),
    "domain_divergence": (q_domain_divergence, SQL_DOMAIN_DIVERGENCE),
    "bigram_lm": (q_bigram_lm, SQL_BIGRAM_LM),
    "kfold_split": (q_kfold_split, SQL_KFOLD_SPLIT),
    "length_lognormal": (q_length_lognormal, SQL_LENGTH_LOGNORMAL),
    "balanced_sample": (q_balanced_sample, SQL_BALANCED_SAMPLE),
    "text_hapax": (q_text_hapax, SQL_TEXT_HAPAX),
    "corpus_build_funnel": (q_corpus_build_funnel, SQL_CORPUS_BUILD_FUNNEL),
}
