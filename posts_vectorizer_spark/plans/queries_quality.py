"""Training-data quality & curation wave (SURVEY.md §2.12 extensions,
third wave): Gopher-style repetition signals, deterministic stratified
sampling, per-document TF-IDF keyword extraction, and int8 embedding
quantization.

All [Q]: every query has an exact DuckDB twin built from the portable
expression helpers (``functions/text.py``), so the differential oracle
checks real values, not just shapes.

Scale notes per operator: the repetition profile is one map-side-combinable
shuffle keyed by (doc_id, word) plus per-row array math — no driver state,
no window over the whole corpus. Stratified sampling is a pure filter
(portable hash mod), pushable below any downstream agg. Keyword extraction
reuses the shared token_base pass and broadcasts the vocab-sized IDF table.
Quantization is per-row HOF arithmetic — embarrassingly parallel, stays in
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions import text as T
from ..operators import tfidf
from ..sources import load_table
from .queries_text import word_counts
from .registry import register


# ---------------------------------------------------------------------------
# Gopher-style repetition signals (quality filtering)
# ---------------------------------------------------------------------------

@register(
    "text_repetition_signals",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {T.tokens_sql('text')} AS toks FROM documents
),
counts AS (
  SELECT doc_id, word, count(*) AS cnt
  FROM (SELECT doc_id, unnest(toks) AS word FROM t)
  GROUP BY doc_id, word
),
pd AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_tokens,
         count(*) AS n_distinct,
         max(cnt) AS top_cnt
  FROM counts GROUP BY doc_id
),
bg AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 2 THEN
           list_transform(generate_series(1, len(toks) - 1),
                          bg_i -> toks[bg_i] || ' ' || toks[bg_i + 1])
         END AS bigrams
  FROM t
)
SELECT pd.doc_id,
       pd.n_tokens,
       CAST(pd.n_distinct AS DOUBLE) / pd.n_tokens AS distinct_ratio,
       CAST(pd.top_cnt AS DOUBLE) / pd.n_tokens AS top_token_frac,
       CASE WHEN bg.bigrams IS NOT NULL THEN
         1 - CAST(len(list_distinct(bg.bigrams)) AS DOUBLE) / len(bg.bigrams)
       END AS dup_bigram_frac
FROM pd JOIN bg USING (doc_id)
""",
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition profile — the Gopher/MassiveText repetition
    filters (distinct-token ratio, most-frequent-token fraction,
    duplicate-bigram fraction) used to drop boilerplate / spam before
    LLM training.

    Scale shape: token stats come from one explode + two map-side-combinable
    groupBys keyed by doc (the same shuffle shape as term_frequency); the
    bigram dedup ratio is per-row array math (array_distinct is linear in
    doc length), so no extra shuffle. At 100 TB this is scan-bound.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", T.tokens("text").alias("toks"))
    per_doc = (
        t.select("doc_id", F.explode("toks").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.max("cnt").alias("top_cnt"),
        )
    )
    # toks[i] is 0-based in Spark SQL (vs DuckDB's 1-based [i]); both twins
    # pair element i with i+1 over the same 1..n-1 index range.
    bigrams = F.expr(
        "transform(sequence(1, size(toks) - 1),"
        " bg_i -> concat(toks[bg_i - 1], ' ', toks[bg_i]))"
    )
    bg = t.select(
        "doc_id",
        # sequence(1, 0) yields [1, 0] (descending), not empty — guard short
        # docs explicitly, mirroring the oracle's CASE.
        F.when(F.size("toks") >= 2, bigrams).alias("bigrams"),
    )
    return per_doc.join(bg, "doc_id").select(
        "doc_id",
        "n_tokens",
        (F.col("n_distinct").cast("double") / F.col("n_tokens")).alias(
            "distinct_ratio"
        ),
        (F.col("top_cnt").cast("double") / F.col("n_tokens")).alias(
            "top_token_frac"
        ),
        F.when(
            F.col("bigrams").isNotNull(),
            F.lit(1)
            - F.size(F.array_distinct("bigrams")).cast("double")
            / F.size("bigrams"),
        ).alias("dup_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# deterministic stratified sampling
# ---------------------------------------------------------------------------

_STRAT_KEEP_SQL = (
    "(event_type = 'purchase' OR "
    f"{T.char_hash_sql('CAST(event_id AS VARCHAR)')} % 10 = 0)"
)


@register(
    "rel_stratified_sample",
    oracle=f"""
SELECT event_type,
       count(*) AS kept,
       CAST(round(sum(value), 6) AS DOUBLE) AS kept_value
FROM events
WHERE {_STRAT_KEEP_SQL}
GROUP BY event_type
""",
)
def rel_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with per-stratum rates: keep every ``purchase``
    (rare, high-signal) and a deterministic 1-in-10 of everything else,
    selected by the portable hash of the row key — reproducible across
    engines and runs, unlike rand()-based sampling.

    Scale shape: the keep-predicate is a pure row-local filter (no shuffle,
    no state) that Catalyst pushes below the aggregate; at 100 TB the
    sample costs one scan. This is the curation pattern for class-balanced
    training subsets (upsample rare strata, downsample common ones).
    """
    ev = load_table(spark, sf_dir, "events")
    keep = (F.col("event_type") == "purchase") | (
        T.char_hash(F.col("event_id").cast("string")) % 10 == 0
    )
    return (
        ev.where(keep)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("kept"),
            F.round(F.sum("value"), 6).cast("double").alias("kept_value"),
        )
    )


# ---------------------------------------------------------------------------
# per-document TF-IDF keyword extraction
# ---------------------------------------------------------------------------

@register(
    "tfidf_top_keywords",
    oracle=f"""
WITH tf AS ({tfidf.TERM_FREQUENCY_SQL}),
idf AS ({tfidf.idf_table_sql('en')}),
weighted AS (
  SELECT tf.doc_id, tf.word, tf.tf * idf.idf AS weight
  FROM tf JOIN idf USING (word)
),
ranked AS (
  SELECT doc_id, word,
         CAST(round(weight, 6) AS DOUBLE) AS weight,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY weight DESC, word) AS rk
  FROM weighted
)
SELECT doc_id, word, weight, CAST(rk AS INTEGER) AS rk
FROM ranked WHERE rk <= 3
""",
)
def tfidf_top_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document — the keyword-extraction /
    topic-tagging step a curation pipeline runs after the IDF model exists
    (same tf and idf definitions as the flagship, quirks included).

    Scale shape: reuses the shared token_base pass (tokenize once), joins
    the vocab-sized IDF table broadcast, and ranks inside each doc_id
    partition — the window never sees more rows per partition than one
    document's vocabulary, so there's no global sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = tfidf.persist_tracked(tfidf.token_base(docs))
    tf = tfidf.term_frequency(docs, base)
    idf = tfidf.idf_table(docs, "en", base)
    weighted = tf.join(
        F.broadcast(idf.select("word", "idf")), "word"
    ).select("doc_id", "word", (F.col("tf") * F.col("idf")).alias("weight"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("weight").desc(), F.col("word")
    )
    return (
        weighted.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "doc_id",
            "word",
            F.round("weight", 6).cast("double").alias("weight"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# int8 embedding quantization
# ---------------------------------------------------------------------------

@register(
    "sim_embedding_quantize",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, qv -> CAST(qv AS DOUBLE)) AS v
  FROM embeddings
),
scaled AS (
  SELECT vec_id, label, v,
         list_reduce(list_prepend(0.0, v),
                     (qa, qx) -> greatest(qa, abs(qx))) / 127 AS scale
  FROM e
),
q AS (
  SELECT vec_id, label, scale,
         list_transform(v, qx -> floor(qx / scale + 0.5)) AS qv,
         v
  FROM scaled WHERE scale > 0
)
SELECT vec_id, label,
       CAST(round(scale, 9) AS DOUBLE) AS scale,
       CAST(round(
         list_reduce(list_prepend(0.0,
           list_transform(generate_series(1, len(v)),
                          qi -> abs(v[qi] - qv[qi] * scale))),
           (qa, qx) -> qa + qx) / len(v), 9) AS DOUBLE) AS mae,
       CAST(len(list_filter(qv, qx -> abs(qx) = 127)) AS BIGINT) AS n_saturated
FROM q
""",
)
def sim_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column — the
    4×-compression step ANN indexes and training-data stores apply before
    shipping vectors. Per vector: scale = max|x| / 127, codes =
    round(x / scale), reported with mean-absolute reconstruction error and
    saturation count.

    Portability: quantization rounding is floor(x + 0.5) spelled explicitly
    in BOTH twins (engine round() conventions differ on .5 ties); all math
    runs on doubles after one explicit float->double cast so the fold order
    and operand types are bit-identical. Scale shape: pure per-row HOF
    arithmetic — no shuffle, whole-stage codegen, scan-bound at 100 TB.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.expr("transform(embedding, qv -> CAST(qv AS DOUBLE))")
    e = emb.select("vec_id", "label", v.alias("v"))
    scale = F.aggregate(
        "v", F.lit(0.0), lambda qa, qx: F.greatest(qa, F.abs(qx))
    ) / F.lit(127)
    scaled = e.select("vec_id", "label", "v", scale.alias("scale")).where(
        F.col("scale") > 0
    )
    q = scaled.withColumn(
        "qv", F.expr("transform(v, qx -> floor(qx / scale + 0.5))")
    )
    mae = (
        F.aggregate(
            F.expr(
                "transform(sequence(1, size(v)),"
                " qi -> abs(v[qi - 1] - qv[qi - 1] * scale))"
            ),
            F.lit(0.0),
            lambda qa, qx: qa + qx,
        )
        / F.size("v")
    )
    return q.select(
        "vec_id",
        "label",
        F.round("scale", 9).cast("double").alias("scale"),
        F.round(mae, 9).cast("double").alias("mae"),
        F.size(F.expr("filter(qv, qx -> abs(qx) = 127)"))
        .cast("bigint")
        .alias("n_saturated"),
    )


# ---------------------------------------------------------------------------
# winsorized aggregation (outlier clipping)
# ---------------------------------------------------------------------------

@register(
    "rel_winsorized_agg",
    oracle="""
WITH bounds AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.05) AS p05,
         quantile_cont(l_extendedprice, 0.95) AS p95
  FROM lineitem GROUP BY l_returnflag
),
clipped AS (
  SELECT li.l_returnflag,
         greatest(b.p05, least(b.p95, li.l_extendedprice)) AS w
  FROM lineitem li JOIN bounds b USING (l_returnflag)
)
SELECT l_returnflag,
       count(*) AS n,
       CAST(CAST(sum(CAST(round(w, 6) AS DECIMAL(18,6))) AS DOUBLE)
            / count(*) AS DOUBLE) AS win_avg_price
FROM clipped GROUP BY l_returnflag
""",
)
def rel_winsorized_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per group — clip values to the group's [p05, p95]
    before averaging, the robust-statistics step that keeps a handful of
    corrupt outliers from skewing quality metrics.

    Scale shape: two passes — pass 1 reduces to one (group, p05, p95) row
    per group (group-count-sized, broadcast back), pass 2 is a map-side
    clip + hash aggregate. The exact percentile pass sorts per group; at
    100 TB swap approx_percentile into pass 1 (mergeable sketch, same
    plan shape). The average sums round-6 decimals so the result is
    order-insensitive (float sums are not associative across partitions).
    """
    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.05)").alias("p05"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
    )
    clipped = li.join(F.broadcast(bounds), "l_returnflag").select(
        "l_returnflag",
        F.greatest("p05", F.least("p95", F.col("l_extendedprice"))).alias("w"),
    )
    return clipped.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        (
            F.sum(F.round("w", 6).cast("decimal(18,6)")).cast("double")
            / F.count("*")
        )
        .cast("double")
        .alias("win_avg_price"),
    )


# ---------------------------------------------------------------------------
# readability (Flesch reading ease, portable estimate)
# ---------------------------------------------------------------------------


@register(
    "text_readability",
    oracle=f"""
WITH counts AS (
  SELECT doc_id,
         CAST({T.token_count_sql('text')} AS BIGINT) AS n_words,
         CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
              AS BIGINT) AS n_sentences,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
              AS BIGINT) AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CASE WHEN n_words = 0 THEN NULL
            ELSE 206.835
                 - (1.015 * (CAST(n_words AS DOUBLE)
                             / CAST(n_sentences AS DOUBLE)))
                 - (84.6 * (CAST(n_syllables AS DOUBLE)
                            / CAST(n_words AS DOUBLE)))
       END AS flesch
FROM counts
""",
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per document — the classic readability gate a
    quality pipeline thresholds on (very low scores flag boilerplate /
    machine-generated runs; very high flag fragment spam). Syllables are
    the standard regex estimate (vowel-group runs), sentences are
    terminal-punctuation runs clamped to >= 1.

    Determinism contract: the score is ONE fixed-shape expression of
    exact integer counts using only IEEE-exact ops (+ - * /), so both
    engines produce bit-identical doubles and the hash compares with NO
    rounding grid. Zero-word docs yield NULL (ANSI-safe: the division
    never executes).

    Scale shape: pure per-row regex counting — no shuffle, no state,
    stays in whole-stage codegen."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.select(
        "doc_id",
        T.token_count("text").cast("bigint").alias("n_words"),
        F.greatest(
            F.lit(1).cast("bigint"),
            F.regexp_count("text", F.lit(r"[.!?]+")).cast("bigint"),
        ).alias("n_sentences"),
        F.regexp_count(F.lower("text"), F.lit(r"[aeiouy]+"))
        .cast("bigint")
        .alias("n_syllables"),
    )
    flesch = (
        F.lit(206.835)
        - (
            F.lit(1.015)
            * (F.col("n_words").cast("double") / F.col("n_sentences").cast("double"))
        )
        - (
            F.lit(84.6)
            * (F.col("n_syllables").cast("double") / F.col("n_words").cast("double"))
        )
    )
    return counts.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.when(F.col("n_words") == 0, F.lit(None).cast("double"))
        .otherwise(flesch)
        .alias("flesch"),
    )


# ---------------------------------------------------------------------------
# per-doc character entropy (gibberish / repetition gate; staged r7 -> r8)
# ---------------------------------------------------------------------------

_ENT_CHARS = "abcdefghijklmnopqrstuvwxyz "   # 27 named classes + 'other'
_ENT_LOW = 3.0   # bits; natural English text sits ~4.0-4.3 incl. space


def _entropy_sql() -> str:
    """DuckDB twin: per-class counts via replace-shrinkage, entropy as an
    exact DECIMAL sum of 6dp-rounded -p*log2(p) terms."""
    s = "lower(text)"
    counts = [
        f"length({s}) - length(replace({s}, '{c}', ''))" for c in _ENT_CHARS
    ]
    named = ",\n         ".join(
        f"CAST({expr} AS BIGINT) AS c{i}" for i, expr in enumerate(counts)
    )
    sum_named = " + ".join(f"c{i}" for i in range(len(counts)))
    terms = " + ".join(
        f"CASE WHEN c{i} > 0 THEN CAST(round(-(CAST(c{i} AS DOUBLE) / n)"
        f" * log2(CAST(c{i} AS DOUBLE) / n), 6) AS DECIMAL(18,6))"
        f" ELSE CAST(0 AS DECIMAL(18,6)) END"
        for i in range(len(counts) + 1)  # +1: the 'other' class
    )
    return f"""
WITH counted AS (
  SELECT doc_id,
         {named},
         CAST(length({s}) AS BIGINT) AS n
  FROM documents
),
classed AS (
  SELECT doc_id, n, * EXCLUDE (doc_id, n),
         n - ({sum_named}) AS c{len(counts)}
  FROM counted
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       n AS n_chars_lc,
       CAST(CASE WHEN n > 0 THEN ({terms}) END AS DOUBLE) AS entropy,
       CASE WHEN n > 0
            THEN CAST(({terms}) AS DOUBLE) < {_ENT_LOW} END AS low_entropy
FROM classed
"""


@register("text_char_entropy", oracle=_entropy_sql())
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-class Shannon entropy — the cheapest
    gibberish/repetition gate a curation pipeline runs (keyboard-mash,
    base64 blobs, and 'aaaa...' spam all sit far below natural text's
    ~4.0-4.3 bits over letters+space). Classes: 26 letters, space, and
    one 'other' bucket; counts come from replace-shrinkage
    (len(s) - len(replace(s, c, ''))), entropy = -sum p*log2 p with each
    term rounded to DECIMAL(18,6) before the (in-row, fixed-order) sum —
    the chi2/PSI exactness pattern, so the only cross-engine FP surface
    is log2 over identical doubles, absorbed by the rounding.

    Scale shape: pure per-row expression work, zero shuffles, stays
    inside whole-stage codegen end-to-end — scan-bound at any corpus
    size, the ideal first gate in a quality cascade (cheapest filter
    first, feeds `text_quality_profile`'s token-level scoring)."""
    # HOF-array formulation, not a 28-column expression tree: the r7
    # scale-trend measurement caught the column form spending ~14 s in
    # whole-stage-codegen COMPILATION (Janino on the giant generated
    # method) before the first row moved. transform/aggregate keep the
    # generated code O(1) in class count; iteration order is the literal
    # array order (letters, space, then other), identical to the SQL
    # twin's fixed term order, and the decimal accumulator keeps the sum
    # exact.
    docs = load_table(spark, sf_dir, "documents")
    s = F.lower(F.col("text"))
    n = F.length(s).cast("bigint")
    chars = F.array(*[F.lit(c) for c in _ENT_CHARS])
    counts = F.transform(
        chars, lambda c: (F.length(s) - F.length(F.replace(s, c))).cast("bigint")
    )
    classed = docs.select(
        "doc_id", n.alias("n"), counts.alias("counts")
    ).select(
        "doc_id",
        "n",
        F.concat(
            "counts",
            F.array(
                F.col("n")
                - F.aggregate(
                    "counts", F.lit(0).cast("bigint"), lambda a, x: a + x
                )
            ),
        ).alias("counts"),
    )
    zero = F.lit(0).cast("decimal(18,6)")
    ent = F.aggregate(
        "counts",
        zero,
        lambda acc, c: (
            acc
            + F.when(
                c > 0,
                F.round(
                    -(c.cast("double") / F.col("n"))
                    * F.log2(c.cast("double") / F.col("n")),
                    6,
                ).cast("decimal(18,6)"),
            ).otherwise(zero)
        ).cast("decimal(18,6)"),
    )
    return classed.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n").alias("n_chars_lc"),
        F.when(F.col("n") > 0, ent.cast("double")).alias("entropy"),
        F.when(F.col("n") > 0, ent.cast("double") < _ENT_LOW).alias(
            "low_entropy"
        ),
    )


# ---------------------------------------------------------------------------
# code-mixing detector: per-token language votes -> mixture entropy
# (built r8, staged r9)
# ---------------------------------------------------------------------------

_MIX_H_ALERT = 0.5  # nats; above this a doc is flagged language-mixed

_CODE_MIXING_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({T.tokens_sql('text')}) AS word FROM documents
),
word_lang AS (
  SELECT t.word, d.lang, count(*) AS c
  FROM tok t JOIN documents d ON d.doc_id = t.doc_id
  GROUP BY t.word, d.lang
),
votes AS (
  SELECT word, lang AS vote_lang FROM (
    SELECT word, lang,
           row_number() OVER (PARTITION BY word
                              ORDER BY c DESC, lang) AS rk
    FROM word_lang
  ) WHERE rk = 1
),
doc_votes AS (
  SELECT t.doc_id, v.vote_lang, CAST(count(*) AS BIGINT) AS n_l
  FROM tok t JOIN votes v ON v.word = t.word
  GROUP BY t.doc_id, v.vote_lang
),
sized AS (
  SELECT doc_id, vote_lang, n_l,
         sum(n_l) OVER (PARTITION BY doc_id) AS n,
         CAST(round((CAST(n_l AS DOUBLE) / sum(n_l) OVER (PARTITION BY doc_id))
                    * ln(CAST(n_l AS DOUBLE)
                         / sum(n_l) OVER (PARTITION BY doc_id)), 6)
              AS DECIMAL(18,6)) AS hterm,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY n_l DESC, vote_lang) AS rk
  FROM doc_votes
)
SELECT doc_id,
       CAST(max(n) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_langs,
       max(CASE WHEN rk = 1 THEN vote_lang END) AS top_lang,
       CAST(round(CAST(max(CASE WHEN rk = 1 THEN n_l END) AS DOUBLE)
                  / max(n), 6) AS DOUBLE) AS top_frac,
       CAST(-CAST(sum(hterm) AS DOUBLE) AS DOUBLE) AS mix_entropy,
       -CAST(sum(hterm) AS DOUBLE) > {_MIX_H_ALERT} AS mixed
FROM sized GROUP BY doc_id
"""


@register("text_code_mixing_entropy", oracle=_CODE_MIXING_SQL)
def text_code_mixing_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-mixing detector: every token votes for the language whose
    corpus slice uses it most (majority vote over the (word, lang)
    count table, deterministic lang tiebreak), and each document is
    scored by the Shannon entropy of its vote mixture — 0 for
    monolingual text, rising as a second language's tokens blend in
    (flagged above 0.5 nats). The curation gate for
    code-mixed documents, which single-label language ID (text_langid)
    by construction cannot see: it must pick ONE language even when the
    doc is half-and-half.

    Exactness: votes and vote counts are integers end-to-end (the
    argmax ranks integer counts with a string tiebreak); each entropy
    term p*ln(p) is computed from an integer ratio and rounded to 6dp
    DECIMAL before the exact per-doc sum; top_frac is one double
    division of integers.

    Scale shape: the (word, lang) vote table is vocab-sized — reduced
    map-side from the token stream, then broadcast back onto it (the
    idf_table shape); per-doc vote counts are one doc-keyed aggregate
    and the entropy window runs over <= |langs| rows per doc. Tokens
    with no vote cannot exist (every token came from some doc's lang
    slice), so the join is inner with no mass loss."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(T.tokens("text")).alias("word"))
    word_lang = (
        tok.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("word", "lang")
        .agg(F.count("*").alias("c"))
    )
    w_vote = Window.partitionBy("word").orderBy(F.desc("c"), F.asc("lang"))
    votes = (
        word_lang.withColumn("rk", F.row_number().over(w_vote))
        .where(F.col("rk") == 1)
        .select("word", F.col("lang").alias("vote_lang"))
    )
    doc_votes = (
        tok.join(F.broadcast(votes), "word")
        .groupBy("doc_id", "vote_lang")
        .agg(F.count("*").cast("bigint").alias("n_l"))
    )
    w_doc = Window.partitionBy("doc_id")
    w_rk = Window.partitionBy("doc_id").orderBy(
        F.desc("n_l"), F.asc("vote_lang")
    )
    p = F.col("n_l").cast("double") / F.sum("n_l").over(w_doc)
    sized = doc_votes.select(
        "doc_id",
        "vote_lang",
        "n_l",
        F.sum("n_l").over(w_doc).alias("n"),
        F.round(p * F.log(p), 6).cast("decimal(18,6)").alias("hterm"),
        F.row_number().over(w_rk).alias("rk"),
    )
    return sized.groupBy("doc_id").agg(
        F.max("n").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_langs"),
        F.max(F.when(F.col("rk") == 1, F.col("vote_lang"))).alias("top_lang"),
        F.round(
            F.max(F.when(F.col("rk") == 1, F.col("n_l"))).cast("double")
            / F.max("n"),
            6,
        ).cast("double").alias("top_frac"),
        (-F.sum("hterm").cast("double")).cast("double").alias("mix_entropy"),
        (-F.sum("hterm").cast("double") > _MIX_H_ALERT).alias("mixed"),
    )


# ---------------------------------------------------------------------------
# DEFLATE compression-ratio quality signal (built r9, staged r10) — [R]
# ---------------------------------------------------------------------------

_CR_LEVEL = 6  # fixed zlib level: deterministic output for a given build


@register("text_compression_ratio")
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source compression-ratio profile (built r9, staged r10): each
    document's zlib/DEFLATE ratio (compressed bytes / raw utf-8 bytes) —
    the Gopher-style redundancy signal (near-duplicate boilerplate and
    template spam compress far below natural text; random noise sits
    near 1.0) — aggregated per source with round-6 DECIMAL exact sums
    and the unrounded-quotient mean.

    [R] rows-only BY DESIGN: a DEFLATE stream's length is not
    ANSI-SQL-expressible (the signal IS the compressor's dictionary
    behavior). Strong check: tests/test_quality.py recomputes every
    planted ratio with zlib directly and pins the repetition<natural<
    noise ordering. Compression runs inside mapInPandas with the fixed
    level {lvl} (deterministic for a given zlib build).

    Scale shape: scan-stage Arrow-batched compression (the payload
    never shuffles); the per-source combine is map-side over |sources|
    keys."""
    import zlib
    from collections.abc import Iterator

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = pdf["text"].str.encode("utf-8")
            n_raw = raw.map(len)
            n_c = raw.map(lambda b: len(zlib.compress(b, _CR_LEVEL)))
            yield pd.DataFrame(
                {
                    "source": pdf["source"],
                    "n_raw": n_raw.astype("int64"),
                    "n_compressed": n_c.astype("int64"),
                }
            )

    per_doc = docs.select("source", "text").mapInPandas(
        run, "source string, n_raw long, n_compressed long"
    )
    ratio = F.when(
        F.col("n_raw") > 0,
        F.col("n_compressed").cast("double") / F.col("n_raw"),
    )
    return (
        per_doc.select(
            "source", "n_raw", "n_compressed",
            F.round(ratio, 6).cast("decimal(18,6)").alias("r6"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_raw").cast("bigint").alias("raw_bytes"),
            F.sum("n_compressed").cast("bigint").alias("compressed_bytes"),
            (F.sum("r6").cast("double") / F.count("*")).alias("mean_ratio"),
            F.min("r6").cast("double").alias("min_ratio"),
            F.max("r6").cast("double").alias("max_ratio"),
        )
    )


text_compression_ratio.__doc__ = text_compression_ratio.__doc__.format(
    lvl=_CR_LEVEL
)


# ---------------------------------------------------------------------------
# ROUGE-1/2 lead-k summary eval (built r9, staged r10)
# ---------------------------------------------------------------------------

_ROUGE_LEAD_K = 30  # the classic lead-k extractive baseline


def _rouge_arm_sql(n: int, tag: str) -> str:
    """CTEs computing clipped-count ROUGE-n sums per doc for the lead-k
    candidate vs the full-document reference."""
    if n == 1:
        ref_grams = "toks"
        cand_grams = f"list_slice(toks, 1, {_ROUGE_LEAD_K})"
    else:
        ref_grams = (
            "list_transform(generate_series(1, len(toks) - 1),"
            " rg_i -> toks[rg_i] || ' ' || toks[rg_i + 1])"
        )
        cand_grams = (
            f"list_transform(generate_series(1,"
            f" least(len(toks), {_ROUGE_LEAD_K}) - 1),"
            " rg_i -> toks[rg_i] || ' ' || toks[rg_i + 1])"
        )
    return f"""{tag}_ref AS (
  SELECT doc_id, unnest({ref_grams}) AS g FROM tok
),
{tag}_cand AS (
  SELECT doc_id, unnest({cand_grams}) AS g FROM tok
),
{tag}_rc AS (
  SELECT doc_id, g, count(*) AS c FROM {tag}_ref GROUP BY doc_id, g
),
{tag}_cc AS (
  SELECT doc_id, g, count(*) AS c FROM {tag}_cand GROUP BY doc_id, g
),
{tag}_sums AS (
  SELECT r.doc_id,
         sum(least(r.c, coalesce(c.c, 0))) AS overlap,
         sum(r.c) AS n_ref
  FROM {tag}_rc r LEFT JOIN {tag}_cc c
    ON c.doc_id = r.doc_id AND c.g = r.g
  GROUP BY r.doc_id
),
{tag}_csum AS (
  SELECT doc_id, sum(c) AS n_cand FROM {tag}_cc GROUP BY doc_id
)"""


_ROUGE_LEAD_SQL = f"""
WITH tok AS (
  SELECT doc_id, {T.tokens_sql('text')} AS toks FROM documents
  WHERE len({T.tokens_sql('text')}) > 0
),
{_rouge_arm_sql(1, 'u')},
{_rouge_arm_sql(2, 'b')}
SELECT u_sums.doc_id,
       CAST(u_sums.overlap AS BIGINT) AS n1_overlap,
       CAST(u_sums.n_ref AS BIGINT) AS n1_ref,
       CAST(u_csum.n_cand AS BIGINT) AS n1_cand,
       CAST(u_sums.overlap AS DOUBLE) / u_sums.n_ref AS rouge1_recall,
       CAST(u_sums.overlap AS DOUBLE) / u_csum.n_cand AS rouge1_precision,
       CAST(coalesce(b_sums.overlap, 0) AS BIGINT) AS n2_overlap,
       CAST(coalesce(b_sums.n_ref, 0) AS BIGINT) AS n2_ref,
       CAST(coalesce(b_csum.n_cand, 0) AS BIGINT) AS n2_cand,
       CASE WHEN b_sums.n_ref > 0 THEN
         CAST(b_sums.overlap AS DOUBLE) / b_sums.n_ref END AS rouge2_recall,
       CASE WHEN b_csum.n_cand > 0 THEN
         CAST(b_sums.overlap AS DOUBLE) / b_csum.n_cand
       END AS rouge2_precision
FROM u_sums
JOIN u_csum ON u_csum.doc_id = u_sums.doc_id
LEFT JOIN b_sums ON b_sums.doc_id = u_sums.doc_id
LEFT JOIN b_csum ON b_csum.doc_id = u_sums.doc_id
"""


@register("text_rouge_lead_eval", oracle=_ROUGE_LEAD_SQL)
def text_rouge_lead_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1/ROUGE-2 of the lead-{k} extractive baseline against the
    full document (built r9, staged r10) — the standard summarization
    eval in its clipped-count form (overlap = sum over grams of
    min(candidate count, reference count), Lin 2004), computed
    per document for unigrams AND bigrams. Lead-k is the baseline every
    real summarizer must beat, and this query is the eval harness shape:
    swap the candidate CTE for a model's output table and the metric
    pipeline is unchanged.

    Exactness: overlaps and gram totals are exact integers;
    recall/precision are unrounded quotients of identical operands
    (the boundary-free convention); sub-2-token docs carry NULL bigram
    metrics via explicit guards in both engines.

    Scale shape: gram explode → per-(doc, gram) map-side counts → one
    doc+gram join (candidate grams are a subset slice of the same
    tokenization, co-keyed by doc_id) → per-doc combine. Everything
    keys on doc_id; nothing is corpus-quadratic."""
    toks = T.tokens("text")
    tok = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("toks"))
        .where(F.size("toks") > 0)
    )

    def grams(n: int, lead: bool):
        src = (
            F.slice(F.col("toks"), 1, _ROUGE_LEAD_K)
            if lead
            else F.col("toks")
        )
        if n == 1:
            return src
        # sequence(1, 0) DESCENDS in Spark (the char_hash footgun) — a
        # 1-token doc must yield an EMPTY bigram list like DuckDB's
        # empty generate_series, not two bogus grams
        return F.when(
            F.size(src) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(src) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(src, i), F.element_at(src, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    def arm(n: int):
        rc = (
            tok.select("doc_id", F.explode(grams(n, False)).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count("*").alias("rc"))
        )
        cc = (
            tok.select("doc_id", F.explode(grams(n, True)).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count("*").alias("cc"))
        )
        sums = (
            rc.join(cc, ["doc_id", "g"], "left")
            .groupBy("doc_id")
            .agg(
                F.sum(
                    F.least(F.col("rc"), F.coalesce(F.col("cc"), F.lit(0)))
                ).alias("overlap"),
                F.sum("rc").alias("n_ref"),
            )
        )
        csum = cc.groupBy("doc_id").agg(F.sum("cc").alias("n_cand"))
        return sums, csum

    u_sums, u_csum = arm(1)
    b_sums, b_csum = arm(2)
    b = b_sums.join(b_csum, "doc_id").select(
        F.col("doc_id").alias("b_doc"),
        F.col("overlap").alias("b_overlap"),
        F.col("n_ref").alias("b_ref"),
        F.col("n_cand").alias("b_cand"),
    )
    return (
        u_sums.join(u_csum, "doc_id")
        .join(b, u_sums["doc_id"] == b["b_doc"], "left")
        .select(
            "doc_id",
            F.col("overlap").cast("bigint").alias("n1_overlap"),
            F.col("n_ref").cast("bigint").alias("n1_ref"),
            F.col("n_cand").cast("bigint").alias("n1_cand"),
            (F.col("overlap").cast("double") / F.col("n_ref"))
            .alias("rouge1_recall"),
            (F.col("overlap").cast("double") / F.col("n_cand"))
            .alias("rouge1_precision"),
            F.coalesce("b_overlap", F.lit(0)).cast("bigint")
            .alias("n2_overlap"),
            F.coalesce("b_ref", F.lit(0)).cast("bigint").alias("n2_ref"),
            F.coalesce("b_cand", F.lit(0)).cast("bigint").alias("n2_cand"),
            F.when(
                F.col("b_ref") > 0,
                F.col("b_overlap").cast("double") / F.col("b_ref"),
            ).alias("rouge2_recall"),
            F.when(
                F.col("b_cand") > 0,
                F.col("b_overlap").cast("double") / F.col("b_cand"),
            ).alias("rouge2_precision"),
        )
    )


# ---------------------------------------------------------------------------
# token-budget concentration (value-grid Gini — no global sort)
# ---------------------------------------------------------------------------

_TOKEN_GINI_SQL = f"""
WITH dc AS (
  SELECT doc_id, {T.token_count_sql('text')} AS c FROM documents
),
grid AS (
  SELECT c, count(*) AS f FROM dc GROUP BY c
),
cum AS (
  SELECT c, f,
         COALESCE(sum(f) OVER (ORDER BY c
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
  FROM grid
),
s AS (
  SELECT CAST(sum(f) AS BIGINT) AS n,
         CAST(sum(c * f) AS BIGINT) AS total,
         CAST(sum(CAST(c AS DECIMAL(38,0))
                  * (f * nb + (f * (f + 1)) // 2)) AS DECIMAL(38,0)) AS t
  FROM cum
)
SELECT n AS n_docs, total AS total_tokens,
       CAST(CAST(total AS DOUBLE) / n AS DOUBLE) AS mean_tokens,
       CAST(2 * CAST(t AS DOUBLE) / (CAST(n AS DOUBLE) * total)
            - (CAST(n AS DOUBLE) + 1) / n AS DOUBLE) AS gini
FROM s WHERE n > 0 AND total > 0
"""


@register("text_token_gini", oracle=_TOKEN_GINI_SQL)
def text_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget concentration across documents (built r10, staged
    r11) — the curation-side inequality diagnostic: a corpus whose
    token mass concentrates in a few huge documents (gini -> 1) will
    train on their style no matter how many docs the manifest counts,
    and packing/waterfill decisions (curation_token_waterfill) need to
    know it. Statistically the Lorenz/Gini machinery of
    `rel_skew_gini` (its rank-window twin, over join-key frequencies)
    — but computed WITHOUT any global per-row rank sort via the
    value-grid device (RFM / Mann-Whitney lineage): docs with equal
    token counts are rank-interchangeable, so docs at count c occupying
    ranks [nb+1, nb+f] contribute c*(f*nb + f(f+1)/2) in EXACT
    integers on a 128-bit DECIMAL lattice (c*f*nb can pass 2^63 at
    corpus scale), and Gini = 2T/(n*S1) - (n+1)/n is one identical
    double expression of exact sums.

    Scale shape: per-doc token count in the scan stage, grid aggregate
    over |distinct lengths| (bounded — thousands at most), cumulative
    window on the tiny grid only, 1-row output. The rank-window twin
    sorts the full per-key table; THIS form is the one to run on a
    billion-doc corpus."""
    docs = load_table(spark, sf_dir, "documents")
    dc = docs.select(T.token_count("text").alias("c"))
    grid = dc.groupBy("c").agg(F.count("*").alias("f")).coalesce(1)
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    cum = grid.select(
        "c", "f", F.coalesce(F.sum("f").over(w), F.lit(0)).alias("nb")
    )
    f, c, nb = F.col("f"), F.col("c"), F.col("nb")
    s = cum.agg(
        F.sum(f).cast("bigint").alias("n"),
        F.sum(c * f).cast("bigint").alias("total"),
        F.sum(
            c.cast("decimal(38,0)")
            * (f * nb + F.expr("(f * (f + 1)) div 2"))
        )
        .cast("decimal(38,0)")
        .alias("t"),
    )
    n, total, t = F.col("n"), F.col("total"), F.col("t")
    return s.where((n > 0) & (total > 0)).select(
        n.alias("n_docs"),
        total.alias("total_tokens"),
        (total.cast("double") / n).cast("double").alias("mean_tokens"),
        (
            F.lit(2) * t.cast("double") / (n.cast("double") * total)
            - (n.cast("double") + 1) / n
        )
        .cast("double")
        .alias("gini"),
    )


# ---------------------------------------------------------------------------
# vocabulary concentration (value-grid Gini over TYPE frequencies)
# (built r12, staged r13)
# ---------------------------------------------------------------------------

_VOCAB_GINI_SQL = f"""
WITH tok AS (
  SELECT unnest({T.tokens_sql('text')}) AS word FROM documents
),
vc AS (SELECT word, count(*) AS c FROM tok GROUP BY word),
grid AS (SELECT c, count(*) AS m FROM vc GROUP BY c),
cum AS (
  SELECT c, m,
         COALESCE(sum(m) OVER (ORDER BY c
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
  FROM grid
),
s AS (
  SELECT CAST(sum(m) AS BIGINT) AS n,
         CAST(sum(c * m) AS BIGINT) AS total,
         CAST(sum(CAST(c AS DECIMAL(38,0))
                  * (m * nb + (m * (m + 1)) // 2)) AS DECIMAL(38,0)) AS t
  FROM cum
)
SELECT n AS n_types, total AS total_tokens,
       CAST(CAST(total AS DOUBLE) / n AS DOUBLE) AS mean_freq,
       CAST(2 * CAST(t AS DOUBLE) / (CAST(n AS DOUBLE) * total)
            - (CAST(n AS DOUBLE) + 1) / n AS DOUBLE) AS gini
FROM s WHERE n > 0 AND total > 0
"""


def vocab_gini_readout(vc: DataFrame) -> DataFrame:
    """Lorenz/Gini over the per-type frequency column ``c`` of a
    vocabulary count table — the ADDITIVE sufficient statistic the
    Zipf drain already maintains (built r12): count-of-counts grid,
    the rank-interchangeable value-grid rank algebra in exact
    integers on the DECIMAL(38,0) lattice, and the fixed-shape
    Gini = 2T/(n*S1) - (n+1)/n readout. Shared by the batch query
    and the streaming drain."""
    grid = vc.groupBy("c").agg(F.count("*").alias("m")).coalesce(1)
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    cum = grid.select(
        "c", "m", F.coalesce(F.sum("m").over(w), F.lit(0)).alias("nb")
    )
    m, c, nb = F.col("m"), F.col("c"), F.col("nb")
    s = cum.agg(
        F.sum(m).cast("bigint").alias("n"),
        F.sum(c * m).cast("bigint").alias("total"),
        F.sum(
            c.cast("decimal(38,0)")
            * (m * nb + F.expr("(m * (m + 1)) div 2"))
        )
        .cast("decimal(38,0)")
        .alias("t"),
    )
    n, total, t = F.col("n"), F.col("total"), F.col("t")
    return s.where((n > 0) & (total > 0)).select(
        n.alias("n_types"),
        total.alias("total_tokens"),
        (total.cast("double") / n).cast("double").alias("mean_freq"),
        (
            F.lit(2) * t.cast("double") / (n.cast("double") * total)
            - (n.cast("double") + 1) / n
        )
        .cast("double")
        .alias("gini"),
    )


@register("text_vocab_gini", oracle=_VOCAB_GINI_SQL)
def text_vocab_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary concentration (built r12, staged r13) — the TYPE-side
    inequality diagnostic completing the vocabulary-shape trio: the
    Zipf fit states the rank-frequency SLOPE, Heaps' law states how
    fast NEW types arrive, and this states in ONE number how unequally
    token mass is spread across the types already seen (gini -> 1:
    a handful of stopword-like types carry the corpus; gini -> 0:
    a flat synthetic vocabulary). The statistic BPE/vocab-size and
    stopword-list decisions read first. Same Lorenz machinery as
    text_token_gini (which measures DOC-length inequality — different
    relation, different question), computed WITHOUT any global rank
    sort via the value-grid device: types with equal frequency c are
    rank-interchangeable, so the m types at count c occupying ranks
    [nb+1, nb+m] contribute c*(m*nb + m(m+1)/2) in EXACT integers on
    the 128-bit DECIMAL lattice, and Gini = 2T/(n*S1) - (n+1)/n is
    one identical fixed-shape double expression of exact sums (the
    token_gini grandfathered readout device — allowlisted in
    tests/test_oracle.py).

    Scale shape: tokenize in the scan stage, one map-side-combinable
    (word) count (vocab-sized — the only data-scaled shuffle), a
    count-of-counts grid bounded by |distinct frequencies|, a
    cumulative window on that tiny grid only, 1-row output."""
    docs = load_table(spark, sf_dir, "documents")
    return vocab_gini_readout(word_counts(docs).withColumnRenamed("n", "c"))
