"""Text-analysis queries (Tier C — SURVEY.md §2.12-5, BASELINE.json)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..operators import textstats
from ..sources import load_table
from .registry import register


@register("text_quality_profile", oracle=textstats.quality_profile_sql())
def text_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality scoring: token counts, distinct/stopword ratios, mean
    token length, composite score — single scan, pure HOF expressions."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.quality_profile(docs)


@register("text_fingerprints", oracle=textstats.FINGERPRINTS_SQL)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable rolling-hash document fingerprints (exact-dedup key)."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.fingerprints(docs)


@register("text_langid", oracle=textstats.LANGID_PREDICTIONS_SQL)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive-Bayes language ID from corpus unigram profiles, deterministic
    argmax (rounded scores + lexicographic tiebreak)."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.langid_predictions(docs)


@register(
    "text_langid_confusion",
    oracle=f"""
WITH preds AS ({textstats.LANGID_PREDICTIONS_SQL})
SELECT lang_actual, lang_predicted, CAST(count(*) AS BIGINT) AS n
FROM preds GROUP BY lang_actual, lang_predicted
""",
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix (accuracy diagnostics)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        textstats.langid_predictions(docs)
        .groupBy("lang_actual", "lang_predicted")
        .agg(F.count("*").alias("n"))
    )


@register(
    "text_bigram_counts",
    oracle=f"""
SELECT ngram, CAST(count(*) AS BIGINT) AS n
FROM ({textstats.ngrams_sql(2)})
GROUP BY ngram
HAVING count(*) >= 20
""",
)
def text_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word-bigram frequencies (n-gram generation via array slicing
    HOF, no UDF) with a HAVING floor."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        textstats.ngrams(docs, 2)
        .groupBy("ngram")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= 20)
    )


@register(
    "text_elemmatch_langarray",
    oracle=f"""
WITH shaped AS (
  SELECT doc_id,
         list_value(
           struct_pack(lg := lang,
                       word_count := CAST({textstats.T.token_count_sql('text')} AS BIGINT)),
           struct_pack(lg := 'xx', word_count := CAST(doc_id % 7 AS BIGINT))
         ) AS language
  FROM documents
)
SELECT doc_id FROM shaped
WHERE len(list_filter(language,
          x -> x.lg = 'en' AND x.word_count >= 15)) > 0
""",
)
def text_elemmatch_langarray(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — the reference's ``$elemMatch`` eligibility filter on the
    ``language: array<struct<lang, word_count>>`` column
    (/root/reference/tfidf-calculator/calculate_idf_scores.py:31). The
    fixture stores a scalar lang, so the array-of-structs shape is first
    reconstructed (real lang entry + a decoy entry), then filtered with the
    existential HOF ``F.exists`` — the direct translation of $elemMatch."""
    docs = load_table(spark, sf_dir, "documents")
    shaped = docs.select(
        "doc_id",
        F.array(
            F.struct(
                F.col("lang").alias("lg"),
                textstats.T.token_count("text").cast("long").alias("word_count"),
            ),
            F.struct(
                F.lit("xx").alias("lg"),
                (F.col("doc_id") % 7).cast("long").alias("word_count"),
            ),
        ).alias("language"),
    )
    return shaped.where(
        F.exists(
            "language",
            lambda x: (x["lg"] == F.lit("en")) & (x["word_count"] >= F.lit(15)),
        )
    ).select("doc_id")


@register(
    "text_token_stats_by_lang",
    oracle=f"""
WITH d AS (
  SELECT lang,
         {textstats.T.token_count_sql('text')} AS n_tokens,
         length(text) AS n_chars
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(round(avg(n_tokens), 6) AS DOUBLE) AS avg_tokens,
       CAST(round(avg(n_chars), 6) AS DOUBLE) AS avg_chars,
       CAST(round(avg(CAST(n_chars AS DOUBLE) / ceil(n_chars / 4.0)), 6) AS DOUBLE)
         AS avg_chars_per_bpe_token
FROM d GROUP BY lang
""",
)
def text_token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count statistics per language: whitespace tokens + a BPE-ish
    chars/4 estimator (the standard budget heuristic for LLM token counts)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        textstats.T.token_count("text").alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 6).cast("double").alias("avg_tokens"),
        F.round(F.avg("n_chars"), 6).cast("double").alias("avg_chars"),
        F.round(
            F.avg(F.col("n_chars").cast("double") / F.ceil(F.col("n_chars") / 4.0)), 6
        ).cast("double").alias("avg_chars_per_bpe_token"),
    )


# ---------------------------------------------------------------------------
# word burstiness (Fano factor) over per-doc occurrence counts
# ---------------------------------------------------------------------------

_BURST_MIN_TOTAL = 8  # report words with at least this many occurrences


_BURSTINESS_SQL = f"""
WITH n AS (SELECT count(*) AS n_docs FROM documents),
dc AS (
  SELECT doc_id, word, count(*) AS c
  FROM (SELECT doc_id, unnest({textstats.T.tokens_sql('text')}) AS word
        FROM documents)
  GROUP BY doc_id, word
),
wm AS (
  SELECT word,
         count(*) AS n_present,
         sum(c) AS s1,
         sum(c * c) AS s2
  FROM dc GROUP BY word
  HAVING sum(c) >= {_BURST_MIN_TOTAL}
)
SELECT wm.word,
       CAST(wm.n_present AS BIGINT) AS n_docs_present,
       CAST(wm.s1 AS BIGINT) AS total_count,
       CAST(wm.s1 AS DOUBLE) / n.n_docs AS mean_per_doc,
       CASE WHEN wm.s1 > 0 THEN
         CAST(n.n_docs * wm.s2 - wm.s1 * wm.s1 AS DOUBLE)
           / (CAST(wm.s1 AS DOUBLE) * (n.n_docs - 1))
       END AS fano
FROM wm, n WHERE n.n_docs > 1
"""


@register("text_burstiness", oracle=_BURSTINESS_SQL)
def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word burstiness via the Fano factor (built r9, staged r10) —
    the corpus-linguistics dispersion signal that separates FUNCTION
    words (Poisson-like, fano ~= 1: their count just tracks doc
    length) from bursty CONTENT/boilerplate words (fano >> 1: absent
    almost everywhere, piled up where they occur). Over per-doc
    occurrence counts c_d (zero-inflated across all n docs), the
    sample variance-to-mean ratio reduces to
    (n*S2 - S1^2) / (S1*(n-1)) with S1 = sum c, S2 = sum c^2 — EXACT
    integers from one (doc, word) count, so fano is ONE double
    division, bit-identical cross-engine. Words below {_BURST_MIN_TOTAL}
    total occurrences are left out (their Fano estimate is noise).

    Scale shape: one (doc, word) count then one word-keyed moment
    aggregate — the idf_table shuffle pair, both map-side combinable;
    the 1-row doc count broadcasts. Output is vocab-sized (a table,
    like the IDF table), never collected."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").alias("n_docs"))
    dc = (
        docs.select(
            "doc_id", F.explode(textstats.T.tokens("text")).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    wm = (
        dc.groupBy("word")
        .agg(
            F.count("*").alias("n_present"),
            F.sum("c").alias("s1"),
            F.sum(F.col("c") * F.col("c")).alias("s2"),
        )
        .filter(F.col("s1") >= _BURST_MIN_TOTAL)
    )
    nd, s1, s2 = F.col("n_docs"), F.col("s1"), F.col("s2")
    return (
        wm.crossJoin(F.broadcast(n))
        .filter(nd > 1)
        .select(
            "word",
            F.col("n_present").cast("long").alias("n_docs_present"),
            s1.cast("long").alias("total_count"),
            (s1.cast("double") / nd).alias("mean_per_doc"),
            F.when(
                s1 > 0,
                (nd * s2 - s1 * s1).cast("double")
                / (s1.cast("double") * (nd - 1)),
            ).alias("fano"),
        )
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction (stopword-delimited phrases, degree/frequency)
# ---------------------------------------------------------------------------

_RAKE_STOPWORDS = (
    "the", "of", "and", "a", "to", "in", "is", "you", "that", "it",
    "he", "was", "for", "on", "are", "as", "with", "his", "they",
    "at", "be", "this", "have", "from", "or", "an", "by", "we",
)
_RAKE_TOPK = 3

_RAKE_STOP_SQL = ", ".join(f"'{w}'" for w in _RAKE_STOPWORDS)

_RAKE_SQL = f"""
WITH toks AS (
  SELECT doc_id, {textstats.T.tokens_sql('text')} AS t FROM documents
),
pos AS (
  SELECT doc_id, unnest(generate_series(1, len(t))) AS p, t
  FROM toks WHERE len(t) > 0
),
w AS (
  SELECT doc_id, p, t[p] AS word,
         CASE WHEN t[p] IN ({_RAKE_STOP_SQL}) THEN 1 ELSE 0 END AS stop
  FROM pos
),
g AS (
  SELECT doc_id, p, word, stop,
         sum(stop) OVER (PARTITION BY doc_id ORDER BY p) AS grp
  FROM w
),
member AS (SELECT doc_id, grp, p, word FROM g WHERE stop = 0),
phrase AS (
  SELECT doc_id, grp,
         string_agg(word, ' ' ORDER BY p) AS phrase,
         count(*) AS n_words
  FROM member GROUP BY doc_id, grp
),
ws AS (
  SELECT m.doc_id, m.word,
         count(*) AS freq,
         sum(ph.n_words) AS deg
  FROM member m JOIN phrase ph USING (doc_id, grp)
  GROUP BY m.doc_id, m.word
),
pscore AS (
  SELECT m.doc_id, m.grp,
         CAST(sum(CAST(round(CAST(ws.deg AS DOUBLE) / ws.freq, 9)
                  AS DECIMAL(28,9))) AS DECIMAL(38,9)) AS score
  FROM member m JOIN ws ON ws.doc_id = m.doc_id AND ws.word = m.word
  GROUP BY m.doc_id, m.grp
),
ranked AS (
  SELECT ph.doc_id, ph.phrase, ph.n_words,
         CAST(ps.score AS DOUBLE) AS score,
         row_number() OVER (
           PARTITION BY ph.doc_id
           ORDER BY ps.score DESC, ph.phrase, ph.grp
         ) AS rank
  FROM phrase ph JOIN pscore ps USING (doc_id, grp)
)
SELECT doc_id, phrase, CAST(n_words AS BIGINT) AS n_words, score,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_RAKE_TOPK}
"""


@register("text_rake_keywords", oracle=_RAKE_SQL)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010; built r9 session 3,
    staged r10) — the phrase-level complement to tfidf_top_keywords:
    candidate phrases are maximal stopword-delimited token runs, each
    word scores deg/freq within ITS document (deg = summed length of
    the phrases it joins — co-occurrence degree including self), and a
    phrase scores the sum of its members' scores; top-{_RAKE_TOPK}
    phrases per doc win. Word scores round to 9dp DECIMAL before the
    exact per-phrase sum (order-free), rank ties break on (phrase,
    phrase-position) — fully deterministic cross-engine.

    Scale shape: position explode (fan-out ∝ tokens, scan-stage), one
    doc-keyed window for run-grouping, then (doc, grp) / (doc, word)
    aggregates and a doc-keyed top-k window — every shuffle is keyed
    by doc_id (or finer), nothing corpus-global."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", textstats.T.tokens("text").alias("t")
    ).where(F.size("t") > 0)
    w = toks.select(
        "doc_id",
        F.posexplode("t").alias("p0", "word"),
    ).select(
        "doc_id",
        (F.col("p0") + 1).alias("p"),
        "word",
        F.when(
            F.col("word").isin(*_RAKE_STOPWORDS), 1
        ).otherwise(0).alias("stop"),
    )
    g = w.withColumn(
        "grp",
        F.sum("stop").over(
            Window.partitionBy("doc_id").orderBy("p")
        ),
    )
    member = g.filter(F.col("stop") == 0).select(
        "doc_id", "grp", "p", "word"
    )
    phrase = member.groupBy("doc_id", "grp").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "word"))),
                lambda x: x["word"],
            ),
            " ",
        ).alias("phrase"),
        F.count("*").alias("n_words"),
    )
    ws = (
        member.join(phrase.select("doc_id", "grp", "n_words"),
                    ["doc_id", "grp"])
        .groupBy("doc_id", "word")
        .agg(
            F.count("*").alias("freq"),
            F.sum("n_words").alias("deg"),
        )
    )
    pscore = (
        member.join(ws, ["doc_id", "word"])
        .groupBy("doc_id", "grp")
        .agg(
            F.sum(
                F.round(
                    F.col("deg").cast("double") / F.col("freq"), 9
                ).cast("decimal(28,9)")
            ).cast("decimal(38,9)").alias("score")
        )
    )
    ranked = phrase.join(pscore, ["doc_id", "grp"]).select(
        "doc_id", "phrase", "n_words",
        F.col("score").cast("double").alias("score"),
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(
                F.col("score").desc(), F.col("phrase"), F.col("grp")
            )
        ).alias("rank"),
    )
    return ranked.filter(F.col("rank") <= _RAKE_TOPK).select(
        "doc_id", "phrase",
        F.col("n_words").cast("long").alias("n_words"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


# ---------------------------------------------------------------------------
# MATTR — moving-average type-token ratio (windowed lexical diversity)
# ---------------------------------------------------------------------------

_MATTR_W = 25  # window width in tokens

_MATTR_SQL = f"""
WITH toks AS (
  SELECT doc_id, {textstats.T.tokens_sql('text')} AS t FROM documents
),
docs_ok AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
wins AS (
  SELECT doc_id, n,
         CASE WHEN n <= {_MATTR_W} THEN 1 ELSE n - {_MATTR_W} + 1 END
           AS n_windows,
         CASE WHEN n <= {_MATTR_W}
              THEN list_value(CAST(round(
                     CAST(len(list_distinct(t)) AS DOUBLE) / n, 9)
                     AS DECIMAL(18,9)))
              ELSE list_transform(
                     generate_series(1, n - {_MATTR_W} + 1),
                     i -> CAST(round(
                       CAST(len(list_distinct(t[i:i + {_MATTR_W} - 1]))
                            AS DOUBLE) / {_MATTR_W}, 9) AS DECIMAL(18,9)))
         END AS ratios
  FROM docs_ok
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       CAST(n_windows AS BIGINT) AS n_windows,
       CAST(CAST(list_sum(ratios) AS DECIMAL(38,9)) AS DOUBLE) / n_windows
         AS mattr
FROM wins
"""


@register("text_mattr_diversity", oracle=_MATTR_SQL)
def text_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTR — moving-average type-token ratio at window {_MATTR_W}
    (Covington & McFall 2010; built r9 session 3, staged r10) — the
    lexical-diversity signal that, unlike the raw TTR the quality
    profile carries, does NOT collapse as documents get longer: the
    type-token ratio is computed over every {_MATTR_W}-token sliding
    window and averaged, so a long document is judged by its LOCAL
    vocabulary churn. Degenerate repetition scores near 1/{_MATTR_W};
    fully novel text scores 1. Each window ratio is one double
    division rounded to the 9dp grid; the per-doc mean divides the
    EXACT decimal sum of those ratios by the window count (both
    in-row — no float accumulation crosses rows). Docs at or under
    the window width fall back to their plain TTR in one window.

    Scale shape: entirely scan-stage — the sliding windows live
    INSIDE each row as an array transform in codegen (no explode, no
    shuffle); output is one row per doc."""
    docs = load_table(spark, sf_dir, "documents")
    t = textstats.T.tokens("text")
    base = docs.select("doc_id", t.alias("t")).where(F.size("t") > 0)
    n = F.size("t")
    w = _MATTR_W
    single = F.array(
        F.round(
            F.size(F.array_distinct("t")).cast("double") / n, 9
        ).cast("decimal(18,9)")
    )
    slid = F.transform(
        F.sequence(F.lit(1), n - w + 1),
        lambda i: F.round(
            F.size(F.array_distinct(F.slice("t", i, w))).cast("double") / w,
            9,
        ).cast("decimal(18,9)"),
    )
    wins = base.select(
        "doc_id",
        n.alias("n"),
        F.when(n <= w, F.lit(1)).otherwise(n - w + 1).alias("n_windows"),
        F.when(n <= w, single).otherwise(slid).alias("ratios"),
    )
    ratio_sum = F.aggregate(
        F.col("ratios"),
        F.lit(0).cast("decimal(28,9)"),
        lambda acc, x: (acc + x).cast("decimal(28,9)"),
    )
    return wins.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("n_windows").cast("long").alias("n_windows"),
        (ratio_sum.cast("double") / F.col("n_windows")).alias("mattr"),
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit (corpus-health diagnostic)
# ---------------------------------------------------------------------------

_ZIPF_TOPN = 400  # head of the rank-frequency curve the OLS line fits

_ZIPF_SQL = f"""
WITH wc AS (
  SELECT word, count(*) AS n
  FROM (SELECT unnest({textstats.T.tokens_sql('text')}) AS word
        FROM documents)
  GROUP BY word
),
ranked AS (
  SELECT word, n,
         row_number() OVER (ORDER BY n DESC, word) AS rk
  FROM wc
),
head AS (SELECT * FROM ranked WHERE rk <= {_ZIPF_TOPN}),
terms AS (
  SELECT CAST(round(ln(rk), 9) AS DECIMAL(12,9)) AS x,
         CAST(round(ln(n), 9) AS DECIMAL(12,9)) AS y
  FROM head
),
s AS (
  -- sums accumulate EXACTLY at the product scale (18dp), then re-pin
  -- to 9dp before any double math: a 9dp decimal with < 2^53 scaled
  -- units converts to double identically in both engines (one exact
  -- IEEE division), while an 18dp sum can round differently at the
  -- last ulp (measured at sf0.001 on r2)
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(round(CAST(sum(CAST(x AS DECIMAL(28,9))) AS DECIMAL(38,9)), 9)
              AS DECIMAL(24,9)) AS sx,
         CAST(round(CAST(sum(CAST(y AS DECIMAL(28,9))) AS DECIMAL(38,9)), 9)
              AS DECIMAL(24,9)) AS sy,
         CAST(round(CAST(sum(CAST(x * x AS DECIMAL(28,18))) AS DECIMAL(38,18)), 9)
              AS DECIMAL(24,9)) AS sxx,
         CAST(round(CAST(sum(CAST(x * y AS DECIMAL(28,18))) AS DECIMAL(38,18)), 9)
              AS DECIMAL(24,9)) AS sxy,
         CAST(round(CAST(sum(CAST(y * y AS DECIMAL(28,18))) AS DECIMAL(38,18)), 9)
              AS DECIMAL(24,9)) AS syy
  FROM terms
)
SELECT m AS n_words,
       CAST((m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            AS DOUBLE) AS slope,
       CAST((CAST(sy AS DOUBLE)
             - (m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * CAST(sx AS DOUBLE)) / m AS DOUBLE) AS intercept,
       CAST((m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            * (m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / ((m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * (m * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
            AS DOUBLE) AS r2
FROM s WHERE m >= 2
"""


@register("text_zipf_fit", oracle=_ZIPF_SQL)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit (built r10, staged r11) — the classic
    corpus-health diagnostic: natural text follows freq ~ C/rank^a with
    a ~= 1, and a corpus whose fitted slope is far from -1 (or whose r2
    is low) is template spam, deduplication residue, or synthetic
    filler rather than organic language. OLS of ln(freq) on ln(rank)
    over the top-{_ZIPF_TOPN} words: per-row ln values round to 9dp
    DECIMAL (ln has matched cross-engine everywhere it's used —
    memory/playbook; exp is the one that doesn't), products are exact
    18dp decimals, all five sufficient statistics are exact DECIMAL
    sums, and slope/intercept/r2 are single identical double
    expressions of those sums. One output row.

    Scale shape: vocab-sized word count (map-side combinable), then a
    global top-{_ZIPF_TOPN} via orderBy+limit — Spark plans
    TakeOrderedAndProject (per-partition heads merged on the driver,
    never a full sort) — and the rank window runs on the bounded
    {_ZIPF_TOPN}-row head coalesced to one partition. The OLS reduce is
    a 1-row aggregate. Nothing corpus-sized ever sorts globally."""
    docs = load_table(spark, sf_dir, "documents")
    return zipf_fit_readout(word_counts(docs))


def word_counts(docs: DataFrame) -> DataFrame:
    """(word, n) corpus word counts — the ADDITIVE sufficient statistic
    behind the Zipf, Good-Turing and vocabulary-Gini readouts, and the
    per-batch delta of their streaming drains (the UNBOUNDED-key member
    of the additive-state family: state is vocab-sized, and the sink's
    hash-bucketed MERGE rewrites only touched buckets)."""
    return (
        docs.select(F.explode(textstats.T.tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def zipf_fit_readout(wc: DataFrame) -> DataFrame:
    """OLS readout from a (word, n) count relation — a pure function of
    the additive word-count sufficient statistic, shared verbatim by
    the batch query and the streaming drain."""
    head = (
        wc.orderBy(F.desc("n"), F.asc("word"))
        .limit(_ZIPF_TOPN)
        .coalesce(1)
    )
    rk = F.row_number().over(
        Window.orderBy(F.desc("n"), F.asc("word"))
    )
    terms = head.select(
        F.round(F.log(rk.cast("double")), 9)
        .cast("decimal(12,9)")
        .alias("x"),
        F.round(F.log(F.col("n").cast("double")), 9)
        .cast("decimal(12,9)")
        .alias("y"),
    )
    # exact 18dp accumulation, re-pinned to 9dp before double math
    # (9dp + < 2^53 scaled units => bit-identical double conversion in
    # both engines; 18dp sums diverged by an ulp at sf0.001 — see SQL)
    def pinned(col, alias):
        return (
            F.round(col.cast("decimal(38,18)"), 9)
            .cast("decimal(24,9)")
            .alias(alias)
        )

    s = terms.agg(
        F.count("*").cast("bigint").alias("m"),
        pinned(F.sum(F.col("x").cast("decimal(28,9)")), "sx"),
        pinned(F.sum(F.col("y").cast("decimal(28,9)")), "sy"),
        pinned(F.sum((F.col("x") * F.col("x")).cast("decimal(28,18)")), "sxx"),
        pinned(F.sum((F.col("x") * F.col("y")).cast("decimal(28,18)")), "sxy"),
        pinned(F.sum((F.col("y") * F.col("y")).cast("decimal(28,18)")), "syy"),
    )
    m = F.col("m")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    num = m * sxy - sx * sy
    den = m * sxx - sx * sx
    slope = num / den
    return s.where(m >= 2).select(
        m.alias("n_words"),
        slope.cast("double").alias("slope"),
        ((sy - slope * sx) / m).cast("double").alias("intercept"),
        (num * num / (den * (m * syy - sy * sy)))
        .cast("double")
        .alias("r2"),
    )


# ---------------------------------------------------------------------------
# TextRank keyword extraction (damped power iteration on the word graph)
# ---------------------------------------------------------------------------

_TR_TOPK = 3
_TR_D = "0.85"     # damping, spelled once so both engines share the literal
_TR_BASE = "0.15"  # 1 - d

_TEXTRANK_SQL = f"""
WITH toks AS (
  SELECT doc_id, {textstats.T.tokens_sql('text')} AS t FROM documents
),
pos AS (
  SELECT doc_id, unnest(generate_series(1, len(t) - 1)) AS p, t
  FROM toks WHERE len(t) >= 2
),
adj AS (
  SELECT doc_id, t[p] AS u, t[p + 1] AS v FROM pos WHERE t[p] <> t[p + 1]
),
edges AS (
  SELECT DISTINCT doc_id, u, v FROM (
    SELECT doc_id, u, v FROM adj
    UNION ALL
    SELECT doc_id, v AS u, u AS v FROM adj
  )
),
deg AS (
  SELECT doc_id, u,
         CAST(round(1.0 / count(*), 9) AS DECIMAL(18,9)) AS invdeg
  FROM edges GROUP BY doc_id, u
),
s1 AS (
  SELECT e.doc_id, e.v AS word,
         CAST(round({_TR_BASE} + {_TR_D} * CAST(
           sum(CAST(round(CAST(1 AS DECIMAL(18,6)) * d.invdeg, 9)
               AS DECIMAL(28,9))) AS DECIMAL(20,9)), 6)
           AS DECIMAL(18,6)) AS s
  FROM edges e JOIN deg d ON d.doc_id = e.doc_id AND d.u = e.u
  GROUP BY e.doc_id, e.v
),
s2 AS (
  SELECT e.doc_id, e.v AS word,
         CAST(round({_TR_BASE} + {_TR_D} * CAST(
           sum(CAST(round(s1.s * d.invdeg, 9)
               AS DECIMAL(28,9))) AS DECIMAL(20,9)), 6)
           AS DECIMAL(18,6)) AS s
  FROM edges e
  JOIN deg d ON d.doc_id = e.doc_id AND d.u = e.u
  JOIN s1 ON s1.doc_id = e.doc_id AND s1.word = e.u
  GROUP BY e.doc_id, e.v
),
s3 AS (
  SELECT e.doc_id, e.v AS word,
         CAST(round({_TR_BASE} + {_TR_D} * CAST(
           sum(CAST(round(s2.s * d.invdeg, 9)
               AS DECIMAL(28,9))) AS DECIMAL(20,9)), 6)
           AS DECIMAL(18,6)) AS s
  FROM edges e
  JOIN deg d ON d.doc_id = e.doc_id AND d.u = e.u
  JOIN s2 ON s2.doc_id = e.doc_id AND s2.word = e.u
  GROUP BY e.doc_id, e.v
),
ranked AS (
  SELECT doc_id, word, s,
         row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, word) AS rk
  FROM s3
)
SELECT doc_id, word, CAST(s AS DOUBLE) AS score, CAST(rk AS BIGINT) AS rank
FROM ranked WHERE rk <= {_TR_TOPK}
"""


@register("text_textrank_keywords", oracle=_TEXTRANK_SQL)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004; built r10,
    staged r11) — the graph-centrality complement to RAKE's phrase
    statistics: per document, adjacent distinct tokens form an
    undirected co-occurrence graph, and THREE unrolled damped
    power-iteration steps (d=0.85, uniform init 1.0) score each word by
    the stationary importance of its neighborhood; top-{_TR_TOPK}
    words per doc win. Decimal discipline goes one step beyond the
    markov-stationary device: the ENTIRE iteration is exact DECIMAL —
    1/deg pins to 9dp, s*invdeg is an exact scale-15 decimal product
    rounded (half-away-from-zero, identical cross-engine) to 9dp before
    the exact per-node sum, and the damped update 0.15 + 0.85*raw is a
    decimal-literal product re-pinned to 6dp. No double appears inside
    the loop: the first draft's 0.85 * (9dp grid) DOUBLE product landed
    exactly on round-6 half boundaries six times at sf0.01, where the
    engines' double rounding disagrees (playbook hazard #1) — measured,
    then eliminated by construction.

    Scale shape: the edge fan-out is ∝ tokens (adjacent pairs, in the
    scan stage); every join and aggregate in the three steps is keyed
    by (doc_id, word) — co-partitioned, map-side combinable, no global
    anything — and the final top-k is a doc-keyed window. The edge +
    invdeg relation feeds all three steps through one persist, so the
    corpus scans once."""
    from ..cache import persist_tracked

    from ..sources import spread

    # r12: rebalance the single-split scan before the tokenize + pair
    # explode that builds the persisted edge relation (guide §2.5).
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = textstats.T.tokens("text")
    pairs = docs.select("doc_id", toks.alias("t")).where(
        F.size("t") >= 2
    ).select(
        "doc_id",
        F.explode(
            F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.struct(
                        F.element_at("t", i).alias("u"),
                        F.element_at("t", i + 1).alias("v"),
                    ),
                ),
                lambda p: p["u"] != p["v"],
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.u").alias("u"), F.col("e.v").alias("v"))
    edges = (
        pairs.union(
            pairs.select("doc_id", F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .distinct()
    )
    deg = edges.groupBy("doc_id", "u").agg(
        F.round(F.lit(1.0) / F.count("*"), 9)
        .cast("decimal(18,9)")
        .alias("invdeg")
    )
    ew = persist_tracked(
        edges.join(deg, ["doc_id", "u"]).select("doc_id", "u", "v", "invdeg")
    )
    # DECIMAL literals (a bare 0.85 would be a double and reintroduce
    # the half-boundary hazard this device exists to kill)
    d = F.expr("CAST(0.85 AS DECIMAL(3,2))")
    base = F.expr("CAST(0.15 AS DECIMAL(3,2))")

    def step(scores: DataFrame | None) -> DataFrame:
        if scores is None:
            src = ew.withColumn("s", F.lit(1).cast("decimal(18,6)"))
        else:
            src = ew.join(
                scores.select(
                    "doc_id", F.col("word").alias("u"), "s"
                ),
                ["doc_id", "u"],
            )
        # s(18,6) * invdeg(18,9) is EXACT decimal scale-15 in both
        # engines (precision 37 <= 38); round() on an exact decimal is
        # half-away-from-zero identically cross-engine, so no double
        # appears anywhere in the iteration.
        term = F.round(F.col("s") * F.col("invdeg"), 9).cast(
            "decimal(28,9)"
        )
        return src.groupBy("doc_id", F.col("v").alias("word")).agg(
            F.round(base + d * F.sum(term).cast("decimal(20,9)"), 6)
            .cast("decimal(18,6)")
            .alias("s")
        )

    s3 = step(step(step(None)))
    w = Window.partitionBy("doc_id").orderBy(F.desc("s"), F.asc("word"))
    return (
        s3.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TR_TOPK)
        .select(
            "doc_id",
            "word",
            F.col("s").cast("double").alias("score"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram novelty profile (incremental corpus redundancy)
# ---------------------------------------------------------------------------

_NOVELTY_N = 3  # trigram shingles — long enough to mean phrasing, not vocab

_NOVELTY_SQL = f"""
WITH grams AS (
  SELECT doc_id, md5(ngram) AS g
  FROM ({textstats.ngrams_sql(_NOVELTY_N)})
),
per_doc AS (
  SELECT doc_id, g, count(*) AS k FROM grams GROUP BY doc_id, g
),
firsts AS (
  SELECT g, min(doc_id) AS first_doc FROM per_doc GROUP BY g
)
SELECT p.doc_id,
       CAST(sum(p.k) AS BIGINT) AS n_grams,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(count(*) FILTER (f.first_doc = p.doc_id) AS BIGINT) AS n_novel,
       CAST(count(*) FILTER (f.first_doc = p.doc_id) AS DOUBLE) / count(*)
         AS novelty
FROM per_doc p JOIN firsts f USING (g)
GROUP BY p.doc_id
"""


@register("text_ngram_novelty", oracle=_NOVELTY_SQL)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty (built r10, staged r11) — the
    incremental-redundancy signal behind "is new data still adding
    anything": in doc_id ingestion order, a document's novelty is the
    fraction of its distinct {_NOVELTY_N}-grams whose FIRST corpus
    occurrence is this document. A healthy growing corpus holds
    novelty up (Heaps-law vocabulary growth, expressed distributably —
    no sequential prefix scan: first occurrence is just min(doc_id)
    per gram); crawl loops, template farms, and dedup failures drive
    it toward 0. The novelty ratio is the unrounded quotient of exact
    counts (identical IEEE division both engines); grams join on md5
    fingerprints so text never rides a shuffle.

    Scale shape: gram fan-out in the scan stage; one (doc, gram)
    count, one gram-keyed min (both map-side combinable); the
    firsts join keys on the gram hash — shuffle ∝ distinct grams,
    never pairs. The same plan maintains incrementally: a standing
    (g, first_doc) table MIN-merges new batches (the ledgered sink's
    dominance family), which is how the streaming form would pin
    ingestion order."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = novelty_doc_grams(docs)
    return novelty_readout(per_doc, novelty_firsts(per_doc))


def novelty_doc_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, g, k) distinct-gram counts per doc — shared by the
    batch query and the streaming drain's per-batch delta."""
    grams = textstats.ngrams(docs, _NOVELTY_N).select(
        "doc_id", F.md5("ngram").alias("g")
    )
    return grams.groupBy("doc_id", "g").agg(F.count("*").alias("k"))


def novelty_firsts(per_doc: DataFrame) -> DataFrame:
    """(g, first_doc) first occurrence per gram from (doc_id, g, k) —
    MIN-mergeable (min is commutative and idempotent), so the streaming
    drain's per-batch firsts MIN-merge into exactly the one-pass table."""
    return per_doc.groupBy("g").agg(F.min("doc_id").alias("first_doc"))


def novelty_readout(per_doc: DataFrame, firsts: DataFrame) -> DataFrame:
    """Novelty profile from (doc_id, g, k) and a (g, first_doc) table —
    a pure function of the MIN-mergeable first-occurrence state, shared
    verbatim by the batch query and the streaming drain."""
    novel = F.count_if(F.col("first_doc") == F.col("doc_id"))
    return (
        per_doc.join(firsts, "g")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("bigint").alias("n_grams"),
            F.count("*").cast("bigint").alias("n_distinct"),
            novel.cast("bigint").alias("n_novel"),
            (novel.cast("double") / F.count("*")).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# per-source Jensen-Shannon divergence vs the corpus (built r11, staged r12)
# ---------------------------------------------------------------------------

_JSD_SQL = f"""
WITH toks AS (
  SELECT source, unnest({textstats.T.tokens_sql('text')}) AS word
  FROM documents
),
sw AS (SELECT source, word, count(*) AS a FROM toks GROUP BY source, word),
g AS (SELECT word, sum(a) AS gc FROM sw GROUP BY word),
na AS (SELECT source, sum(a) AS na FROM sw GROUP BY source),
ng AS (SELECT sum(a) AS ng FROM sw),
terms AS (
  SELECT sw.source,
         CAST(round(sw.a * ln(2.0 * sw.a * ng.ng
                              / (CAST(sw.a AS DOUBLE) * ng.ng
                                 + CAST(g.gc AS DOUBLE) * na.na)), 9)
              AS DECIMAL(28,9)) AS t1,
         CAST(round(g.gc * ln(2.0 * g.gc * na.na
                              / (CAST(sw.a AS DOUBLE) * ng.ng
                                 + CAST(g.gc AS DOUBLE) * na.na)), 9)
              AS DECIMAL(28,9)) AS t2,
         g.gc AS gc
  FROM sw JOIN g USING (word) JOIN na USING (source), ng
),
s AS (
  SELECT source,
         CAST(CAST(sum(t1) AS DECIMAL(38,9)) AS DOUBLE) AS s1,
         CAST(CAST(sum(t2) AS DECIMAL(38,9)) AS DOUBLE) AS s2,
         CAST(sum(gc) AS BIGINT) AS gs
  FROM terms GROUP BY source
)
SELECT s.source,
       CAST(na.na AS BIGINT) AS n_tokens,
       CAST(0.5 * (s.s1 / na.na + s.s2 / ng.ng
                   + (ng.ng - s.gs) / CAST(ng.ng AS DOUBLE) * ln(2.0))
            AS DOUBLE) AS jsd
FROM s JOIN na USING (source), ng
ORDER BY source
"""


@register("text_jsd_source_drift", oracle=_JSD_SQL)
def text_jsd_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Jensen-Shannon divergence against the whole-corpus
    unigram distribution (built r11, staged r12) — the
    distribution-level drift triage beside PSI (binned values) and the
    label-centroid drift (embeddings): JSD is symmetric, bounded by
    ln 2, and zero iff the source's word distribution matches the mix,
    so the per-source ranking is the honest "which source should the
    curation team look at" readout (DoReMi-adjacent diagnostics on the
    same (source, word) statistic curation_mw_domain_reweight uses).

    Decimal discipline: both plogp-style term families are N-SCALED
    (a·ln(2aNG/(aNG+gNA)) and g·ln(2gNA/(aNG+gNA))) so no quotient
    precedes a sum; each term is round-9 DECIMAL over logs of exact
    integer ratios (ln is the safe transcendental), sums are exact
    DECIMAL(38,9), and the absent-word complement collapses to the
    CLOSED FORM (NG-GS_s)/NG·ln2 — a single double expression both
    engines state identically (p=0 rows never materialize).

    Scale shape: one (source, word) count (map-side combinable), a
    word-keyed join against the corpus counts (shuffle ∝ vocab), and a
    source-keyed reduce to |sources| rows. No per-pair quadratic —
    source-vs-MIX is linear in sources by design."""
    docs = load_table(spark, sf_dir, "documents")
    return jsd_readout(jsd_source_word_counts(docs))


def jsd_source_word_counts(docs: DataFrame) -> DataFrame:
    """(source, word, a) counts — the complete ADDITIVE sufficient
    statistic of the per-source JSD profile (shared by the batch query
    and the streaming drain)."""
    toks = docs.select(
        "source", F.explode(textstats.T.tokens("text")).alias("word")
    )
    return toks.groupBy("source", "word").agg(F.count("*").alias("a"))


def jsd_readout(sw: DataFrame) -> DataFrame:
    """Per-source JSD vs the corpus mix as a pure function of the
    (source, word, a) count table — N-scaled round-9 DECIMAL plogp
    lattice, closed-form absent-word complement."""
    from ..cache import persist_tracked

    sw = persist_tracked(sw)
    g = sw.groupBy("word").agg(F.sum("a").alias("gc"))
    na = sw.groupBy("source").agg(F.sum("a").alias("na"))
    ng = sw.agg(F.sum("a").alias("ng"))
    a, gc = F.col("a"), F.col("gc")
    den = a.cast("double") * F.col("ng") + gc.cast("double") * F.col("na")
    terms = (
        sw.join(g, "word")
        .join(F.broadcast(na), "source")
        .crossJoin(F.broadcast(ng))
        .select(
            "source",
            F.round(a * F.log(2.0 * a * F.col("ng") / den), 9)
            .cast("decimal(28,9)")
            .alias("t1"),
            F.round(gc * F.log(2.0 * gc * F.col("na") / den), 9)
            .cast("decimal(28,9)")
            .alias("t2"),
            gc,
        )
    )
    s = terms.groupBy("source").agg(
        F.sum("t1").cast("decimal(38,9)").cast("double").alias("s1"),
        F.sum("t2").cast("decimal(38,9)").cast("double").alias("s2"),
        F.sum("gc").cast("bigint").alias("gs"),
    )
    return (
        s.join(F.broadcast(na), "source")
        .crossJoin(F.broadcast(ng))
        .select(
            "source",
            F.col("na").cast("bigint").alias("n_tokens"),
            (
                0.5
                * (
                    F.col("s1") / F.col("na")
                    + F.col("s2") / F.col("ng")
                    + (F.col("ng") - F.col("gs"))
                    / F.col("ng").cast("double")
                    * F.log(F.lit(2.0))
                )
            )
            .cast("double")
            .alias("jsd"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Heaps' law vocabulary-growth fit (built r11, staged r12)
# ---------------------------------------------------------------------------

_HEAPS_NCP = 10  # ingestion-order checkpoints

_HEAPS_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({textstats.T.tokens_sql('text')}) AS word
  FROM documents
),
per_doc AS (SELECT doc_id, count(*) AS n_toks FROM tok GROUP BY doc_id),
firsts AS (SELECT word, min(doc_id) AS fd FROM tok GROUP BY word),
mx AS (SELECT max(doc_id) AS mid FROM per_doc),
cps AS (
  SELECT DISTINCT (mx.mid * f) // {_HEAPS_NCP} AS c
  FROM mx, (SELECT unnest(generate_series(1, {_HEAPS_NCP})) AS f)
),
pts AS (
  SELECT c,
         (SELECT sum(n_toks) FROM per_doc WHERE doc_id <= c) AS n_f,
         (SELECT count(*) FROM firsts WHERE fd <= c) AS v_f
  FROM cps
),
terms AS (
  SELECT CAST(round(ln(CAST(n_f AS DOUBLE)), 9) AS DECIMAL(12,9)) AS x,
         CAST(round(ln(CAST(v_f AS DOUBLE)), 9) AS DECIMAL(12,9)) AS y
  FROM pts WHERE n_f > 0 AND v_f > 0
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(round(CAST(sum(CAST(x AS DECIMAL(28,9))) AS DECIMAL(38,18)), 9)
              AS DECIMAL(24,9)) AS sx,
         CAST(round(CAST(sum(CAST(y AS DECIMAL(28,9))) AS DECIMAL(38,18)), 9)
              AS DECIMAL(24,9)) AS sy,
         CAST(round(CAST(sum(CAST(x * x AS DECIMAL(28,18))) AS DECIMAL(38,18)), 9)
              AS DECIMAL(24,9)) AS sxx,
         CAST(round(CAST(sum(CAST(x * y AS DECIMAL(28,18))) AS DECIMAL(38,18)), 9)
              AS DECIMAL(24,9)) AS sxy,
         CAST(round(CAST(sum(CAST(y * y AS DECIMAL(28,18))) AS DECIMAL(38,18)), 9)
              AS DECIMAL(24,9)) AS syy
  FROM terms
)
SELECT m AS n_checkpoints,
       CAST((m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            AS DOUBLE) AS beta,
       CAST((CAST(sy AS DOUBLE)
             - (m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * CAST(sx AS DOUBLE)) / m AS DOUBLE) AS ln_k,
       CAST((m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            * (m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / ((m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * (m * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
            AS DOUBLE) AS r2
FROM s WHERE m >= 2
"""


@register("text_heaps_law_fit", oracle=_HEAPS_SQL)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps' law vocabulary-growth fit (built r11, staged r12) — the
    corpus-growth diagnostic behind text_ngram_novelty's per-doc
    signal: V(n) = K·n^β fit by ln-ln OLS over {_HEAPS_NCP}
    ingestion-order checkpoints (doc_id deciles), where V = distinct
    vocabulary up to the checkpoint (a pure function of the novelty
    family's word→first-doc table — no sequential scan) and n = tokens
    up to the checkpoint. β ≈ 0.5 is healthy natural text; β near 0
    means the tail of the corpus adds no new vocabulary (template
    spam), β near 1 means unbounded junk vocabulary (mojibake, IDs).
    ln K is reported instead of K — exp is the one measured-unsafe
    transcendental (the Kaplan-Meier lesson).

    Exactness: checkpoint token totals and vocabulary counts are exact
    integers; each (ln n, ln V) coordinate is round-9 DECIMAL; the
    five OLS sufficient statistics accumulate in exact DECIMAL and
    re-pin to 9dp before double conversion (the zipf-fit device,
    verbatim); β / ln K / r² are fixed-shape double expressions.

    Scale shape: one tokenize pass feeding a doc-keyed count and a
    word-keyed min (both map-side combinable); checkpoints are a
    {_HEAPS_NCP}-row broadcast crossed against the two SMALL reduced
    relations (per-doc counts, per-word firsts) — the corpus is never
    re-scanned per checkpoint."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(textstats.T.tokens("text")).alias("word")
    )
    from ..cache import persist_tracked

    tok = persist_tracked(tok)
    per_doc = tok.groupBy("doc_id").agg(F.count("*").alias("n_toks"))
    firsts = tok.groupBy("word").agg(F.min("doc_id").alias("fd"))
    mx = per_doc.agg(F.max("doc_id").alias("mid"))
    cps = (
        mx.select(
            F.explode(F.sequence(F.lit(1), F.lit(_HEAPS_NCP))).alias("f"),
            "mid",
        )
        .select(
            F.expr(f"(mid * f) div {_HEAPS_NCP}").alias("c")
        )
        .distinct()
    )
    nf = (
        per_doc.crossJoin(F.broadcast(cps))
        .where(F.col("doc_id") <= F.col("c"))
        .groupBy("c")
        .agg(F.sum("n_toks").alias("n_f"))
    )
    vf = (
        firsts.crossJoin(F.broadcast(cps))
        .where(F.col("fd") <= F.col("c"))
        .groupBy("c")
        .agg(F.count("*").alias("v_f"))
    )
    terms = (
        nf.join(vf, "c")
        .where((F.col("n_f") > 0) & (F.col("v_f") > 0))
        .select(
            F.round(F.log(F.col("n_f").cast("double")), 9)
            .cast("decimal(12,9)")
            .alias("x"),
            F.round(F.log(F.col("v_f").cast("double")), 9)
            .cast("decimal(12,9)")
            .alias("y"),
        )
    )

    def pinned(col, alias):
        return (
            F.round(col.cast("decimal(38,18)"), 9)
            .cast("decimal(24,9)")
            .alias(alias)
        )

    s = terms.agg(
        F.count("*").cast("bigint").alias("m"),
        pinned(F.sum(F.col("x").cast("decimal(28,9)")), "sx"),
        pinned(F.sum(F.col("y").cast("decimal(28,9)")), "sy"),
        pinned(F.sum((F.col("x") * F.col("x")).cast("decimal(28,18)")), "sxx"),
        pinned(F.sum((F.col("x") * F.col("y")).cast("decimal(28,18)")), "sxy"),
        pinned(F.sum((F.col("y") * F.col("y")).cast("decimal(28,18)")), "syy"),
    )
    m = F.col("m")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    num = m * sxy - sx * sy
    den = m * sxx - sx * sx
    slope = num / den
    return s.where(m >= 2).select(
        m.alias("n_checkpoints"),
        slope.cast("double").alias("beta"),
        ((sy - slope * sx) / m).cast("double").alias("ln_k"),
        (num * num / (den * (m * syy - sy * sy)))
        .cast("double")
        .alias("r2"),
    )
