"""TF-IDF document vectorization — the reference's flagship computation,
re-expressed as declarative DataFrame plans (SURVEY.md §3.1-3.2 redesigns).

Semantic fidelity notes (quirks from SURVEY.md §2.9, all preserved):

* Q1  — the worker's candidate filter ``{flag: {"$ne": True}}`` matches
        false **and missing** (/root/reference/worker.py:99). The fixture has
        no job-flag column, so the engine derives a deterministic tri-state
        flag (true/false/NULL by doc_id % 3) and filters with
        ``IS DISTINCT FROM TRUE`` — never a plain ``!=``.
* Q2  — "IDF" uses **collection frequency** (every occurrence counts, not
        per-document presence): ``vocabs[token] += 1`` at
        /root/reference/tfidf-calculator/calculate_idf_scores.py:48-50.
        MLlib's IDF (doc-frequency, ln, smoothing) would be wrong here.
* Q3  — zero-occurrence vocab words get sentinel −1, then every idf ≤ 0
        (sentinels AND genuine negatives) is replaced by the global min
        computed over sentinel-included values
        (calculate_idf_scores.py:74-77).
* Q4  — known_tokens_ratio = (#distinct vocab tokens in doc) /
        (total token occurrences incl. OOV) (/root/reference/worker.py:52,84,91).
* Q5  — tokenizer = lowercase + whitespace split only; no stopword or
        punctuation removal (/root/reference/worker.py:35-50).
* Q8  — zero-token docs produce NULL vector and ratio 0.0
        (/root/reference/worker.py:38-39,90-91).

Data-model mapping onto the driver fixtures: the reference's external
fastText vocabulary (2M words, most with zero corpus occurrences —
enter_wordvecs.py:28-44) is modeled as {distinct corpus words passing the
length filter} ∪ DICTIONARY_EXTRAS (literal words absent from the corpus).
Word vectors come from the ``embeddings`` fixture via a deterministic
portable-hash routing word -> vec_id (functions/text.py::word_bucket),
standing in for the per-word vector lookup at worker.py:57,63-64.

Scale design (100 TB): the vocabulary+idf side of every join is tiny
relative to the token stream (≤ a few million words) → broadcast it; the
token stream aggregates per (doc_id, word) BEFORE joining (map-side combine
shrinks Zipfian skew); the 64-dim expansion happens AFTER the per-(doc,vec)
weight aggregation so the explode multiplies the smallest possible relation.
AQE skew-join handles residual hot keys ('the', 'a', ...).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..cache import persist_tracked
from ..functions import text as T
from ..sources import spread

# Vocabulary membership: the reference drops "garbage" words by length
# (enter_wordvecs.py:36-37, ``len >= 100``). The fixture corpus has no
# 100-char words, so the engine's length gate keeps words of length >= 3 —
# same operator shape, a cut that actually fires on this corpus ('a' -> OOV).
MIN_WORD_LEN = 3

# fastText-vocab analog: dictionary entries that have vectors but zero
# corpus occurrences -> IDF sentinel path (Q3).
DICTIONARY_EXTRAS = ("catalyst", "tungsten", "shuffle", "parquet", "executor")

# Corpus-eligibility threshold for the IDF job: >= 15 words of the target
# language (calculate_idf_scores.py:31).
ELIGIBLE_MIN_TOKENS = 15

IDF_SENTINEL = -1.0


# ---------------------------------------------------------------------------
# derived job flag (Q1 stand-in)
# ---------------------------------------------------------------------------

def vectorized_flag(doc_id: str | Column = "doc_id") -> Column:
    """Deterministic tri-state job flag: doc_id%3 -> 0:true 1:false 2:NULL."""
    c = F.col(doc_id) if isinstance(doc_id, str) else doc_id
    return (
        F.when(c % 3 == 0, F.lit(True))
        .when(c % 3 == 1, F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


VECTORIZED_FLAG_SQL = (
    "CASE WHEN doc_id % 3 = 0 THEN TRUE"
    " WHEN doc_id % 3 = 1 THEN FALSE"
    " ELSE NULL END"
)

# Q1: IS DISTINCT FROM TRUE (matches false AND NULL), never `<> TRUE`.
NEEDS_VECTOR_SQL = f"({VECTORIZED_FLAG_SQL}) IS DISTINCT FROM TRUE"


def needs_vector(doc_id: str | Column = "doc_id") -> Column:
    flag = vectorized_flag(doc_id)
    return (flag != F.lit(True)) | flag.isNull()


# ---------------------------------------------------------------------------
# token stream
# ---------------------------------------------------------------------------

def token_base(documents: DataFrame) -> DataFrame:
    """(doc_id, lang, toks, total_tokens) — the tokenize-once relation.

    Every downstream branch (term counts, totals, vocabulary, IDF
    occurrences, eligibility) derives from this single projection, so a
    multi-branch job tokenizes the corpus exactly once when the caller
    persists it — at 100 TB the tokenizer pass dominates, so running it
    2-5x for one logical query is the difference that matters.

    The scan is rebalanced across cores first: the tokenizer is the
    CPU-expensive narrow stage, and a single-split input would otherwise
    pin it to one core (sources.spread)."""
    return spread(documents).select(
        "doc_id", "lang", T.tokens("text").alias("toks")
    ).withColumn("total_tokens", F.size("toks"))


def doc_tokens(documents: DataFrame) -> DataFrame:
    """(doc_id, word) — one row per token occurrence (Q5 tokenizer)."""
    return documents.select(
        "doc_id", F.explode(T.tokens("text")).alias("word")
    )


def term_counts(documents: DataFrame) -> DataFrame:
    """(doc_id, word, cnt) — per-doc term counts (A3, worker.py:42-46).
    This is the map-side-combinable aggregation that shrinks the token
    stream before any join."""
    return doc_tokens(documents).groupBy("doc_id", "word").agg(
        F.count("*").alias("cnt")
    )


def term_frequency(documents: DataFrame, base: DataFrame | None = None) -> DataFrame:
    """(doc_id, word, cnt, total_tokens, tf) — tf = cnt / total occurrences
    including repeats (A4, worker.py:49-52).

    total_tokens rides THROUGH the explode as an extra grouping key
    (functionally dependent on doc_id, so the group cardinality is
    unchanged): the per-(doc,word) count and the per-doc total come out of
    ONE map-side-combinable shuffle — no counts⋈totals join, no second
    exchange. 8 bytes more per shuffle row buys a whole join stage."""
    if base is None:
        base = persist_tracked(token_base(documents))
    return (
        base.select("doc_id", "total_tokens", F.explode("toks").alias("word"))
        .groupBy("doc_id", "word", "total_tokens")
        .agg(F.count("*").alias("cnt"))
        .select(
            "doc_id",
            "word",
            "cnt",
            "total_tokens",
            F.when(
                F.col("total_tokens") > 0,
                F.col("cnt").cast("double") / F.col("total_tokens"),
            ).otherwise(F.lit(0.0)).alias("tf"),
        )
    )


TOKENS_SQL = (
    "SELECT doc_id, unnest({toks}) AS word FROM documents"
).format(toks=T.tokens_sql("text"))

TERM_COUNTS_SQL = (
    f"SELECT doc_id, word, count(*) AS cnt FROM ({TOKENS_SQL}) GROUP BY doc_id, word"
)

TOTALS_SQL = (
    "SELECT doc_id, {n} AS total_tokens FROM documents"
).format(n=T.token_count_sql("text"))

TERM_FREQUENCY_SQL = f"""
SELECT tc.doc_id, tc.word, tc.cnt, tot.total_tokens,
       CASE WHEN tot.total_tokens > 0
            THEN CAST(tc.cnt AS DOUBLE) / tot.total_tokens
            ELSE 0.0 END AS tf
FROM ({TERM_COUNTS_SQL}) tc
JOIN ({TOTALS_SQL}) tot USING (doc_id)
"""


# ---------------------------------------------------------------------------
# vocabulary (the word-vectors dimension table, enter_wordvecs.py analog)
# ---------------------------------------------------------------------------

def vocabulary(documents: DataFrame, base: DataFrame | None = None) -> DataFrame:
    """(word) — distinct corpus words passing the length gate
    (enter_wordvecs.py:34-37) UNION dictionary extras never seen in the
    corpus (fastText vocab ⊃ corpus vocab)."""
    spark = documents.sparkSession
    src = base if base is not None else token_base(documents)
    corpus_words = (
        src.select(F.explode("toks").alias("word"))
        .where(F.length("word") >= MIN_WORD_LEN)
        .distinct()
    )
    return corpus_words.unionByName(_dictionary_extras(spark)).distinct()


def _dictionary_extras(spark: SparkSession) -> DataFrame:
    """(word) — DICTIONARY_EXTRAS as a literal relation. Every call builds
    the same plan, so a relation persisted over it by one call is a cache
    hit for the next (createDataFrame makes a new LogicalRDD leaf per
    call, which never matches an earlier cache entry)."""
    return spark.range(1).select(
        F.explode(F.array(*(F.lit(w) for w in DICTIONARY_EXTRAS))).alias("word")
    )


def _extras_values_sql() -> str:
    return ", ".join(f"('{w}')" for w in DICTIONARY_EXTRAS)


VOCABULARY_SQL = f"""
SELECT DISTINCT word FROM (
  SELECT word FROM ({TOKENS_SQL}) WHERE length(word) >= {MIN_WORD_LEN}
  UNION ALL
  SELECT * FROM (VALUES {_extras_values_sql()}) extras(word)
)
"""


# ---------------------------------------------------------------------------
# IDF job (calculate_idf_scores.py redesign, SURVEY.md §3.2)
# ---------------------------------------------------------------------------

def eligible_docs(documents: DataFrame, lang: str) -> DataFrame:
    """Docs with >= ELIGIBLE_MIN_TOKENS tokens of the target language —
    the $elemMatch eligibility filter (calculate_idf_scores.py:31)."""
    return documents.where(
        (F.col("lang") == lang) & (T.token_count("text") >= ELIGIBLE_MIN_TOKENS)
    )


def idf_table(
    documents: DataFrame, lang: str, base: DataFrame | None = None
) -> DataFrame:
    """(word, occurrences, idf) for every vocabulary word.

    occurrences = TOTAL occurrences across eligible docs (Q2 — collection
    frequency, calculate_idf_scores.py:45-50); idf = log10(N/occ) with
    sentinel −1 on occ=0, then global-min replacement of every idf ≤ 0
    (Q3, calculate_idf_scores.py:74-77). The global min (computed over
    sentinel-INCLUDED values — preserve the code's behavior, not the
    comment's intent) is applied via a broadcast cross join of the 1-row
    aggregate: unlike an unpartitioned window, this keeps the vocab relation
    fully parallel at 100 TB vocab sizes.
    """
    spark = documents.sparkSession
    if base is None:
        base = persist_tracked(token_base(documents))
    elig = (
        (F.col("lang") == lang)
        & (F.col("total_tokens") >= ELIGIBLE_MIN_TOKENS)
    )
    # ONE word-keyed shuffle computes vocabulary membership, eligible-doc
    # occurrences, the zero-occurrence extras, AND the eligible-doc count
    # together. The stream unioned into the groupBy carries three row
    # kinds, discriminated by a boolean marker column (never by a magic
    # token value — arbitrary text can contain anything):
    #   (word, marker=false, elig)  one per token passing the vocab length
    #                               gate (a vocab word's count is
    #                               unaffected by dropping sub-length
    #                               tokens, and the filter shrinks the
    #                               exchange by the Zipf head);
    #   (extra, marker=false, false) one per dictionary extra — merges
    #                               with corpus rows of the same word, so
    #                               extras-in-corpus keep exact counts and
    #                               absent extras surface with 0;
    #   (null, marker=true, elig)   one per document — the marker group's
    #                               conditional count IS TOTAL_POSTS
    #                               (calculate_idf_scores.py:74), read
    #                               from the same shuffle instead of a
    #                               second pass over the corpus.
    toks = base.select(
        F.explode("toks").alias("word"),
        F.lit(False).alias("marker"),
        elig.alias("elig"),
    ).where(
        (F.length("word") >= MIN_WORD_LEN)
        | F.col("word").isin(*DICTIONARY_EXTRAS)
    )
    extras = _dictionary_extras(spark).select(
        "word", F.lit(False).alias("marker"), F.lit(False).alias("elig")
    )
    doc_markers = base.select(
        F.lit(None).cast("string").alias("word"),
        F.lit(True).alias("marker"),
        elig.alias("elig"),
    )
    # stats is persisted (vocab-sized: one row per word + one marker row):
    # it feeds BOTH the 1-row glob broadcast and the vocab_occ output —
    # without the persist the whole explode+union+groupBy subtree runs
    # twice as two CONCURRENT jobs (r12 stage profile: 64- and 96-task
    # stages overlapping, 9.3 s/9.9 s task time at ~1.5 s CPU — threads
    # blocked contending for the token_base cache), and the corpus cache
    # is read three times instead of twice-once.
    stats = persist_tracked(
        toks.unionByName(extras)
        .unionByName(doc_markers)
        .groupBy("word", "marker")
        .agg(F.sum(F.when(F.col("elig"), 1).otherwise(0)).alias("occurrences"))
    )
    # BOTH broadcast scalars the idf transform needs come from ONE 1-row
    # aggregate over the same stats relation (previously two separate
    # broadcast-subquery passes, each re-running the word shuffle):
    #   n_docs       = the marker group's conditional count;
    #   min(idf_raw) = log10(n_docs / max_occ) by monotonicity of
    #                  log10(n/occ) in occ, floored at the -1 sentinel iff
    #                  any vocab word has zero occurrences — bit-identical
    #                  to the old explicit min over per-word idf_raw
    #                  (the minimizing word's value is the same double op).
    # F.least skips NULLs, so each guard contributes only when defined;
    # agg (not a bare filter) keeps exactly one row even on an empty
    # corpus, where the extras must still flow through the sentinel path.
    not_marker = ~F.col("marker")
    glob = stats.agg(
        F.coalesce(
            F.sum(F.when(F.col("marker"), F.col("occurrences"))), F.lit(0)
        ).cast("double").alias("n_docs"),
        F.max(F.when(not_marker, F.col("occurrences"))).alias("max_occ"),
        F.max(
            F.when(not_marker & (F.col("occurrences") == 0), 1).otherwise(0)
        ).alias("has_zero_occ"),
    ).select(
        "n_docs",
        F.least(
            F.when(F.col("has_zero_occ") == 1, F.lit(IDF_SENTINEL)),
            F.when(
                F.col("max_occ") > 0,
                F.log10(F.col("n_docs") / F.col("max_occ")),
            ),
        ).alias("min_idf_raw"),
    )
    vocab_occ = stats.where(not_marker).select("word", "occurrences")
    return vocab_occ.crossJoin(F.broadcast(glob)).select(
        "word",
        "occurrences",
        F.when(
            F.col("occurrences") > 0,
            F.when(
                F.log10(F.col("n_docs") / F.col("occurrences")) > 0,
                F.log10(F.col("n_docs") / F.col("occurrences")),
            ).otherwise(F.col("min_idf_raw")),
        )
        .otherwise(F.col("min_idf_raw"))
        .alias("idf"),
    )


def eligible_docs_sql(lang: str) -> str:
    return (
        f"SELECT * FROM documents WHERE lang = '{lang}'"
        f" AND {T.token_count_sql('text')} >= {ELIGIBLE_MIN_TOKENS}"
    )


def idf_table_sql(lang: str) -> str:
    """DuckDB twin of :func:`idf_table` (N inlined as a scalar subquery)."""
    eligible = eligible_docs_sql(lang)
    return f"""
WITH eligible AS ({eligible}),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM eligible),
tok AS (SELECT doc_id, unnest({T.tokens_sql('text')}) AS word FROM eligible),
occ AS (SELECT word, count(*) AS occurrences FROM tok GROUP BY word),
vocab AS ({VOCABULARY_SQL}),
raw AS (
  SELECT v.word,
         COALESCE(o.occurrences, 0) AS occurrences,
         CASE WHEN COALESCE(o.occurrences, 0) > 0
              THEN log10((SELECT n_docs FROM n) / COALESCE(o.occurrences, 0))
              ELSE {IDF_SENTINEL} END AS idf_raw
  FROM vocab v LEFT JOIN occ o USING (word)
)
SELECT word, occurrences,
       CASE WHEN idf_raw > 0 THEN idf_raw
            ELSE min(idf_raw) OVER () END AS idf
FROM raw
"""


# ---------------------------------------------------------------------------
# word-vector lookup table (vocab ⋈ embeddings via portable hash routing)
# ---------------------------------------------------------------------------

def word_vectors(
    documents: DataFrame,
    embeddings: DataFrame,
    lang: str,
    base: DataFrame | None = None,
) -> DataFrame:
    """(word, idf, vec_id, embedding) — the engine's
    ``fasttext.word-vectors-{lang}`` table (worker.py:57 projection
    {vector:1, idf:1}). vec_id = portable_hash(word) % |embeddings|, with
    |embeddings| as a broadcast 1-row aggregate (no driver .count())."""
    n_df = embeddings.agg(F.count("*").alias("n_vecs"))
    idf = idf_table(documents, lang, base=base)
    keyed = (
        idf.crossJoin(F.broadcast(n_df))
        .withColumn("vec_id", T.char_hash("word") % F.col("n_vecs"))
        .drop("n_vecs")
    )
    return keyed.join(F.broadcast(embeddings.select("vec_id", "embedding")), "vec_id")


def word_vectors_sql(lang: str) -> str:
    return f"""
SELECT i.word, i.idf, e.vec_id, e.embedding
FROM ({idf_table_sql(lang)}) i
JOIN embeddings e
  ON e.vec_id = {T.word_bucket_sql('i.word', '(SELECT count(*) FROM embeddings)')}
"""


# ---------------------------------------------------------------------------
# doc vectors — the flagship (worker.py:76-94 redesign, SURVEY.md §3.1)
# ---------------------------------------------------------------------------

def doc_vectors(
    documents: DataFrame,
    embeddings: DataFrame,
    lang: str = "en",
    apply_flag_filter: bool = True,
    round_digits: int = 6,
) -> DataFrame:
    """(doc_id, dim, component) — TF-IDF-weighted document vectors in long
    (oracle-checkable) form: component = Σ_w tf_w · idf_w · vec_w[dim]
    (worker.py:77-84).

    Plan shape, chosen for 100 TB (see module docstring):
      1. candidate docs: lang + Q1 flag filter — both pushed to the scan;
      2. ONE doc_id repartition of the candidate token-ARRAY relation —
         hash partitioning on doc_id satisfies the clustered distribution
         of EVERY downstream aggregation key set ((doc,word,total),
         (doc,vec), (doc,dim): doc_id is a subset of each), so steps 3-6
         run with ZERO further exchanges; the fact side crosses the wire
         exactly once, as compact arrays (plan-asserted in
         tests/test_plans.py);
      3. per-(doc,word) tf (exchange-free groupBy, exploded post-shuffle);
      4. broadcast-join the word->(idf, vec_id) table (vocab-sized);
      5. pre-aggregate weight = Σ tf·idf per (doc_id, vec_id) — hash
         collisions of the word routing sum BEFORE the dim expansion;
      6. join embeddings on vec_id, posexplode to (dim, val), final
         groupBy (doc_id, dim) — the row-multiplying step never shuffles.

    The whole plan hangs off ONE persisted token_base — tf, totals,
    vocabulary, IDF occurrences, and eligibility all read the cached
    tokenize-once relation instead of re-scanning + re-splitting the corpus
    per branch.
    """
    base = persist_tracked(token_base(documents))
    docs = base.where(F.col("lang") == lang)
    if apply_flag_filter:
        docs = docs.where(needs_vector("doc_id"))
    docs = docs.repartition("doc_id")

    tf = term_frequency(documents, base=docs)
    wv = word_vectors(documents, embeddings, lang, base=base).select(
        "word", "idf", "vec_id"
    )
    weights = (
        tf.join(F.broadcast(wv), "word")
        .groupBy("doc_id", "vec_id")
        .agg(F.sum(F.col("tf") * F.col("idf")).alias("weight"))
    )
    exploded = (
        weights.join(F.broadcast(embeddings.select("vec_id", "embedding")), "vec_id")
        .select("doc_id", "weight", F.posexplode("embedding").alias("dim", "val"))
    )
    return (
        exploded.groupBy("doc_id", "dim")
        .agg(
            F.round(F.sum(F.col("weight") * F.col("val").cast("double")), round_digits)
            .alias("component")
        )
    )


def doc_vectors_sql(
    lang: str = "en", apply_flag_filter: bool = True, round_digits: int = 6
) -> str:
    flag = f"AND {NEEDS_VECTOR_SQL}" if apply_flag_filter else ""
    return f"""
WITH candidates AS (
  SELECT * FROM documents WHERE lang = '{lang}' {flag}
),
tok AS (SELECT doc_id, unnest({T.tokens_sql('text')}) AS word FROM candidates),
tc AS (SELECT doc_id, word, count(*) AS cnt FROM tok GROUP BY doc_id, word),
tot AS (SELECT doc_id, {T.token_count_sql('text')} AS total_tokens FROM candidates),
tf AS (
  SELECT tc.doc_id, tc.word,
         CASE WHEN tot.total_tokens > 0
              THEN CAST(tc.cnt AS DOUBLE) / tot.total_tokens ELSE 0.0 END AS tf
  FROM tc JOIN tot USING (doc_id)
),
idf AS ({idf_table_sql(lang)}),
wv AS (
  SELECT i.word, i.idf,
         {T.word_bucket_sql('i.word', '(SELECT count(*) FROM embeddings)')} AS vec_id
  FROM idf i
),
weights AS (
  SELECT tf.doc_id, wv.vec_id, sum(tf.tf * wv.idf) AS weight
  FROM tf JOIN wv USING (word)
  GROUP BY tf.doc_id, wv.vec_id
),
expanded AS (
  SELECT w.doc_id,
         generate_subscripts(e.embedding, 1) - 1 AS dim,
         w.weight * CAST(unnest(e.embedding) AS DOUBLE) AS term
  FROM weights w JOIN embeddings e USING (vec_id)
)
SELECT doc_id, dim, round(sum(term), {round_digits}) AS component
FROM expanded
GROUP BY doc_id, dim
"""


# ---------------------------------------------------------------------------
# doc profile — known_tokens_ratio + NULL-vector marker (Q4/Q8)
# ---------------------------------------------------------------------------

def doc_profile(
    documents: DataFrame,
    lang: str = "en",
    apply_flag_filter: bool = True,
    round_digits: int = 6,
) -> DataFrame:
    """(doc_id, known_tokens, total_tokens, known_tokens_ratio, has_vector).

    numerator = DISTINCT vocab tokens present (worker.py:84 — one bump per
    TF key); denominator = TOTAL occurrences incl. OOV (worker.py:52);
    guarded division (worker.py:91); has_vector=false marks the NULL-vector
    docs of Q8 (known_tokens = 0 -> worker.py:90 writes None).
    """
    base = persist_tracked(token_base(documents))
    docs = base.where(F.col("lang") == lang)
    if apply_flag_filter:
        docs = docs.where(needs_vector("doc_id"))
    # one doc_id exchange serves the knowns aggregation AND the
    # totals⋈knowns join (same subset-partitioning argument as
    # doc_vectors' fact side)
    docs = docs.repartition("doc_id")
    totals = docs.select("doc_id", "total_tokens")
    vocab = vocabulary(documents, base=base)
    knowns = (
        docs.select("doc_id", F.explode("toks").alias("word"))
        .join(F.broadcast(vocab), "word", "left_semi")
        .groupBy("doc_id")
        .agg(F.count_distinct("word").alias("known_tokens"))
    )
    return (
        totals.join(knowns, "doc_id", "left")
        .na.fill({"known_tokens": 0})
        .select(
            "doc_id",
            "known_tokens",
            "total_tokens",
            F.round(
                F.when(
                    F.col("total_tokens") > 0,
                    F.col("known_tokens").cast("double") / F.col("total_tokens"),
                ).otherwise(F.lit(0.0)),
                round_digits,
            ).alias("known_tokens_ratio"),
            (F.col("known_tokens") > 0).alias("has_vector"),
        )
    )


def doc_profile_sql(
    lang: str = "en", apply_flag_filter: bool = True, round_digits: int = 6
) -> str:
    flag = f"AND {NEEDS_VECTOR_SQL}" if apply_flag_filter else ""
    return f"""
WITH candidates AS (
  SELECT * FROM documents WHERE lang = '{lang}' {flag}
),
tot AS (SELECT doc_id, {T.token_count_sql('text')} AS total_tokens FROM candidates),
tok AS (SELECT doc_id, unnest({T.tokens_sql('text')}) AS word FROM candidates),
vocab AS ({VOCABULARY_SQL}),
known AS (
  SELECT doc_id, count(DISTINCT word) AS known_tokens
  FROM tok WHERE word IN (SELECT word FROM vocab)
  GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(k.known_tokens, 0) AS known_tokens,
       t.total_tokens,
       round(CASE WHEN t.total_tokens > 0
                  THEN CAST(COALESCE(k.known_tokens, 0) AS DOUBLE) / t.total_tokens
                  ELSE 0.0 END, {round_digits}) AS known_tokens_ratio,
       COALESCE(k.known_tokens, 0) > 0 AS has_vector
FROM tot t LEFT JOIN known k ON t.doc_id = k.doc_id
"""
