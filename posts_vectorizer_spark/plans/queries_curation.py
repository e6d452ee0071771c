"""Training-data curation wave 4 (SURVEY.md §2.12 extensions): benchmark
decontamination, PII redaction, sequence packing, per-column table
profiling, domain-mixture reweighting, and unigram-LM quality scoring —
the remaining pipeline stages a 100 TB pretraining-data build runs between
raw scrape and tokenized shards.

All [Q]: every query has an exact DuckDB twin built from the portable
expression helpers, so the differential oracle checks real values.

Scale notes per operator (see SCALE.md): decontamination joins 8-byte
shingle hashes against a broadcast-sized eval-set shingle table (the eval
benchmark is always tiny vs the corpus); redaction and packing are per-row /
per-window-partition work with no global state; profiling is one
full-scan aggregate emitting #columns rows; mixture weights reduce to one
row per domain before any arithmetic; the unigram LM is vocab-sized and
broadcast back, the same shape as the TF-IDF idf_table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions import text as T
from ..operators.dedup import _doc_shingles, _doc_shingles_sql
from ..sources import load_table, spread
from .queries_text import word_counts
from .registry import register


# ---------------------------------------------------------------------------
# benchmark decontamination (eval-set n-gram overlap)
# ---------------------------------------------------------------------------

_DECON_EVAL_MOD = 41       # doc_id % 41 == 0 -> held-out "benchmark" docs
_DECON_THRESHOLD = 0.5     # flag docs sharing >= 50% of their shingles


@register(
    "dedup_decontaminate",
    oracle=f"""
WITH sh AS ({_doc_shingles_sql()}),
eval_sh AS (
  SELECT DISTINCT sh FROM sh WHERE doc_id % {_DECON_EVAL_MOD} = 0
),
train AS (SELECT * FROM sh WHERE doc_id % {_DECON_EVAL_MOD} <> 0),
hits AS (
  SELECT t.doc_id,
         count(*) AS n_ngrams,
         count(e.sh) AS n_hit
  FROM train t LEFT JOIN eval_sh e ON t.sh = e.sh
  GROUP BY t.doc_id
)
SELECT doc_id, n_ngrams, n_hit,
       CAST(round(CAST(n_hit AS DOUBLE) / n_ngrams, 6) AS DOUBLE)
         AS overlap_frac,
       CAST(n_hit AS DOUBLE) / n_ngrams >= {_DECON_THRESHOLD} AS contaminated
FROM hits
""",
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents whose token
    n-gram (shingle) sets overlap a held-out eval set — the standard
    pre-training hygiene step that removes test-set leakage before
    training. Eval membership here is the deterministic
    ``doc_id % {mod} == 0`` subset standing in for the benchmark corpus.

    Scale shape: both sides reduce to distinct int64 shingle hashes (the
    MinHash pipeline's `_doc_shingles` pass — text is never shuffled). The
    eval side is benchmark-sized (thousands of docs, not billions), so its
    distinct-shingle table broadcasts and the overlap count is a broadcast
    left join + per-doc hash aggregate: one shuffle keyed by doc_id, no
    candidate-pair blowup. At 100 TB the cost is the corpus shingle scan.
    """
    from ..cache import persist_tracked

    # r12: sh feeds both the eval side and the train side — persist so
    # the corpus is shingled once per run, not twice (guide §7.2).
    sh = persist_tracked(
        _doc_shingles(load_table(spark, sf_dir, "documents"))
    )
    eval_sh = (
        sh.where(F.col("doc_id") % _DECON_EVAL_MOD == 0)
        .select("sh")
        .distinct()
    )
    train = sh.where(F.col("doc_id") % _DECON_EVAL_MOD != 0)
    hits = (
        train.join(
            F.broadcast(eval_sh.withColumn("hit", F.lit(1))), "sh", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_ngrams"),
            F.count("hit").alias("n_hit"),
        )
    )
    frac = F.col("n_hit").cast("double") / F.col("n_ngrams")
    return hits.select(
        "doc_id",
        "n_ngrams",
        "n_hit",
        F.round(frac, 6).cast("double").alias("overlap_frac"),
        (frac >= _DECON_THRESHOLD).alias("contaminated"),
    )


dedup_decontaminate.__doc__ = dedup_decontaminate.__doc__.format(
    mod=_DECON_EVAL_MOD
)


# ---------------------------------------------------------------------------
# PII redaction (regex scrub before training)
# ---------------------------------------------------------------------------

# Both engines compile these identically (plain character classes — the
# portable subset of Java regex and RE2).
_EMAIL_RE = "[a-z0-9.]+@[a-z][a-z.]+"
_NUM_RE = "[0-9]+"
_REDACTED_SQL = f"regexp_replace(no_email, '{_NUM_RE}', '<NUM>', 'g')"


@register(
    "text_redact_pii",
    oracle=f"""
WITH synth AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example ref ' || CAST(doc_id * 7 + 13 AS VARCHAR)
           AS raw
  FROM documents
),
red AS (
  SELECT doc_id, raw,
         regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g') AS no_email
  FROM synth
)
SELECT doc_id,
       CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS INTEGER)
         AS n_emails,
       CAST(len(regexp_extract_all(no_email, '{_NUM_RE}')) AS INTEGER)
         AS n_numbers,
       {T.char_hash_sql(_REDACTED_SQL)} AS redacted_fp
FROM red
""",
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: scrub email addresses and digit runs from document
    text before it can enter a training shard, reporting per-doc redaction
    counts and a fingerprint of the scrubbed bytes (so the oracle verifies
    the actual redacted output, not just the counts).

    The fixture corpus contains no organic PII, so each doc is first
    extended with a deterministic synthetic contact line derived from
    doc_id — the regexes then have real matches to find, and both engines
    must scrub the same spans to agree on ``redacted_fp``.

    Scale shape: pure per-row regex work — no shuffle, no state, stays in
    whole-stage codegen (Spark's regexp_* are JVM built-ins, not UDFs).
    At 100 TB this is scan-bound and embarrassingly parallel; the regex
    set is the cost knob, not the plan.
    """
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example ref "),
        (F.col("doc_id") * 7 + 13).cast("string"),
    )
    synth = docs.select("doc_id", raw.alias("raw"))
    no_email = F.regexp_replace("raw", _EMAIL_RE, "<EMAIL>")
    red = synth.select("doc_id", "raw", no_email.alias("no_email"))
    return red.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(raw, '{_EMAIL_RE}', 0)"))
        .cast("int")
        .alias("n_emails"),
        F.size(F.expr(f"regexp_extract_all(no_email, '{_NUM_RE}', 0)"))
        .cast("int")
        .alias("n_numbers"),
        T.char_hash(F.regexp_replace("no_email", _NUM_RE, "<NUM>")).alias(
            "redacted_fp"
        ),
    )


# ---------------------------------------------------------------------------
# sequence packing (context-window shard assembly)
# ---------------------------------------------------------------------------

_PACK_BUDGET = 256  # tokens per context window
_PACK_SHARDS = 8    # parallel packing streams


@register(
    "text_pack_sequences",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         doc_id % {_PACK_SHARDS} AS shard,
         {T.token_count_sql('text')} AS n_tokens
  FROM documents
),
placed AS (
  SELECT shard, doc_id, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum
  FROM toks
)
SELECT shard,
       CAST(floor(CAST(cum - n_tokens AS DOUBLE) / {_PACK_BUDGET}) AS BIGINT)
         AS pack_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
       CAST(round(CAST(sum(n_tokens) AS DOUBLE) / {_PACK_BUDGET}, 6)
            AS DOUBLE) AS fill_ratio
FROM placed
GROUP BY shard, pack_id
""",
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed token-budget context
    windows ("packs") — the shard-assembly step that turns a curated
    corpus into training batches. Each of {shards} deterministic shards
    packs its documents in doc_id order; a doc starts in the pack where
    its running token offset lands (offset-bin packing — streaming-order
    greedy, no global sort).

    Scale shape: one window over (shard, doc_id) — the cumulative sum is
    per-shard sequential by construction (packing IS an ordered fold), and
    shard count is the parallelism dial: 100 TB runs thousands of shards,
    each a bounded partition. The follow-up aggregate shares the shard
    key, so AQE coalesces without a second shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        T.token_count("text").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = toks.withColumn("cum", F.sum("n_tokens").over(w))
    pack_id = F.floor(
        (F.col("cum") - F.col("n_tokens")).cast("double") / _PACK_BUDGET
    )
    return (
        placed.select("shard", pack_id.alias("pack_id"), "n_tokens")
        .groupBy("shard", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
            F.round(
                F.sum("n_tokens").cast("double") / _PACK_BUDGET, 6
            )
            .cast("double")
            .alias("fill_ratio"),
        )
    )


text_pack_sequences.__doc__ = text_pack_sequences.__doc__.format(
    shards=_PACK_SHARDS
)


# ---------------------------------------------------------------------------
# per-column table profiling (dataset stats / validation)
# ---------------------------------------------------------------------------

_PROFILE_NUM_COLS = ("l_quantity", "l_extendedprice", "l_discount")
_PROFILE_STR_COLS = ("l_returnflag", "l_linestatus")


@register(
    "rel_table_profile",
    oracle=" UNION ALL ".join(
        [
            f"""
SELECT '{c}' AS col_name,
       count(*) AS n,
       count(*) - count({c}) AS n_null,
       count(DISTINCT {c}) AS n_distinct,
       CAST(round(min({c}), 6) AS DOUBLE) AS min_num,
       CAST(round(max({c}), 6) AS DOUBLE) AS max_num,
       CAST(NULL AS VARCHAR) AS min_str,
       CAST(NULL AS VARCHAR) AS max_str
FROM lineitem"""
            for c in _PROFILE_NUM_COLS
        ]
        + [
            f"""
SELECT '{c}' AS col_name,
       count(*) AS n,
       count(*) - count({c}) AS n_null,
       count(DISTINCT {c}) AS n_distinct,
       CAST(NULL AS DOUBLE) AS min_num,
       CAST(NULL AS DOUBLE) AS max_num,
       min({c}) AS min_str,
       max({c}) AS max_str
FROM lineitem"""
            for c in _PROFILE_STR_COLS
        ]
    ),
)
def rel_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column dataset profile — row count, null count, distinct count,
    min/max per column in one pass — the ANALYZE/validation step a data
    pipeline runs on every new snapshot to catch schema drift and silent
    corruption before training consumes it.

    Scale shape: ALL columns profile in a single full-scan aggregate (one
    job, one shuffle of partial aggregates — not one scan per column like
    the naive UNION ALL the oracle spells out); the result is #columns
    rows. count(DISTINCT a, b, c, ...) in one agg rewrites to expand +
    partial aggs under Catalyst — still one scan. At 100 TB swap
    approx_count_distinct for the exact distinct to drop the expand;
    the exact form is kept here because the oracle checks exact values.
    """
    # r13: the 5 exact count_distincts rewrite to a 6-way EXPAND before
    # the partial aggregate — 3.6M expanded rows that ran on the scan's
    # 3 input splits (5.4 s on 3 tasks, 29 cores idle — r13 stage
    # profile). The gated rebalance spreads the expand across all cores;
    # the partial distinct-agg still collapses before the exchange.
    li = spread(load_table(spark, sf_dir, "lineitem"))
    aggs = []
    for c in _PROFILE_NUM_COLS + _PROFILE_STR_COLS:
        aggs += [
            F.count("*").alias(f"{c}__n"),
            (F.count("*") - F.count(c)).alias(f"{c}__n_null"),
            F.count_distinct(F.col(c)).alias(f"{c}__n_distinct"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
        ]
    one = li.agg(*aggs)
    rows = []
    for c in _PROFILE_NUM_COLS:
        rows.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"{c}__n").alias("n"),
                F.col(f"{c}__n_null").alias("n_null"),
                F.col(f"{c}__n_distinct").alias("n_distinct"),
                F.round(F.col(f"{c}__min"), 6).cast("double").alias("min_num"),
                F.round(F.col(f"{c}__max"), 6).cast("double").alias("max_num"),
                F.lit(None).cast("string").alias("min_str"),
                F.lit(None).cast("string").alias("max_str"),
            )
        )
    for c in _PROFILE_STR_COLS:
        rows.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"{c}__n").alias("n"),
                F.col(f"{c}__n_null").alias("n_null"),
                F.col(f"{c}__n_distinct").alias("n_distinct"),
                F.lit(None).cast("double").alias("min_num"),
                F.lit(None).cast("double").alias("max_num"),
                F.col(f"{c}__min").alias("min_str"),
                F.col(f"{c}__max").alias("max_str"),
            )
        )
    return one.select(
        F.explode(F.array(*rows)).alias("p")
    ).select("p.*")


# ---------------------------------------------------------------------------
# domain-mixture reweighting (temperature-sampled data mix)
# ---------------------------------------------------------------------------

_MIX_ALPHA_SQRT = True  # target share ∝ sqrt(actual token mass)


@register(
    "text_domain_mix_weights",
    oracle=f"""
WITH mass AS (
  SELECT source,
         count(*) AS n_docs,
         CAST(sum({T.token_count_sql('text')}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
shares AS (
  SELECT source, n_docs, n_tokens,
         CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER () AS actual_share,
         sqrt(CAST(n_tokens AS DOUBLE)) / sum(sqrt(CAST(n_tokens AS DOUBLE)))
           OVER () AS target_share
  FROM mass
)
SELECT source, n_docs, n_tokens,
       CAST(round(actual_share, 6) AS DOUBLE) AS actual_share,
       CAST(round(target_share, 6) AS DOUBLE) AS target_share,
       CAST(round(target_share / actual_share, 6) AS DOUBLE)
         AS sample_weight
FROM shares
""",
)
def text_domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting: per-source sampling weights that move
    the corpus from its natural token distribution toward a
    temperature-flattened target (share ∝ sqrt(token mass), the α=0.5
    multilingual/multi-domain sampling rule) — the knob a pretraining mix
    uses to upsample rare domains without epochs of duplication.

    Scale shape: the corpus reduces to ONE row per domain (map-side
    combinable token-count sum) before any share arithmetic; the
    unpartitioned windows then run over #domains rows — dozens, not
    billions — so the "global" window is a deliberate non-issue, unlike a
    window over raw rows. Joining the weights back onto documents for the
    actual resample is a broadcast join on source.
    """
    docs = load_table(spark, sf_dir, "documents")
    mass = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(T.token_count("text")).cast("bigint").alias("n_tokens"),
    )
    w = Window.partitionBy()
    actual = F.col("n_tokens").cast("double") / F.sum(
        F.col("n_tokens").cast("double")
    ).over(w)
    target = F.sqrt(F.col("n_tokens").cast("double")) / F.sum(
        F.sqrt(F.col("n_tokens").cast("double"))
    ).over(w)
    shares = mass.select(
        "source", "n_docs", "n_tokens",
        actual.alias("actual_share"), target.alias("target_share"),
    )
    return shares.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("actual_share", 6).cast("double").alias("actual_share"),
        F.round("target_share", 6).cast("double").alias("target_share"),
        F.round(F.col("target_share") / F.col("actual_share"), 6)
        .cast("double")
        .alias("sample_weight"),
    )


# ---------------------------------------------------------------------------
# unigram-LM document scoring (perplexity-style quality filter)
# ---------------------------------------------------------------------------

# Per-doc scored form INCLUDING the exact DECIMAL numerator (lp_sum) —
# consumed by text_perplexity_buckets, whose tier-level means must divide
# exact sums rather than re-round per-doc quotient doubles (the r4/sf0.1
# rounding-boundary lesson; a round(avg_logprob, 9) variant hash-
# mismatched at sf0.1 in r9 development).
_UNIGRAM_SCORED_SQL = f"""
WITH doc_toks AS (
  SELECT doc_id, unnest({T.tokens_sql('text')}) AS word FROM documents
),
lm AS (
  SELECT word, count(*) AS cnt FROM doc_toks GROUP BY word
),
norm AS (
  SELECT CAST(sum(cnt) AS DOUBLE) AS total,
         CAST(count(*) AS DOUBLE) AS vocab
  FROM lm
),
dc AS (
  SELECT doc_id, word, count(*) AS dcnt FROM doc_toks GROUP BY doc_id, word
),
scored AS (
  SELECT dc.doc_id,
         dc.dcnt,
         CAST(round(
           dc.dcnt * log10((lm.cnt + 1) / (norm.total + norm.vocab)), 6)
           AS DECIMAL(18,6)) AS lp
  FROM dc JOIN lm USING (word) CROSS JOIN norm
)
SELECT doc_id,
       CAST(sum(dcnt) AS BIGINT) AS n_tokens,
       CAST(sum(lp) AS DECIMAL(28,6)) AS lp_sum,
       -- raw quotient, not rounded: the exact-decimal numerator makes the
       -- division bit-identical; rounding it is not portable (quotients of
       -- a 1e-6-grid sum by small integers land ON rounding boundaries,
       -- where the engines' rounding algorithms disagree — sf0.1 lesson)
       CAST(sum(lp) AS DOUBLE) / sum(dcnt) AS avg_logprob
FROM scored GROUP BY doc_id
"""

_UNIGRAM_LP_SQL = (
    f"SELECT doc_id, n_tokens, avg_logprob FROM ({_UNIGRAM_SCORED_SQL})"
)


@register("text_unigram_logprob", oracle=_UNIGRAM_LP_SQL)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: fit an add-1-smoothed unigram LM on
    the corpus itself, then score each document by its mean per-token
    log10 probability — the cheap perplexity-style quality filter that
    flags gibberish / boilerplate (very low score) and degenerate
    repetition (very high score) before expensive model-based filtering.

    Scale shape: the LM is vocab-sized, reduced map-side and broadcast
    back onto the per-(doc, word) counts — the exact idf_table shape; the
    smoothing normalizer is a broadcast 1-row aggregate cross join, never
    a driver-side action. Per-doc sums add round-6 decimals so the
    aggregate is order-insensitive across partitions (float addition is
    not), keeping the value hash stable under any partitioning.
    """
    return unigram_scored(spark, sf_dir).select(
        "doc_id", "n_tokens", "avg_logprob"
    )


def unigram_lm(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(lm(word, cnt), norm(total, vocab)) fit on a corpus — the
    pinnable model state: the streaming gate drain computes this ONCE
    from the static corpus and scores every micro-batch against it."""
    doc_toks = docs.select(
        "doc_id", F.explode(T.tokens("text")).alias("word")
    )
    lm = doc_toks.groupBy("word").agg(F.count("*").alias("cnt"))
    norm = lm.agg(
        F.sum("cnt").cast("double").alias("total"),
        F.count("*").cast("double").alias("vocab"),
    )
    return lm, norm


def unigram_score_against(
    docs: DataFrame, lm: DataFrame, norm: DataFrame
) -> DataFrame:
    """Per-doc scores for ``docs`` under a GIVEN (possibly pinned) LM —
    identical math whether the LM came from the same corpus (the batch
    queries) or standing state (the streaming drain).

    The LM join is LEFT with cnt defaulting to 0: under a PINNED model,
    stream-time tokens absent from the training vocabulary must receive
    the add-1 smoothed unseen-word probability 1/(total+vocab), not
    vanish — an inner join undercounted n_tokens and dropped all-OOV
    docs from the verdict table entirely (r9 review finding; invisible
    to the batch oracles, whose LM is fit on the same corpus so no OOV
    exists and LEFT ≡ INNER)."""
    dc = (
        docs.select("doc_id", F.explode(T.tokens("text")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("dcnt"))
    )
    lp = F.round(
        F.col("dcnt")
        * F.log10(
            (F.coalesce(F.col("cnt"), F.lit(0)) + 1)
            / (F.col("total") + F.col("vocab"))
        ),
        6,
    ).cast("decimal(18,6)")
    scored = (
        dc.join(F.broadcast(lm), "word", "left")
        .crossJoin(F.broadcast(norm))
        .select("doc_id", "dcnt", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("dcnt").cast("bigint").alias("n_tokens"),
        F.sum("lp").cast("decimal(28,6)").alias("lp_sum"),
        (F.sum("lp").cast("double") / F.sum("dcnt"))
        .cast("double")
        .alias("avg_logprob"),
    )


def unigram_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc unigram-LM scores WITH the exact DECIMAL numerator
    (lp_sum) — text_unigram_logprob's pipeline, shared with
    text_perplexity_buckets whose tier means divide exact sums."""
    docs = load_table(spark, sf_dir, "documents")
    lm, norm = unigram_lm(docs)
    return unigram_score_against(docs, lm, norm)


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (hashed-bigram importance resampling)
# ---------------------------------------------------------------------------

_DSIR_B = 256          # hashed n-gram feature buckets
_DSIR_TARGET_MOD = 13  # doc_id % 13 == 0 -> the "target domain" sample
_DSIR_SB = 1_000_003   # bigram fold base (same regime as dedup.SHINGLE_B)


def _dsir_feats_sql() -> str:
    th = f"list_transform({T.tokens_sql('text')}, ds_t -> {T.char_hash_sql('ds_t')})"
    return f"""
SELECT doc_id,
       unnest(list_transform(
         generate_series(1, len(th) - 1),
         ds_i -> ((th[ds_i] * {_DSIR_SB} + th[ds_i + 1]) % {T.HASH_MOD})
                 % {_DSIR_B}
       )) AS b
FROM (SELECT doc_id, {th} AS th FROM documents)
WHERE len(th) >= 2
"""


@register(
    "text_dsir_weights",
    oracle=f"""
WITH feats AS ({_dsir_feats_sql()}),
dc AS (
  SELECT doc_id, doc_id % {_DSIR_TARGET_MOD} = 0 AS tgt, b, count(*) AS n
  FROM feats GROUP BY 1, 2, 3
),
spine AS (SELECT unnest(generate_series(0, {_DSIR_B - 1})) AS b),
cnt AS (
  SELECT s.b,
         CAST(coalesce(sum(CASE WHEN tgt THEN n ELSE 0 END), 0) AS DOUBLE)
           AS n_t,
         CAST(coalesce(sum(CASE WHEN tgt THEN 0 ELSE n END), 0) AS DOUBLE)
           AS n_s
  FROM spine s LEFT JOIN dc f ON f.b = s.b
  GROUP BY s.b
),
tot AS (SELECT sum(n_t) AS tot_t, sum(n_s) AS tot_s FROM cnt),
model AS (
  SELECT cnt.b,
         CAST(round(log10((cnt.n_t + 1) / (tot.tot_t + {_DSIR_B}))
                    - log10((cnt.n_s + 1) / (tot.tot_s + {_DSIR_B})), 6)
              AS DECIMAL(18,6)) AS llr
  FROM cnt CROSS JOIN tot
)
SELECT dc.doc_id,
       CAST(sum(dc.n) AS BIGINT) AS n_feats,
       -- raw quotient, not rounded (portability: see text_unigram_logprob)
       CAST(sum(dc.n * model.llr) AS DOUBLE) / sum(dc.n) AS avg_llr,
       CAST(sum(dc.n * model.llr) AS DOUBLE) / sum(dc.n) > 0 AS selected
FROM dc JOIN model USING (b)
GROUP BY dc.doc_id
""",
)
def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, public): fit add-1
    unigram models over HASHED BIGRAM features for a target-domain sample
    (``doc_id % {mod} == 0`` stands in for the target corpus) and for the
    rest, then score every document by its mean per-feature log-likelihood
    ratio — docs whose n-gram profile looks target-like score > 0 and are
    ``selected`` for resampling. The standard cheap domain-targeting
    filter run before training-data selection.

    Scale shape: ONE corpus tokenize pass builds the persisted
    per-(doc, bucket) count relation (bounded by #docs × {B}); the
    {B}-row models roll up from it (spine LEFT JOIN, so buckets with no
    features count ZERO on both sides — a NULL-padding row must not
    inflate the source model), broadcast back for scoring, with the
    normalizers as broadcast 1-row aggregates. Per-bucket LLRs round to
    decimal(18,6) before the per-doc sum so the aggregate is
    partition-order-insensitive (the unigram-LM pattern).
    """
    from ..cache import persist_tracked

    docs = load_table(spark, sf_dir, "documents")
    th = F.transform(T.tokens("text"), lambda t: T.char_hash(t))
    bigram = lambda i: (  # noqa: E731
        (F.element_at(F.col("th"), i) * _DSIR_SB
         + F.element_at(F.col("th"), i + 1)) % T.HASH_MOD
    ) % _DSIR_B
    feats = (
        spread(docs)
        .select("doc_id", th.alias("th"))
        .where(F.size("th") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(F.sequence(F.lit(1), F.size("th") - 1), bigram)
            ).alias("b"),
        )
    )
    dc = persist_tracked(
        feats.groupBy(
            "doc_id",
            (F.col("doc_id") % _DSIR_TARGET_MOD == 0).alias("tgt"),
            "b",
        ).agg(F.count("*").alias("n"))
    )
    spine = spark.range(_DSIR_B).select(F.col("id").alias("b"))
    cnt = (
        spine.join(dc, "b", "left")
        .groupBy("b")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("tgt"), F.col("n")).otherwise(0)),
                F.lit(0),
            ).cast("double").alias("n_t"),
            F.coalesce(
                F.sum(F.when(F.col("tgt"), 0).otherwise(F.col("n"))),
                F.lit(0),
            ).cast("double").alias("n_s"),
        )
    )
    tot = cnt.agg(
        F.sum("n_t").alias("tot_t"), F.sum("n_s").alias("tot_s")
    )
    model = (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.round(
                F.log10((F.col("n_t") + 1) / (F.col("tot_t") + _DSIR_B))
                - F.log10((F.col("n_s") + 1) / (F.col("tot_s") + _DSIR_B)),
                6,
            ).cast("decimal(18,6)").alias("llr"),
        )
    )
    avg = F.sum(F.col("n") * F.col("llr")).cast("double") / F.sum("n")
    return (
        dc.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_feats"),
            avg.cast("double").alias("avg_llr"),
            (avg > 0).alias("selected"),
        )
    )


# ---------------------------------------------------------------------------
# end-to-end curation pipeline funnel (dedup -> quality gate -> split)
# ---------------------------------------------------------------------------

_PIPE_MIN_TOKS = 15        # same eligibility bar as the reference's IDF job
_PIPE_MIN_DISTINCT = 0.3   # distinct-token ratio below this = degenerate
_PIPE_A = 40_503           # split affine hash (same family as rel_split_assign)
_PIPE_C = 7_919


@register(
    "curation_pipeline",
    oracle=f"""
WITH staged AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn,
         len({T.tokens_sql('text')}) AS n_toks,
         CASE WHEN len({T.tokens_sql('text')}) > 0
              THEN CAST(len(list_distinct({T.tokens_sql('text')})) AS DOUBLE)
                   / len({T.tokens_sql('text')})
              ELSE 0.0 END AS distinct_ratio,
         (doc_id * {_PIPE_A} + {_PIPE_C}) % {T.HASH_MOD} % 100 AS h
  FROM documents
),
labeled AS (
  SELECT CASE WHEN rn > 1 THEN 'dropped:duplicate'
              WHEN n_toks < {_PIPE_MIN_TOKS} THEN 'dropped:quality'
              WHEN distinct_ratio < {_PIPE_MIN_DISTINCT} THEN 'dropped:quality'
              WHEN h < 80 THEN 'train'
              WHEN h < 90 THEN 'val'
              ELSE 'test' END AS stage,
         n_toks
  FROM staged
)
SELECT stage,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens
FROM labeled GROUP BY stage
""",
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation flow a training-data pipeline actually runs,
    as ONE declarative plan: exact dedup (md5 keep-first) -> quality gate
    (min token count + distinct-token ratio) -> deterministic 80/10/10
    split — emitted as a funnel: one row per final split plus explicit
    'dropped:duplicate' / 'dropped:quality' rows, so the output documents
    both the surviving corpus AND where every removed document went.

    Scale shape: one pass computes every per-doc signal (digest, token
    stats, split hash — all row-local); the only exchanges are the
    fingerprint window (hash partition by 16-byte digest, payload is a few
    ints, never text) and the final 5-group aggregate. Stage labeling is a
    short-circuiting CASE, so the ratio never divides by zero."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    staged = spread(docs).select(
        "doc_id",
        T.digest("text").alias("fp"),
        F.size(toks).alias("n_toks"),
        F.when(
            F.size(toks) > 0,
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks),
        )
        .otherwise(0.0)
        .alias("distinct_ratio"),
        ((F.col("doc_id") * _PIPE_A + _PIPE_C) % T.HASH_MOD % 100).alias("h"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    labeled = staged.withColumn("rn", F.row_number().over(w)).select(
        F.when(F.col("rn") > 1, "dropped:duplicate")
        .when(F.col("n_toks") < _PIPE_MIN_TOKS, "dropped:quality")
        .when(F.col("distinct_ratio") < _PIPE_MIN_DISTINCT, "dropped:quality")
        .when(F.col("h") < 80, "train")
        .when(F.col("h") < 90, "val")
        .otherwise("test")
        .alias("stage"),
        "n_toks",
    )
    return labeled.groupBy("stage").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# temperature-resampled corpus mix (apply the α=0.5 weights end-to-end)
# ---------------------------------------------------------------------------

_MIX_PPM = 1_000_000       # hash-rate resolution (parts per million)
_MIX_BASE_RATE = 0.5       # global downsample so flattening has headroom
# char_hash is AFFINE in the trailing digits of a numeric key (h(id+1) =
# h(id)+1 for same-length ids), so `% PPM` against a fine-grained rate
# would keep contiguous id RANGES, not a pseudo-random subset. One LCG
# step decorrelates consecutive ids; max intermediate is
# (HASH_MOD-1)*LCG_A ~ 1.1e18, inside int64 on both engines.
_MIX_LCG_A = 1_103_515_245
_MIX_LCG_C = 12_345


@register(
    "curation_mix_resample",
    oracle=f"""
WITH mass AS (
  SELECT source, count(*) AS n_candidates,
         CAST(sum({T.token_count_sql('text')}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
gridded AS (
  SELECT *, CAST(round(sqrt(CAST(n_tokens AS DOUBLE)), 6)
                 AS DECIMAL(18,6)) AS tm
  FROM mass
),
tot AS (SELECT sum(tm) AS tms, sum(n_tokens) AS ns FROM gridded),
rates AS (
  SELECT source, n_candidates,
         least(CAST({_MIX_PPM} AS BIGINT),
               CAST(round({float(_MIX_PPM) * _MIX_BASE_RATE}
                    * (CAST(tm AS DOUBLE) / CAST(tms AS DOUBLE))
                    * (CAST(ns AS DOUBLE) / CAST(n_tokens AS DOUBLE)),
                    0) AS BIGINT)) AS rate_ppm
  FROM gridded, tot
),
kept AS (
  SELECT d.source, count(*) AS n_kept
  FROM documents d JOIN rates r ON d.source = r.source
  WHERE (({T.char_hash_sql("CAST(d.doc_id AS VARCHAR)")})
         * {_MIX_LCG_A} + {_MIX_LCG_C}) % {T.HASH_MOD} % {_MIX_PPM}
        < r.rate_ppm
  GROUP BY d.source
)
SELECT r.source, r.n_candidates, r.rate_ppm,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
FROM rates r LEFT JOIN kept k ON r.source = k.source
""",
)
def curation_mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mix sampling APPLIED end-to-end: turn the α=0.5
    flattened target shares (text_domain_mix_weights' rule) into a
    per-source keep-rate in parts-per-million, then deterministically
    Bernoulli-sample every document by portable hash of its doc_id — the
    multilingual/multi-domain resampling step a pretraining mix actually
    executes, reproducible on any engine / any partitioning (same rows
    kept everywhere, unlike RNG sampling).

    Determinism contract: per-source sqrt-token-mass is quantized to the
    round-6 decimal grid BEFORE the cross-source sum (float sum order
    can't diverge), the rate is ONE fixed-shape double expression of
    those exact sums rounded to integer ppm, and the keep decision is
    `lcg(char_hash(doc_id)) % 1e6 < rate_ppm` (the LCG step decorrelates
    consecutive ids — see _MIX_LCG_A above).

    Scale shape: one map-side-combinable aggregate to #sources rows, a
    broadcast of the (sources x 2)-value rate table back onto the corpus,
    and a narrow per-row hash filter — no shuffle of document rows at
    all; the output is #sources rows."""
    docs = load_table(spark, sf_dir, "documents")
    mass = docs.groupBy("source").agg(
        F.count("*").alias("n_candidates"),
        F.sum(T.token_count("text")).cast("bigint").alias("n_tokens"),
    )
    gridded = mass.withColumn(
        "tm",
        F.round(F.sqrt(F.col("n_tokens").cast("double")), 6).cast(
            "decimal(18,6)"
        ),
    )
    tot = gridded.agg(
        F.sum("tm").alias("tms"), F.sum("n_tokens").alias("ns")
    )
    rates = gridded.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_candidates",
        F.least(
            F.lit(_MIX_PPM).cast("bigint"),
            F.round(
                F.lit(float(_MIX_PPM) * _MIX_BASE_RATE)
                * (F.col("tm").cast("double") / F.col("tms").cast("double"))
                * (F.col("ns").cast("double") / F.col("n_tokens").cast("double")),
                0,
            ).cast("bigint"),
        ).alias("rate_ppm"),
    )
    kept = (
        docs.join(F.broadcast(rates.select("source", "rate_ppm")), "source")
        .where(
            (
                T.char_hash(F.col("doc_id").cast("string")) * _MIX_LCG_A
                + _MIX_LCG_C
            )
            % T.HASH_MOD
            % _MIX_PPM
            < F.col("rate_ppm")
        )
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    return rates.join(kept, "source", "left").select(
        "source",
        "n_candidates",
        "rate_ppm",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# weighted sampling without replacement (Efraimidis–Spirakis, deterministic)
# ---------------------------------------------------------------------------

_WS_PER_SOURCE = 10


@register(
    "curation_weighted_sample",
    oracle=f"""
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         round(ln(({T.char_hash_sql("concat('ws:', CAST(doc_id AS VARCHAR))")}
                   + 1.0) / {T.HASH_MOD + 1}.0)
               / ln(1.0 + n_chars), 9) AS k
  FROM documents
  WHERE n_chars > 0
)
SELECT source, doc_id, n_chars, k, rk FROM (
  SELECT source, doc_id, n_chars, k,
         row_number() OVER (PARTITION BY source
                            ORDER BY k DESC, doc_id) AS rk
  FROM keyed
) WHERE rk <= {_WS_PER_SOURCE}
""",
)
def curation_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, per source: the
    Efraimidis–Spirakis A-ES scheme — each doc draws a uniform u and
    ranks by ln(u)/w (monotone-equivalent to u^(1/w)); the top-k per
    stratum is an exact weighted sample without replacement. Here the
    weight is ln(1+n_chars) (longer docs proportionally likelier — the
    length-weighted quota draw a pretraining mix uses), and u is a
    DETERMINISTIC pseudo-uniform from the portable char hash of a salted
    doc_id, so both engines and any two cluster runs draw the identical
    sample — seeded reproducibility without engine RNG (the same trick
    as rel_hash_sample, upgraded from uniform to weighted).

    Scale shape: the key is row-local arithmetic on the scan (no join,
    no pre-aggregation); the per-source top-k is rank-over-window →
    WindowGroupLimit, partial top-k below the source-keyed exchange, so
    the shuffle carries ≤ k rows per source per input partition. Skewed
    source cardinality is irrelevant — the partial cut bounds every
    partition's contribution. Rank key rounded to 9 decimals with a
    doc_id tiebreak: a total order both engines agree on.

    Zero-length docs are excluded up front: A-ES is defined for w > 0,
    and without the filter ln(1+0)=0 divides by zero — an ANSI-mode
    exception on Spark but NULL on DuckDB, so the engines could never
    agree on such a row."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("n_chars") > 0
    )
    u = (
        T.char_hash(F.concat(F.lit("ws:"), F.col("doc_id").cast("string")))
        + F.lit(1.0)
    ) / F.lit(float(T.HASH_MOD + 1))
    k = F.round(F.log(u) / F.log(F.lit(1.0) + F.col("n_chars")), 9)
    w = Window.partitionBy("source").orderBy(
        F.col("k").desc(), F.col("doc_id")
    )
    return (
        docs.select("source", "doc_id", "n_chars", k.alias("k"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _WS_PER_SOURCE)
    )


# ---------------------------------------------------------------------------
# Kneser-Ney bigram LM scoring (built r8, staged r9)
# ---------------------------------------------------------------------------

_KN_D = 0.75  # absolute discount

_KN_BIGRAM_SQL = f"""
WITH tok AS (
  SELECT doc_id, {T.tokens_sql('text')} AS t FROM documents
),
tr0 AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS k
  FROM tok WHERE len(t) >= 2
),
tr AS (
  SELECT doc_id, t[CAST(k AS INT)] AS w1, t[CAST(k AS INT) + 1] AS w2
  FROM tr0
),
dbg AS (
  SELECT doc_id, w1, w2, count(*) AS c_doc FROM tr GROUP BY doc_id, w1, w2
),
bg AS (SELECT w1, w2, CAST(sum(c_doc) AS BIGINT) AS c FROM dbg GROUP BY w1, w2),
ctx AS (
  SELECT w1, CAST(sum(c) AS BIGINT) AS c1, CAST(count(*) AS BIGINT) AS n1f
  FROM bg GROUP BY w1
),
cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM bg GROUP BY w2),
tot AS (SELECT CAST(count(*) AS BIGINT) AS ty FROM bg),
scored AS (
  SELECT d.doc_id, d.c_doc,
         CAST(round(log10(
           (CAST(b.c AS DOUBLE) - {_KN_D}) / CAST(ctx.c1 AS DOUBLE)
           + ({_KN_D} * CAST(ctx.n1f AS DOUBLE) / CAST(ctx.c1 AS DOUBLE))
             * (CAST(cont.n1b AS DOUBLE) / CAST(tot.ty AS DOUBLE))
         ), 6) AS DECIMAL(18,6)) AS lp
  FROM dbg d
  JOIN bg b ON b.w1 = d.w1 AND b.w2 = d.w2
  JOIN ctx ON ctx.w1 = d.w1
  JOIN cont ON cont.w2 = d.w2
  CROSS JOIN tot
)
SELECT doc_id, CAST(sum(c_doc) AS BIGINT) AS n_transitions,
       CAST(CAST(sum(c_doc * lp) AS DOUBLE) / sum(c_doc) AS DOUBLE)
         AS kn_logprob
FROM scored GROUP BY doc_id
"""


@register("text_kneser_ney_bigram", oracle=_KN_BIGRAM_SQL)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM scoring — the smoothing upgrade
    over `text_bigram_logprob`'s add-1: probability mass discounted from
    observed bigrams is redistributed via the CONTINUATION probability
    (how many distinct contexts a word completes), the property that
    stops high-frequency-but-context-bound words ("francisco") from
    stealing mass from genuinely versatile words. Per doc: transition
    count and mean log10 p_KN(w2|w1) over its transitions —
      p = max(c(w1,w2)-D, 0)/c(w1·) + D·N1+(w1,·)/c(w1·) · N1+(·,w2)/T
    with D=0.75 (c >= 1 for every scored transition, so the max never
    binds). Docs with < 2 tokens have no transitions and are absent.

    Exactness: every LM statistic is an exact integer count; p is one
    identical double expression in both engines over those integers;
    per-transition log10 rounds to 6dp DECIMAL before the per-doc sum
    (weighted by integer in-doc multiplicity) — nothing order-dependent.

    Scale shape: transitions reduce map-side to per-(doc, w1, w2) counts
    (the fact side crosses the wire once, (doc_id,w1,w2)-keyed); the LM
    tables are |observed bigrams| / |vocab|-sized reductions OF that
    relation — at fixture scale they broadcast back; at 100 TB AQE
    shuffles the bigram join while ctx/cont/T stay broadcast-sized. The
    type count T is a 1-row broadcast cross join, never a driver action.
    """
    docs = load_table(spark, sf_dir, "documents")
    # r13: NO spread here — the r12 rebalance was a driver-measured
    # pessimization (0.89x, +1 MB shuffle carrying the full text column,
    # 8-core run beating 32-core). The per-doc bigram aggregation's map
    # side collapses each doc to its distinct (w1,w2) counts BEFORE the
    # exchange, so the tokenize cost it parallelized is smaller than the
    # full-text shuffle it added (guide §2.3: shuffling the payload to
    # save single-core arithmetic is the wrong trade).
    base = docs.select("doc_id", T.tokens("text").alias("t")).where(
        F.size("t") >= 2
    )
    trans = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), k -> "
                "struct(element_at(t, k) AS w1, element_at(t, k + 1) AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    from ..cache import persist_tracked

    # persisted: dbg feeds the scored join AND the whole LM chain; bg
    # feeds four consumers (bigram join, ctx, cont, T). Without the two
    # persists every consumer re-runs the scan + tokenize + explode —
    # the plan probe counted 15 exchanges (≈5 corpus scans); with them,
    # the corpus crosses the wire once and the LM reductions run over
    # the cached per-doc bigram counts.
    dbg = persist_tracked(
        trans.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("c_doc"))
    )
    bg = persist_tracked(
        dbg.groupBy("w1", "w2").agg(F.sum("c_doc").cast("bigint").alias("c"))
    )
    ctx = bg.groupBy("w1").agg(
        F.sum("c").cast("bigint").alias("c1"),
        F.count("*").cast("bigint").alias("n1f"),
    )
    cont = bg.groupBy("w2").agg(F.count("*").cast("bigint").alias("n1b"))
    tot = bg.agg(F.count("*").cast("bigint").alias("ty"))
    p = (
        (F.col("c").cast("double") - F.lit(_KN_D)) / F.col("c1").cast("double")
    ) + (
        F.lit(_KN_D) * F.col("n1f").cast("double") / F.col("c1").cast("double")
    ) * (
        F.col("n1b").cast("double") / F.col("ty").cast("double")
    )
    scored = (
        dbg.join(bg, ["w1", "w2"])
        .join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "c_doc",
            F.round(F.log10(p), 6).cast("decimal(18,6)").alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("c_doc").cast("bigint").alias("n_transitions"),
        (F.sum(F.col("c_doc") * F.col("lp")).cast("double") / F.sum("c_doc"))
        .cast("double")
        .alias("kn_logprob"),
    )


# ---------------------------------------------------------------------------
# largest-remainder eval-budget apportionment (built r8, staged r9)
# ---------------------------------------------------------------------------

_LRA_BUDGET = 1000  # eval rows to apportion across (lang, source) strata

_LRA_SQL = f"""
WITH strata AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY lang, source
),
tot AS (
  SELECT lang, source, n_docs,
         sum(n_docs) OVER () AS c,
         ({_LRA_BUDGET} * n_docs) // sum(n_docs) OVER () AS base,
         ({_LRA_BUDGET} * n_docs) % sum(n_docs) OVER () AS rem
  FROM strata
),
ranked AS (
  SELECT lang, source, n_docs, c, base, rem,
         {_LRA_BUDGET} - sum(base) OVER () AS leftover,
         row_number() OVER (ORDER BY rem DESC, lang, source) AS rk
  FROM tot
)
SELECT lang, source, n_docs,
       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS alloc,
       CAST(round(CAST(n_docs AS DOUBLE) / c, 6) AS DOUBLE) AS share
FROM ranked
"""


@register("rel_largest_remainder_alloc", oracle=_LRA_SQL)
def rel_largest_remainder_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed eval budget
    (1000 rows) across (lang, source) strata — the exact
    integer answer to "build a proportionally stratified eval set":
    naive round(N*share) over- or under-shoots the total; Hamilton's
    method gives every stratum floor(N*n/C) and hands the leftover
    seats to the largest fractional remainders, so the allocations sum
    to N EXACTLY. Downstream, `rel_stratified_sample`'s per-stratum
    hash gate takes these counts.

    Exactness: everything before the final share column is pure integer
    arithmetic (integer quota, div/mod, remainder ranking with a
    lang/source tiebreak) — nothing floats, so the oracle match is
    trivial by construction.

    Scale shape: one map-side-combinable groupBy reduces the corpus to
    |strata| rows; both windows (total, remainder rank) run over that
    tiny relation in one single-partition pass. Scan-bound at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    strata = docs.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    w_all = Window.partitionBy()
    quota = F.lit(_LRA_BUDGET) * F.col("n_docs")
    tot = strata.select(
        "lang",
        "source",
        "n_docs",
        F.sum("n_docs").over(w_all).alias("c"),
    ).select(
        "lang",
        "source",
        "n_docs",
        "c",
        F.expr(f"({_LRA_BUDGET} * n_docs) div c").alias("base"),
        (quota % F.col("c")).alias("rem"),
    )
    w_rk = Window.orderBy(F.desc("rem"), F.asc("lang"), F.asc("source"))
    ranked = tot.select(
        "lang",
        "source",
        "n_docs",
        "c",
        "base",
        (F.lit(_LRA_BUDGET) - F.sum("base").over(w_all)).alias("leftover"),
        F.row_number().over(w_rk).alias("rk"),
    )
    return ranked.select(
        "lang",
        "source",
        "n_docs",
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        ).cast("bigint").alias("alloc"),
        F.round(F.col("n_docs").cast("double") / F.col("c"), 6)
        .cast("double")
        .alias("share"),
    )


# ---------------------------------------------------------------------------
# Platt-scaling classifier calibration (built r8, staged r9)
# ---------------------------------------------------------------------------

_PLATT_STEPS_SQL = f"""
WITH scored AS (
  SELECT round(CAST(len(list_distinct({T.tokens_sql('text')})) AS DOUBLE)
               / len({T.tokens_sql('text')}), 6) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents WHERE len({T.tokens_sql('text')}) > 0
),
sums1 AS (
  SELECT count(*) AS n,
         CAST(sum(CAST(round((1/(1+exp(-(1.0*s + 0.0))) - y) * s, 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS ga,
         CAST(sum(CAST(round(1/(1+exp(-(1.0*s + 0.0))) - y, 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS gb,
         CAST(sum(CAST(round((1/(1+exp(-(1.0*s + 0.0))))
                             * (1 - 1/(1+exp(-(1.0*s + 0.0)))) * s * s, 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS haa,
         CAST(sum(CAST(round((1/(1+exp(-(1.0*s + 0.0))))
                             * (1 - 1/(1+exp(-(1.0*s + 0.0)))) * s, 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS hab,
         CAST(sum(CAST(round((1/(1+exp(-(1.0*s + 0.0))))
                             * (1 - 1/(1+exp(-(1.0*s + 0.0)))), 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS hbb
  FROM scored
),
p1 AS (
  SELECT n,
         round(1.0 - (hbb*ga - hab*gb) / (haa*hbb - hab*hab), 6) AS a,
         round(0.0 - (haa*gb - hab*ga) / (haa*hbb - hab*hab), 6) AS b
  FROM sums1
),
ll1 AS (
  SELECT CAST(round(CAST(sum(CAST(round(
           -(y * ln(1/(1+exp(-(p1.a*s + p1.b))))
             + (1-y) * ln(1 - 1/(1+exp(-(p1.a*s + p1.b))))), 9)
           AS DECIMAL(28,9))) AS DOUBLE) / count(*), 6) AS DOUBLE) AS logloss
  FROM scored, p1
),
sums2 AS (
  SELECT p1.a AS a0, p1.b AS b0, count(*) AS n,
         CAST(sum(CAST(round((1/(1+exp(-(p1.a*s + p1.b))) - y) * s, 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS ga,
         CAST(sum(CAST(round(1/(1+exp(-(p1.a*s + p1.b))) - y, 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS gb,
         CAST(sum(CAST(round((1/(1+exp(-(p1.a*s + p1.b))))
                             * (1 - 1/(1+exp(-(p1.a*s + p1.b)))) * s * s, 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS haa,
         CAST(sum(CAST(round((1/(1+exp(-(p1.a*s + p1.b))))
                             * (1 - 1/(1+exp(-(p1.a*s + p1.b)))) * s, 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS hab,
         CAST(sum(CAST(round((1/(1+exp(-(p1.a*s + p1.b))))
                             * (1 - 1/(1+exp(-(p1.a*s + p1.b)))), 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS hbb
  FROM scored, p1 GROUP BY p1.a, p1.b
),
p2 AS (
  SELECT n,
         round(a0 - (hbb*ga - hab*gb) / (haa*hbb - hab*hab), 6) AS a,
         round(b0 - (haa*gb - hab*ga) / (haa*hbb - hab*hab), 6) AS b
  FROM sums2
),
ll2 AS (
  SELECT CAST(round(CAST(sum(CAST(round(
           -(y * ln(1/(1+exp(-(p2.a*s + p2.b))))
             + (1-y) * ln(1 - 1/(1+exp(-(p2.a*s + p2.b))))), 9)
           AS DECIMAL(28,9))) AS DOUBLE) / count(*), 6) AS DOUBLE) AS logloss
  FROM scored, p2
)
SELECT CAST(1 AS INT) AS step, CAST(p1.n AS BIGINT) AS n_docs,
       CAST(p1.a AS DOUBLE) AS a, CAST(p1.b AS DOUBLE) AS b,
       ll1.logloss AS logloss
FROM p1, ll1 WHERE p1.n > 0
UNION ALL
SELECT CAST(2 AS INT), CAST(p2.n AS BIGINT),
       CAST(p2.a AS DOUBLE), CAST(p2.b AS DOUBLE), ll2.logloss
FROM p2, ll2 WHERE p2.n > 0
"""


@register("curation_platt_calibration", oracle=_PLATT_STEPS_SQL)
def curation_platt_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platt-scaling calibration of a quality signal — the step every
    filtering pipeline needs between "classifier score" and "keep
    probability": fit p = sigmoid(a*s + b) by TWO unrolled
    Newton-Raphson steps on the log-loss (the kmeans/pagerank unrolled-
    iteration convention, so the ITERATION itself is oracle-checked
    cross-engine), reporting per step the fitted (a, b) and the mean
    log-loss at those parameters. Signal s = per-doc distinct-token
    ratio (round-6); label y = lang == 'en' — a deterministic stand-in
    for "human-rated good" that makes the calibration measurable.

    Exactness: every gradient/Hessian/log-loss CONTRIBUTION rounds to
    9dp DECIMAL before its exact sum (the chi2/PSI discipline — at
    ~1e5 exp()/ln() terms this is what makes the statistic partition-
    order-free); the 2x2 Newton solve and sigmoid are identical double
    expressions over those sums in both engines (exp parity precedent:
    events_halflife_decay's pow, psi/logprob's ln/log10); parameters
    round to 6dp between steps so each step's inputs are pinned.

    Scale shape: per step, ONE map-side-combinable aggregate over the
    scored corpus (5 decimal sums + a count) and a 1-row broadcast of
    the params back — no driver-side action, no collect; the scored
    relation is persisted once for the 4 passes (2 sum + 2 log-loss).
    At 100 TB each Newton step is exactly one scan-shaped reduce —
    cheaper than the classifier that produced the scores."""
    from ..cache import persist_tracked

    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    scored = persist_tracked(
        docs.where(F.size(toks) > 0).select(
            F.round(
                F.size(F.array_distinct(toks)).cast("double")
                / F.size(toks),
                6,
            ).alias("s"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        )
    )

    def dec9(col):
        return F.round(col, 9).cast("decimal(28,9)")

    def newton(rel, a_col, b_col):
        """One Newton step: 1-row (n, a, b) from sums at (a_col, b_col);
        the incoming params ride the aggregate (max over the constant
        column) so the post-agg update can reference them."""
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-(a_col * F.col("s") + b_col)))
        w = p * (1 - p)
        sums = rel.agg(
            F.count("*").alias("n"),
            F.max(a_col).alias("a0"),
            F.max(b_col).alias("b0"),
            F.sum(dec9((p - F.col("y")) * F.col("s"))).cast("double").alias("ga"),
            F.sum(dec9(p - F.col("y"))).cast("double").alias("gb"),
            F.sum(dec9(w * F.col("s") * F.col("s"))).cast("double").alias("haa"),
            F.sum(dec9(w * F.col("s"))).cast("double").alias("hab"),
            F.sum(dec9(w)).cast("double").alias("hbb"),
        )
        det = F.col("haa") * F.col("hbb") - F.col("hab") * F.col("hab")
        return sums.select(
            "n",
            F.round(
                F.col("a0")
                - (F.col("hbb") * F.col("ga") - F.col("hab") * F.col("gb"))
                / det,
                6,
            ).alias("a"),
            F.round(
                F.col("b0")
                - (F.col("haa") * F.col("gb") - F.col("hab") * F.col("ga"))
                / det,
                6,
            ).alias("b"),
        )

    def logloss(rel_with_params):
        p = F.lit(1.0) / (
            F.lit(1.0)
            + F.exp(-(F.col("a") * F.col("s") + F.col("b")))
        )
        ll = -(
            F.col("y") * F.log(p) + (1 - F.col("y")) * F.log(1 - p)
        )
        return rel_with_params.agg(
            F.round(
                F.sum(dec9(ll)).cast("double") / F.count("*"), 6
            ).cast("double").alias("logloss")
        )

    p1 = newton(scored, F.lit(1.0), F.lit(0.0))
    s1 = scored.crossJoin(F.broadcast(p1))
    ll1 = logloss(s1)
    p2 = newton(s1, F.col("a"), F.col("b"))
    s2 = scored.crossJoin(F.broadcast(p2))
    ll2 = logloss(s2)

    row1 = (
        p1.crossJoin(F.broadcast(ll1))
        .where(F.col("n") > 0)
        .select(
            F.lit(1).cast("int").alias("step"),
            F.col("n").cast("bigint").alias("n_docs"),
            F.col("a").cast("double").alias("a"),
            F.col("b").cast("double").alias("b"),
            "logloss",
        )
    )
    row2 = (
        p2.crossJoin(F.broadcast(ll2))
        .where(F.col("n") > 0)
        .select(
            F.lit(2).cast("int").alias("step"),
            F.col("n").cast("bigint").alias("n_docs"),
            F.col("a").cast("double").alias("a"),
            F.col("b").cast("double").alias("b"),
            "logloss",
        )
    )
    return row1.unionAll(row2)


# ---------------------------------------------------------------------------
# multiplicative-weights domain reweighting (built r9, staged r10)
# ---------------------------------------------------------------------------

_MW_ETA = 0.5


_MW_REWEIGHT_SQL = f"""
WITH scored AS (
  SELECT source,
         round(1 - CAST(len(list_distinct({T.tokens_sql('text')})) AS DOUBLE)
                   / len({T.tokens_sql('text')}), 6) AS loss
  FROM documents WHERE len({T.tokens_sql('text')}) > 0
),
dom AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(round(CAST(sum(CAST(round(loss, 9) AS DECIMAL(28,9)))
                         AS DOUBLE) / count(*), 6) AS DOUBLE) AS domain_loss
  FROM scored GROUP BY source
),
k AS (SELECT round(1.0 / count(*), 9) AS w0 FROM dom),
a1 AS (
  SELECT CAST(sum(CAST(round(k.w0 * d.domain_loss, 12)
                       AS DECIMAL(28,12))) AS DOUBLE) AS avg1
  FROM dom d, k
),
s1 AS (
  SELECT d.source, d.n_docs, d.domain_loss, k.w0,
         k.w0 * (1 + {_MW_ETA} * (d.domain_loss - a1.avg1)) AS w1r
  FROM dom d, k, a1
),
n1 AS (
  SELECT CAST(sum(CAST(round(w1r, 12) AS DECIMAL(28,12))) AS DOUBLE) AS norm1
  FROM s1
),
t1 AS (
  SELECT s1.source, s1.n_docs, s1.domain_loss, s1.w0,
         round(s1.w1r / n1.norm1, 6) AS w1
  FROM s1, n1
),
a2 AS (
  SELECT CAST(sum(CAST(round(t.w1 * t.domain_loss, 12)
                       AS DECIMAL(28,12))) AS DOUBLE) AS avg2
  FROM t1 t
),
s2 AS (
  SELECT t.source, t.n_docs, t.domain_loss, t.w0, t.w1,
         t.w1 * (1 + {_MW_ETA} * (t.domain_loss - a2.avg2)) AS w2r
  FROM t1 t, a2
),
n2 AS (
  SELECT CAST(sum(CAST(round(w2r, 12) AS DECIMAL(28,12))) AS DOUBLE) AS norm2
  FROM s2
)
SELECT s2.source, s2.n_docs, s2.domain_loss,
       CAST(s2.w0 AS DOUBLE) AS w0, CAST(s2.w1 AS DOUBLE) AS w1,
       CAST(round(s2.w2r / n2.norm2, 6) AS DOUBLE) AS w2
FROM s2, n2
"""


@register("curation_mw_domain_reweight", oracle=_MW_REWEIGHT_SQL)
def curation_mw_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-flavored domain mixture reweighting by TWO unrolled
    multiplicative-weights steps (built r9, staged r10): each domain's
    proxy loss is its mean token-repetition rate; each step computes the
    mixture-average loss under the CURRENT weights, moves every weight by
    w *= 1 + eta * (loss_d - mixture_avg) (linearized Hedge — polynomial,
    no libm pow parity assumption), and renormalizes. The steps are
    genuinely coupled (the mixture average changes as weights move), so
    like Platt/KMeans/PageRank the OPTIMIZER itself is oracle-checked,
    not just one update. Domains above the current mixture loss gain
    weight — the DoReMi excess-loss signal for training-mixture design.

    Numeric conventions (the Platt precedent): per-doc losses round-9 to
    DECIMAL before the exact per-domain sum; per-domain scalars reduce
    over round-12 DECIMAL terms; weight updates are IEEE double
    arithmetic on identical operands; renormalized weights round-6.

    Scale shape: ONE corpus scan builds the k-row domain table (map-side
    combinable sum/count per source); both steps are arithmetic over the
    persisted k rows with 1-row broadcast scalars — at 100 TB the
    optimizer costs one aggregation pass, exactly like the production
    DoReMi reweighting loop per epoch."""
    from ..cache import persist_tracked

    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    loss = F.round(
        F.lit(1)
        - F.size(F.array_distinct(toks)).cast("double") / F.size(toks),
        6,
    )
    dom = persist_tracked(
        docs.where(F.size(toks) > 0)
        .select("source", loss.alias("loss"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(
                F.sum(F.round(F.col("loss"), 9).cast("decimal(28,9)"))
                .cast("double")
                / F.count("*"),
                6,
            ).cast("double").alias("domain_loss"),
        )
    )
    k = dom.agg(F.round(F.lit(1.0) / F.count("*"), 9).alias("w0"))
    d0 = dom.crossJoin(F.broadcast(k))

    def mix_avg(df: DataFrame, wcol: str, alias: str) -> DataFrame:
        return df.agg(
            F.sum(
                F.round(F.col(wcol) * F.col("domain_loss"), 12)
                .cast("decimal(28,12)")
            ).cast("double").alias(alias)
        )

    def step(df: DataFrame, wcol: str, avg_alias: str, raw: str) -> DataFrame:
        stepped = df.crossJoin(F.broadcast(mix_avg(df, wcol, avg_alias)))
        return stepped.withColumn(
            raw,
            F.col(wcol)
            * (1 + _MW_ETA * (F.col("domain_loss") - F.col(avg_alias))),
        )

    def renorm(df: DataFrame, raw: str, out: str) -> DataFrame:
        norm = df.agg(
            F.sum(F.round(F.col(raw), 12).cast("decimal(28,12)"))
            .cast("double").alias("_norm")
        )
        return df.crossJoin(F.broadcast(norm)).withColumn(
            out, F.round(F.col(raw) / F.col("_norm"), 6)
        ).drop("_norm")

    s1 = renorm(step(d0, "w0", "_avg1", "_w1r"), "_w1r", "w1")
    s1 = persist_tracked(
        s1.select("source", "n_docs", "domain_loss", "w0", "w1")
    )
    s2 = renorm(step(s1, "w1", "_avg2", "_w2r"), "_w2r", "w2")
    return s2.select(
        "source", "n_docs", "domain_loss",
        F.col("w0").cast("double").alias("w0"),
        F.col("w1").cast("double").alias("w1"),
        F.col("w2").cast("double").alias("w2"),
    )


# ---------------------------------------------------------------------------
# perplexity-tier bucketing (built r9, staged r10)
# ---------------------------------------------------------------------------

_PPL_TIERS = 4


_PPL_BUCKETS_SQL = f"""
WITH ulp AS ({_UNIGRAM_SCORED_SQL}),
tiered AS (
  SELECT doc_id, n_tokens, lp_sum, avg_logprob,
         ntile({_PPL_TIERS}) OVER (ORDER BY avg_logprob, doc_id) AS tier
  FROM ulp
)
SELECT CAST(tier AS INT) AS tier,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       -- token-weighted tier score: exact-DECIMAL numerator over integer
       -- tokens, emitted as the raw quotient (never round a computed
       -- double at output precision — the sf0.1 boundary lesson)
       CAST(sum(lp_sum) AS DOUBLE) / sum(n_tokens) AS tier_logprob,
       min(avg_logprob) AS min_logprob,
       max(avg_logprob) AS max_logprob
FROM tiered GROUP BY tier
"""


@register("text_perplexity_buckets", oracle=_PPL_BUCKETS_SQL)
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity tiering (built r9, staged r10): score every
    document with the corpus-fit unigram LM (text_unigram_logprob's exact
    pipeline, reused verbatim), split the corpus into {_PPL_TIERS}
    NTILE tiers by score, and profile each tier (doc/token mass, mean and
    range of the score). This is the head/middle/tail quality
    partitioning CCNet popularized for web-corpus curation — downstream
    mixtures sample tiers at different rates rather than hard-filtering.

    Exactness: the tier score is TOKEN-WEIGHTED — the exact DECIMAL
    per-doc numerators (lp_sum) sum exactly and divide the integer token
    total once, emitted as the raw quotient (a per-doc-mean variant that
    re-rounded quotient doubles at 9dp hash-mismatched at sf0.1 — the
    standing boundary lesson); min/max compare identical doubles.
    NTILE's total order is (score, doc_id) — tie-free.

    Scale shape: the LM fit + scoring is the broadcast idf_table shape
    (one corpus scan, vocab-sized LM); only the 3-column per-doc score
    table reaches the global NTILE sort (eval-exact form; the production
    cut at 100 TB comes from rel_ddsketch_quantiles' mergeable sketch
    over the same scores, trading exact tile edges for a bounded-error
    streaming cut)."""
    from pyspark.sql.window import Window as W

    scored = unigram_scored(spark, sf_dir)
    tiered = scored.select(
        "doc_id", "n_tokens", "lp_sum", "avg_logprob",
        F.ntile(_PPL_TIERS)
        .over(W.orderBy("avg_logprob", "doc_id"))
        .alias("tier"),
    )
    return tiered.groupBy("tier").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        (
            F.sum("lp_sum").cast("double") / F.sum("n_tokens")
        ).alias("tier_logprob"),
        F.min("avg_logprob").alias("min_logprob"),
        F.max("avg_logprob").alias("max_logprob"),
    ).select(
        F.col("tier").cast("int").alias("tier"),
        "n_docs", "n_tokens", "tier_logprob", "min_logprob", "max_logprob",
    )


# ---------------------------------------------------------------------------
# composed quality gate (built r9, staged r10)
# ---------------------------------------------------------------------------

_QG_MIN_TOKENS = 10
_QG_MAX_TOKENS = 100
_QG_MAX_REP = 0.45
_QG_MIN_LM = -1.479


_QUALITY_GATE_SQL = f"""
WITH ulp AS ({_UNIGRAM_SCORED_SQL}),
stats AS (
  SELECT doc_id,
         len({T.tokens_sql('text')}) AS n,
         len(list_distinct({T.tokens_sql('text')})) AS nd
  FROM documents
),
joined AS (
  -- anchored on stats (every doc), LEFT join scores: zero-token docs
  -- must appear with n_tokens=0 / keep=false, never vanish
  SELECT s.doc_id,
         CAST(coalesce(u.n_tokens, 0) AS BIGINT) AS n_tokens,
         u.avg_logprob,
         CASE WHEN s.n > 0
           THEN 1 - CAST(s.nd AS DOUBLE) / s.n END AS repetition
  FROM stats s LEFT JOIN ulp u ON u.doc_id = s.doc_id
)
SELECT doc_id, n_tokens, repetition, avg_logprob,
       n_tokens < {_QG_MIN_TOKENS} OR n_tokens > {_QG_MAX_TOKENS}
         AS fail_length,
       coalesce(repetition > {_QG_MAX_REP}, false) AS fail_repetition,
       coalesce(avg_logprob < {_QG_MIN_LM}, false) AS fail_lm,
       NOT (n_tokens < {_QG_MIN_TOKENS} OR n_tokens > {_QG_MAX_TOKENS}
            OR coalesce(repetition > {_QG_MAX_REP}, false)
            OR coalesce(avg_logprob < {_QG_MIN_LM}, false)) AS keep
FROM joined
"""


@register("curation_quality_gate", oracle=_QUALITY_GATE_SQL)
def curation_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed keep/drop decision table a curation pipeline
    actually ships (built r9, staged r10): three independent signals —
    token-count bounds, token-repetition rate, corpus-fit unigram-LM
    score (text_unigram_logprob's exact pipeline) — each emitted as its
    own fail flag beside the final conjunction, so downstream audits
    can attribute every drop to its reason. Zero-token docs get a
    verdict row too — n_tokens=0, NULL metrics, rejected on length
    (the docs-anchored LEFT join in quality_gate_rows; a draft that
    excluded them was the admit-by-omission failure mode).

    Exactness: repetition and the LM score are UNROUNDED quotients of
    exact integers/DECIMALs (identical IEEE operands cross-engine —
    the boundary-free convention); every flag is a comparison of those
    identical doubles against literal constants, so the booleans can
    never straddle an engine boundary.

    Scale shape: the LM fit is the broadcast idf shape; the stats side
    is one scan with in-row token math; one doc_id-keyed join. At
    100 TB this is two passes over text + a co-partitioned join —
    exactly the production gate's cost."""
    docs = load_table(spark, sf_dir, "documents")
    return quality_gate_rows(docs, unigram_scored(spark, sf_dir))


def quality_gate_rows(docs: DataFrame, scored: DataFrame) -> DataFrame:
    """The flag/conjunction layer over per-doc LM scores — shared by
    the batch gate and the pinned-LM streaming drain.

    Anchored on the DOCS side (stats LEFT JOIN scored): a zero-token
    document has no LM rows at all, and an inner join silently dropped
    it from the verdict table — the same admit-by-omission failure the
    OOV left-join closed, one layer up (r9 second-review finding). Such
    docs now get n_tokens=0, NULL repetition/score, fail_length=true,
    keep=false."""
    toks = T.tokens("text")
    stats = docs.select(
        "doc_id",
        F.size(toks).alias("n"),
        F.size(F.array_distinct(toks)).alias("nd"),
    )
    joined = (
        stats.join(
            scored.select("doc_id", "n_tokens", "avg_logprob"),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("bigint")
            .alias("n_tokens"),
            "avg_logprob",
            F.when(
                F.col("n") > 0,
                F.lit(1) - F.col("nd").cast("double") / F.col("n"),
            ).alias("repetition"),
        )
    )
    fail_len = (F.col("n_tokens") < _QG_MIN_TOKENS) | (
        F.col("n_tokens") > _QG_MAX_TOKENS
    )
    fail_rep = F.coalesce(
        F.col("repetition") > _QG_MAX_REP, F.lit(False)
    )
    fail_lm = F.coalesce(F.col("avg_logprob") < _QG_MIN_LM, F.lit(False))
    return joined.select(
        "doc_id", "n_tokens", "repetition", "avg_logprob",
        fail_len.alias("fail_length"),
        fail_rep.alias("fail_repetition"),
        fail_lm.alias("fail_lm"),
        (~(fail_len | fail_rep | fail_lm)).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Good-Turing frequency smoothing over the corpus vocabulary
# ---------------------------------------------------------------------------

_GOOD_TURING_SQL = f"""
WITH doc_toks AS (
  SELECT doc_id, unnest({T.tokens_sql('text')}) AS word FROM documents
),
wc AS (SELECT word, count(*) AS r FROM doc_toks GROUP BY word),
coc AS (SELECT r, count(*) AS n_r FROM wc GROUP BY r),
tot AS (SELECT sum(r * n_r) AS n_tokens FROM coc),
nxt AS (
  SELECT r, n_r,
         lead(r)   OVER (ORDER BY r) AS r_next,
         lead(n_r) OVER (ORDER BY r) AS n_next
  FROM coc
),
gt AS (
  SELECT r, n_r,
         CASE WHEN r_next = r + 1 THEN n_next ELSE 0 END AS n_r1
  FROM nxt
)
SELECT CAST(gt.r AS BIGINT) AS r,
       CAST(gt.n_r AS BIGINT) AS n_r,
       CAST(gt.n_r1 AS BIGINT) AS n_r_plus_1,
       CASE WHEN gt.n_r1 > 0 THEN
         CAST((gt.r + 1) * gt.n_r1 AS DOUBLE) / gt.n_r
       END AS r_star,
       CASE WHEN gt.n_r1 > 0 THEN
         CAST((gt.r + 1) * gt.n_r1 AS DOUBLE)
           / (CAST(gt.n_r AS DOUBLE) * tot.n_tokens)
       END AS p_gt,
       CASE WHEN gt.r = 1 THEN
         CAST(gt.n_r AS DOUBLE) / tot.n_tokens
       END AS unseen_mass
FROM gt, tot
"""


@register("text_good_turing", oracle=_GOOD_TURING_SQL)
def text_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency smoothing (built r9, staged r10) — the
    classical estimator behind Katz backoff and the SGT family: for
    every observed corpus frequency r, the adjusted count
    r* = (r+1)·N_{r+1}/N_r from the count-of-counts table, the
    smoothed per-word probability r*/N, and (on the r=1 row) the
    total UNSEEN mass N_1/N that a backoff LM redistributes to
    out-of-vocabulary words. N_{r+1} means the count at EXACTLY r+1
    (lead() + adjacency check, 0 on tail holes — plain GT without
    tail regression, so every output is a ratio of exact integers:
    one double division per column, bit-identical cross-engine).

    Scale shape: one word-keyed count (the idf_table shuffle), one
    tiny r-keyed count-of-counts aggregate (map-side combinable to
    ~hundreds of distinct frequencies), a bounded value-level window,
    and a 1-row total broadcast. The vocabulary never reaches the
    driver."""
    docs = load_table(spark, sf_dir, "documents")
    return good_turing_readout(word_counts(docs).withColumnRenamed("n", "r"))


def good_turing_readout(wc: DataFrame) -> DataFrame:
    """Good-Turing table as a pure function of the (word, r) corpus
    word counts — the same ADDITIVE sufficient statistic the Zipf
    drain maintains, so the streaming twin reads out from merged
    state through this exact function."""
    coc = wc.groupBy("r").agg(F.count("*").alias("n_r"))
    tot = coc.agg(F.sum(F.col("r") * F.col("n_r")).alias("n_tokens"))
    w = Window.orderBy("r")
    nxt = coc.select(
        "r", "n_r",
        F.lead("r").over(w).alias("r_next"),
        F.lead("n_r").over(w).alias("n_next"),
    )
    gt = nxt.select(
        "r", "n_r",
        F.when(F.col("r_next") == F.col("r") + 1, F.col("n_next"))
        .otherwise(F.lit(0)).alias("n_r1"),
    )
    r, n_r, n_r1 = F.col("r"), F.col("n_r"), F.col("n_r1")
    return gt.crossJoin(F.broadcast(tot)).select(
        r.cast("long").alias("r"),
        n_r.cast("long").alias("n_r"),
        n_r1.cast("long").alias("n_r_plus_1"),
        F.when(
            n_r1 > 0, ((r + 1) * n_r1).cast("double") / n_r
        ).alias("r_star"),
        F.when(
            n_r1 > 0,
            ((r + 1) * n_r1).cast("double")
            / (n_r.cast("double") * F.col("n_tokens")),
        ).alias("p_gt"),
        F.when(
            r == 1, n_r.cast("double") / F.col("n_tokens")
        ).alias("unseen_mass"),
    )


# ---------------------------------------------------------------------------
# token-budget waterfill across sources (3 unrolled redistribution rounds)
# ---------------------------------------------------------------------------

_WF_BUDGET_NUM, _WF_BUDGET_DEN = 1, 2  # budget = floor(total_tokens / 2)

_WATERFILL_SQL = f"""
WITH supply AS (
  SELECT source, sum({T.token_count_sql('text')}) AS supply
  FROM documents GROUP BY source
),
tot AS (
  SELECT sum(supply) AS total,
         sum(supply) * {_WF_BUDGET_NUM} // {_WF_BUDGET_DEN} AS budget
  FROM supply
),
-- round 1
a1 AS (
  SELECT s.source, s.supply,
         row_number() OVER (ORDER BY s.source) AS rk,
         count(*) OVER () AS k, tot.budget AS r
  FROM supply s, tot WHERE s.supply > 0
),
g1 AS (
  SELECT source, supply,
         LEAST(supply, r // k + CASE WHEN rk <= r % k THEN 1 ELSE 0 END)
           AS give
  FROM a1
),
s1 AS (
  SELECT source, supply, give AS alloc, supply - give AS lft FROM g1
),
r1 AS (SELECT tot.budget - (SELECT sum(give) FROM g1) AS r FROM tot),
-- round 2
a2 AS (
  SELECT s1.source, s1.supply, s1.alloc, s1.lft,
         row_number() OVER (ORDER BY s1.source) AS rk,
         count(*) OVER () AS k, r1.r
  FROM s1, r1 WHERE s1.lft > 0 AND r1.r > 0
),
g2 AS (
  SELECT source,
         LEAST(lft, r // k + CASE WHEN rk <= r % k THEN 1 ELSE 0 END) AS give
  FROM a2
),
s2 AS (
  SELECT s1.source, s1.supply,
         s1.alloc + coalesce(g2.give, 0) AS alloc,
         s1.lft - coalesce(g2.give, 0) AS lft
  FROM s1 LEFT JOIN g2 USING (source)
),
r2 AS (SELECT r1.r - coalesce((SELECT sum(give) FROM g2), 0) AS r FROM r1),
-- round 3
a3 AS (
  SELECT s2.source, s2.supply, s2.alloc, s2.lft,
         row_number() OVER (ORDER BY s2.source) AS rk,
         count(*) OVER () AS k, r2.r
  FROM s2, r2 WHERE s2.lft > 0 AND r2.r > 0
),
g3 AS (
  SELECT source,
         LEAST(lft, r // k + CASE WHEN rk <= r % k THEN 1 ELSE 0 END) AS give
  FROM a3
),
s3 AS (
  SELECT s2.source, s2.supply,
         s2.alloc + coalesce(g3.give, 0) AS alloc,
         s2.lft - coalesce(g3.give, 0) AS lft
  FROM s2 LEFT JOIN g3 USING (source)
),
r3 AS (SELECT r2.r - coalesce((SELECT sum(give) FROM g3), 0) AS r FROM r2)
SELECT s3.source,
       CAST(s3.supply AS BIGINT) AS supply_tokens,
       CAST(s3.alloc AS BIGINT) AS allocated_tokens,
       s3.lft = 0 AS exhausted,
       CAST(tot.budget AS BIGINT) AS budget,
       CAST(r3.r AS BIGINT) AS budget_left
FROM s3, tot, r3
"""


@register("curation_token_waterfill", oracle=_WATERFILL_SQL)
def curation_token_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget waterfill across sources (built r9, staged r10) —
    the allocation step of training-data mixing: given a token budget
    (here floor(total/2)) and an equal target share per source, give
    each source its share, cap at what the source actually has, and
    redistribute the shortfall among non-exhausted sources — THREE
    unrolled redistribution rounds (the unrolled-iteration
    convention). Everything is EXACT INTEGER arithmetic: each round
    splits the remaining budget by floor-division with the
    largest-remainder extra token going to the first (budget mod k)
    active sources in source-name order (the deterministic tiebreak
    rel_largest_remainder_alloc established), so both engines produce
    identical allocations token-for-token with no float anywhere.

    Scale shape: one source-keyed token-count aggregate (map-side
    combinable; the only data-sized pass); all three rounds run on the
    bounded source-level table with 1-row budget broadcasts."""
    docs = load_table(spark, sf_dir, "documents")
    supply = docs.groupBy("source").agg(
        F.sum(T.token_count("text")).alias("supply")
    )
    tot = supply.agg(
        F.sum("supply").alias("total"),
        F.floor(
            F.sum("supply") * _WF_BUDGET_NUM / _WF_BUDGET_DEN
        ).alias("budget"),
    )

    def one_round(state, r_df):
        """state: (source, supply, alloc, lft); r_df: 1-row (r)."""
        active = (
            state.crossJoin(F.broadcast(r_df))
            .filter((F.col("lft") > 0) & (F.col("r") > 0))
            .withColumn(
                "rk", F.row_number().over(Window.orderBy("source"))
            )
            .withColumn(
                "k",
                F.count("*").over(
                    Window.rowsBetween(
                        Window.unboundedPreceding,
                        Window.unboundedFollowing,
                    )
                ),
            )
        )
        give = active.select(
            "source",
            F.least(
                F.col("lft"),
                F.floor(F.col("r") / F.col("k"))
                + F.when(
                    F.col("rk") <= F.col("r") % F.col("k"), 1
                ).otherwise(0),
            ).alias("give"),
        )
        new_state = (
            state.join(F.broadcast(give), "source", "left")
            .select(
                "source", "supply",
                (F.col("alloc") + F.coalesce(F.col("give"), F.lit(0)))
                .alias("alloc"),
                (F.col("lft") - F.coalesce(F.col("give"), F.lit(0)))
                .alias("lft"),
            )
        )
        spent = give.agg(
            F.coalesce(F.sum("give"), F.lit(0)).alias("spent")
        )
        new_r = (
            r_df.crossJoin(F.broadcast(spent))
            .select((F.col("r") - F.col("spent")).alias("r"))
        )
        return new_state, new_r

    state = supply.filter(F.col("supply") > 0).select(
        "source", "supply",
        F.lit(0).cast("long").alias("alloc"),
        F.col("supply").alias("lft"),
    )
    r_df = tot.select(F.col("budget").alias("r"))
    for _ in range(3):
        state, r_df = one_round(state, r_df)
    return (
        state.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(r_df))
        .select(
            "source",
            F.col("supply").cast("long").alias("supply_tokens"),
            F.col("alloc").cast("long").alias("allocated_tokens"),
            (F.col("lft") == 0).alias("exhausted"),
            F.col("budget").cast("long").alias("budget"),
            F.col("r").cast("long").alias("budget_left"),
        )
    )


# ---------------------------------------------------------------------------
# reliability diagram + expected calibration error
# ---------------------------------------------------------------------------

_RELIA_BINS = 10

_RELIABILITY_SQL = f"""
WITH scored AS (
  SELECT CAST(round(
           CAST(len(list_distinct({T.tokens_sql('text')})) AS DOUBLE)
             / len({T.tokens_sql('text')}), 6) AS DECIMAL(18,6)) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents WHERE len({T.tokens_sql('text')}) > 0
),
binned AS (
  SELECT LEAST(CAST(floor(s * {_RELIA_BINS}) AS BIGINT),
               {_RELIA_BINS - 1}) AS bin,
         s, y
  FROM scored
),
bins AS (
  SELECT bin, count(*) AS n,
         CAST(sum(s) AS DECIMAL(38,6)) AS s_sum,
         sum(y) AS y_sum
  FROM binned GROUP BY bin
),
tot AS (SELECT sum(n) AS total FROM bins),
per AS (
  SELECT bin, n,
         CAST(s_sum AS DOUBLE) / n AS mean_score,
         CAST(y_sum AS DOUBLE) / n AS frac_positive,
         CAST(round(
           n * abs(CAST(s_sum AS DOUBLE) / n
                   - CAST(y_sum AS DOUBLE) / n), 9)
           AS DECIMAL(28,9)) AS ece_term
  FROM bins
)
SELECT per.bin, CAST(per.n AS BIGINT) AS n,
       per.mean_score, per.frac_positive,
       CAST((SELECT CAST(sum(ece_term) AS DECIMAL(38,9)) FROM per)
            AS DOUBLE) / tot.total AS ece
FROM per, tot
"""


@register("curation_reliability_diagram", oracle=_RELIABILITY_SQL)
def curation_reliability_diagram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reliability diagram + expected calibration error (built r9
    session 3, staged r10) — the eval that tells a pipeline whether a
    confidence-like score MEANS what it says before the score gates
    anything (the measurement companion to curation_platt_calibration,
    which FIXES miscalibration, and curation_conformal_threshold,
    which sidesteps it): scores (per-doc distinct-token ratio, round-6
    like Platt's signal) bucket into {_RELIA_BINS} equal-width bins;
    each bin reports its mean score (confidence) beside its empirical
    positive rate, and ECE = sum_b n_b/N * |conf_b - acc_b| rides
    every row. Per-bin sums add round-6 DECIMALs (exact, order-free);
    each |conf - acc| gap is a double expression over those exact
    sums, and the ECE terms round to 9dp DECIMAL before their exact
    sum — the chi2/PSI discipline — so the one readout double is ONE
    division, bit-identical cross-engine. The top bin is closed
    (score 1.0 joins bin {_RELIA_BINS - 1}).

    Scale shape: one scan-stage score, one {_RELIA_BINS}-key map-side
    combinable aggregate, a 1-row total broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    return reliability_readout(reliability_bin_counts(docs))


def reliability_bin_counts(docs: DataFrame) -> DataFrame:
    """(bin, n, s_sum, y_sum) sufficient statistics for the reliability
    diagram — ADDITIVE (exact decimal + integer sums), so per-batch
    deltas merge through the add-sink into exactly the one-pass state.
    Shared by the batch query and stream_reliability_drain."""
    toks = T.tokens("text")
    scored = docs.where(F.size(toks) > 0).select(
        F.round(
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 6
        ).cast("decimal(18,6)").alias("s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    binned = scored.select(
        F.least(
            F.floor(F.col("s") * _RELIA_BINS).cast("long"),
            F.lit(_RELIA_BINS - 1),
        ).alias("bin"),
        "s", "y",
    )
    return binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("s").cast("decimal(38,6)").alias("s_sum"),
        F.sum("y").cast("long").alias("y_sum"),
    )


def reliability_readout(bins: DataFrame) -> DataFrame:
    """Per-bin confidence/accuracy + ECE from the additive bin
    statistics — a pure function of the state, shared by both paths."""
    mean_score = F.col("s_sum").cast("double") / F.col("n")
    frac_pos = F.col("y_sum").cast("double") / F.col("n")
    per = bins.select(
        "bin", "n",
        mean_score.alias("mean_score"),
        frac_pos.alias("frac_positive"),
        F.round(
            F.col("n") * F.abs(mean_score - frac_pos), 9
        ).cast("decimal(28,9)").alias("ece_term"),
    )
    ece = per.agg(
        F.sum("ece_term").cast("decimal(38,9)").alias("ece_num"),
        F.sum("n").alias("total"),
    )
    return per.crossJoin(F.broadcast(ece)).select(
        "bin",
        F.col("n").cast("long").alias("n"),
        "mean_score", "frac_positive",
        (F.col("ece_num").cast("double") / F.col("total")).alias("ece"),
    )


# ---------------------------------------------------------------------------
# ROC AUC + PR AUC over the calibration signal (built r12, staged r13)
# ---------------------------------------------------------------------------

# shared (score, pos, neg) value grid over the SAME round-6
# distinct-token-ratio score and lang='en' label the calibration family
# states (reliability diagram / Platt / conformal) — consumed by both
# ranking-quality oracles below
_SCORE_GRID_CTES = f"""scored AS (
  SELECT CAST(round(
           CAST(len(list_distinct({T.tokens_sql('text')})) AS DOUBLE)
             / len({T.tokens_sql('text')}), 6) AS DECIMAL(18,6)) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents WHERE len({T.tokens_sql('text')}) > 0
),
grid AS (
  SELECT s, sum(y) AS pos, sum(1 - y) AS neg
  FROM scored GROUP BY s
)"""

_ROC_AUC_SQL = f"""
WITH {_SCORE_GRID_CTES},
cum AS (
  SELECT pos, neg,
         coalesce(sum(neg) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
           PRECEDING AND 1 PRECEDING), 0) AS neg_below
  FROM grid
),
agg AS (
  SELECT CAST(coalesce(sum(pos), 0) AS BIGINT) AS n_pos,
         CAST(coalesce(sum(neg), 0) AS BIGINT) AS n_neg,
         CAST(coalesce(sum(pos * (2 * neg_below + neg)), 0) AS BIGINT)
           AS u_x2
  FROM cum
)
SELECT n_pos, n_neg, u_x2,
       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         round(CAST(u_x2 AS DOUBLE) / (2 * n_pos * n_neg), 9)
       END AS auc,
       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         round(CAST(u_x2 - n_pos * n_neg AS DOUBLE) / (n_pos * n_neg), 9)
       END AS gini
FROM agg
"""


def _score_label_grid(docs: DataFrame) -> DataFrame:
    """(s, pos, neg) counts per distinct round-6 score — the bounded
    value grid both ranking-quality readouts derive from (the
    mannwhitney value-level device: no per-doc rank window ever
    exists). Score/label match the calibration family exactly."""
    toks = T.tokens("text")
    scored = docs.where(F.size(toks) > 0).select(
        F.round(
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 6
        ).cast("decimal(18,6)").alias("s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    return scored.groupBy("s").agg(
        F.sum("y").alias("pos"),
        F.sum(1 - F.col("y")).alias("neg"),
    )


@register("curation_roc_auc", oracle=_ROC_AUC_SQL)
def curation_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC + Gini of the calibration family's quality signal (built
    r12, staged r13) — the RANKING-quality readout beside the
    calibration ones: reliability/ECE ask whether the distinct-token-
    ratio score MEANS its confidence, Platt fixes it, conformal
    sidesteps it — AUC asks the prior question, does the score ORDER
    English docs above the rest at all (AUC = P(score_pos >
    score_neg) + ties/2, the probabilistic discrimination measure a
    gate is actually chosen by). Gini = 2*AUC - 1 rides along.

    Exactness: the mannwhitney value-level device verbatim — AUC is
    the normalized U statistic computed on the exact 2x integer grid
    (u_x2 = sum_s pos_s * (2*neg_below + neg_s) over distinct round-6
    scores; ties count half, no .5 ever touches a float), and the two
    outputs are single double divisions of exact <2^53 integers
    rounded to the 9dp grid. Degenerate inputs (single-class corpora)
    yield NULL auc/gini, never div-by-zero.

    Scale shape: one scan-stage score, one bounded value-grid count
    (<= 1e6 distinct round-6 ratios at ANY corpus size), a grid-sized
    window, a 1-row readout — nothing row-scaled past the first
    map-side-combinable reduce."""
    return auc_readout(
        _score_label_grid(load_table(spark, sf_dir, "documents"))
    )


def auc_readout(grid: DataFrame) -> DataFrame:
    """U-statistic AUC + Gini as a pure function of the (s, pos, neg)
    value-grid count table — the ADDITIVE sufficient statistic
    (bounded by distinct round-6 scores), shared by the batch query
    and the streaming drain (r12): the below-cumulative, the exact 2x
    integer U, and the rounded readout divisions all derive from it."""
    wprev = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = grid.select(
        "pos", "neg",
        F.coalesce(F.sum("neg").over(wprev), F.lit(0)).alias("neg_below"),
    )
    agg = cum.groupBy().agg(
        F.coalesce(F.sum("pos"), F.lit(0)).cast("long").alias("n_pos"),
        F.coalesce(F.sum("neg"), F.lit(0)).cast("long").alias("n_neg"),
        F.coalesce(
            F.sum(
                F.col("pos") * (2 * F.col("neg_below") + F.col("neg"))
            ),
            F.lit(0),
        ).cast("long").alias("u_x2"),
    )
    n_pos, n_neg, u_x2 = F.col("n_pos"), F.col("n_neg"), F.col("u_x2")
    ok = (n_pos > 0) & (n_neg > 0)
    return agg.select(
        "n_pos", "n_neg", "u_x2",
        F.when(
            ok, F.round(u_x2.cast("double") / (2 * n_pos * n_neg), 9)
        ).alias("auc"),
        F.when(
            ok,
            F.round((u_x2 - n_pos * n_neg).cast("double") / (n_pos * n_neg), 9),
        ).alias("gini"),
    )


_PR_AUC_SQL = f"""
WITH {_SCORE_GRID_CTES},
prcum AS (
  SELECT pos,
         sum(pos) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED
           PRECEDING AND CURRENT ROW) AS tp,
         sum(neg) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED
           PRECEDING AND CURRENT ROW) AS fp
  FROM grid
),
terms AS (
  SELECT CAST(round(CAST(pos * tp AS DOUBLE) / (tp + fp), 9)
              AS DECIMAL(28,9)) AS ap_term
  FROM prcum WHERE pos > 0
),
sizes AS (
  SELECT CAST(coalesce(sum(pos), 0) AS BIGINT) AS n_pos,
         CAST(coalesce(sum(neg), 0) AS BIGINT) AS n_neg,
         CAST(count(*) AS BIGINT) AS n_thresholds
  FROM grid
),
agg AS (
  SELECT CAST(coalesce(sum(ap_term), 0) AS DECIMAL(38,9)) AS ap_num
  FROM terms
)
SELECT s.n_pos, s.n_neg, s.n_thresholds,
       CASE WHEN s.n_pos > 0 THEN
         round(CAST(a.ap_num AS DOUBLE) / s.n_pos, 9)
       END AS average_precision,
       CASE WHEN s.n_pos + s.n_neg > 0 THEN
         round(CAST(s.n_pos AS DOUBLE) / (s.n_pos + s.n_neg), 9)
       END AS prevalence
FROM sizes s, agg a
"""


@register("curation_pr_auc", oracle=_PR_AUC_SQL)
def curation_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (PR AUC, threshold-sum form) over the SAME
    score grid as curation_roc_auc (built r12, staged r13) — the
    ranking readout that matters when positives are RARE: ROC AUC
    stays optimistic under imbalance (false positives dilute into a
    huge negative pool), while AP weights precision AT each recall
    step: AP = sum_s (dTP_s / P) * precision_s over distinct score
    thresholds descending — exactly sklearn's step-interpolation, on
    the value grid instead of a per-doc sort. The no-skill baseline
    (prevalence) rides along, since AP only means something relative
    to it.

    Exactness: tp/fp are exact integer cumulative sums over the
    bounded descending grid; each term pos_s * tp / (tp+fp) is ONE
    double division of exact integers pinned to the 9dp decimal grid
    before the exact decimal sum; the final AP and prevalence are
    single rounded divisions of exact aggregates. Empty/positive-free
    corpora yield NULL average_precision.

    Scale shape: identical to curation_roc_auc — scan-stage score,
    bounded grid, grid-sized window, 1-row readout."""
    grid = _score_label_grid(load_table(spark, sf_dir, "documents"))
    from ..cache import persist_tracked

    grid = persist_tracked(grid)
    wcum = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    prcum = grid.select(
        "pos",
        F.sum("pos").over(wcum).alias("tp"),
        F.sum("neg").over(wcum).alias("fp"),
    )
    terms = prcum.where(F.col("pos") > 0).select(
        F.round(
            (F.col("pos") * F.col("tp")).cast("double")
            / (F.col("tp") + F.col("fp")),
            9,
        ).cast("decimal(28,9)").alias("ap_term")
    )
    sizes = grid.groupBy().agg(
        F.coalesce(F.sum("pos"), F.lit(0)).cast("long").alias("n_pos"),
        F.coalesce(F.sum("neg"), F.lit(0)).cast("long").alias("n_neg"),
        F.count("*").cast("long").alias("n_thresholds"),
    )
    agg = terms.groupBy().agg(
        F.coalesce(F.sum("ap_term"), F.lit(0))
        .cast("decimal(38,9)").alias("ap_num")
    )
    out = sizes.crossJoin(F.broadcast(agg))
    n_pos, n_neg = F.col("n_pos"), F.col("n_neg")
    return out.select(
        "n_pos", "n_neg", "n_thresholds",
        F.when(
            n_pos > 0,
            F.round(F.col("ap_num").cast("double") / n_pos, 9),
        ).alias("average_precision"),
        F.when(
            (n_pos + n_neg) > 0,
            F.round(n_pos.cast("double") / (n_pos + n_neg), 9),
        ).alias("prevalence"),
    )


# ---------------------------------------------------------------------------
# Jelinek-Mercer bigram LM scoring (built r12, staged r13)
# ---------------------------------------------------------------------------

# fixed interpolation weight as an exact rational (7/10) so the pinned
# probability stays one integer-lattice quotient
_JM_LAM_NUM, _JM_LAM_DEN = 7, 10

_JM_BIGRAM_SQL = f"""
WITH tok AS (
  SELECT doc_id, {T.tokens_sql('text')} AS t FROM documents
),
tr0 AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS k
  FROM tok WHERE len(t) >= 2
),
tr AS (
  SELECT doc_id, t[CAST(k AS INT)] AS w1, t[CAST(k AS INT) + 1] AS w2
  FROM tr0
),
dbg AS (
  SELECT doc_id, w1, w2, count(*) AS c_doc FROM tr GROUP BY doc_id, w1, w2
),
bg AS (SELECT w1, w2, CAST(sum(c_doc) AS BIGINT) AS c FROM dbg GROUP BY w1, w2),
ctx AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c1 FROM bg GROUP BY w1),
uni AS (SELECT w2, CAST(sum(c) AS BIGINT) AS c2 FROM bg GROUP BY w2),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM bg),
scored AS (
  SELECT d.doc_id, d.c_doc,
         CAST(round(log10(
           (CAST({_JM_LAM_NUM} AS DOUBLE) * b.c * tot.nn
            + CAST({_JM_LAM_DEN - _JM_LAM_NUM} AS DOUBLE) * uni.c2 * ctx.c1)
           / (CAST({_JM_LAM_DEN} AS DOUBLE) * ctx.c1 * tot.nn)
         ), 6) AS DECIMAL(18,6)) AS lp
  FROM dbg d
  JOIN bg b ON b.w1 = d.w1 AND b.w2 = d.w2
  JOIN ctx ON ctx.w1 = d.w1
  JOIN uni ON uni.w2 = d.w2
  CROSS JOIN tot
)
SELECT doc_id, CAST(sum(c_doc) AS BIGINT) AS n_transitions,
       CAST(CAST(sum(c_doc * lp) AS DOUBLE) / sum(c_doc) AS DOUBLE)
         AS jm_logprob
FROM scored GROUP BY doc_id
"""


@register("text_jelinek_mercer_bigram", oracle=_JM_BIGRAM_SQL)
def text_jelinek_mercer_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer interpolated bigram LM scoring (built r12, staged
    r13) — the FIFTH smoothing family, completing the Chen & Goodman
    lineup the repo states: Kneser-Ney (absolute discount +
    continuation), Witten-Bell (type-count-sized interpolation),
    Stupid Backoff (unnormalized cascade), Good-Turing
    (count-of-counts), and now the fixed-weight linear interpolation
    JM anchors the whole family to:
      p_JM(w2|w1) = λ·p_ml(w2|w1) + (1-λ)·p_ml(w2),  λ = 7/10.
    WB answers "how much should THIS context trust its own counts?"
    per-context; JM is the global-λ baseline every held-out-EM
    variant tunes from — over the same in-corpus bigram relation as
    KN/WB, so all five scores are directly comparable per doc.

    Exactness: with λ = 7/10 exact-rational, p is ONE integer-lattice
    quotient (7·c·N + 3·c2·c1)/(10·c1·N) evaluated as a fixed-shape
    double expression (all operands < 2^53 at bench tiers; DECIMAL
    lattice past ~1e7 corpus tokens — noted, same envelope as WB),
    log10 rounds to 6dp DECIMAL before the per-doc weighted mean — the
    KN device verbatim (jm_logprob carries the same unrounded-double
    allowlist audit as kn/wb: exact decimal sum / exact count, one
    IEEE division).

    Scale shape: identical to KN/WB — the fact side crosses the wire
    once as per-(doc,w1,w2) counts; ctx/uni/N are bigram-relation
    reductions that broadcast back at fixture scale and AQE-shuffle
    at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    # r13: NO spread here — the r12 rebalance was a driver-measured
    # pessimization (0.89x, +1 MB shuffle carrying the full text column,
    # 8-core run beating 32-core). The per-doc bigram aggregation's map
    # side collapses each doc to its distinct (w1,w2) counts BEFORE the
    # exchange, so the tokenize cost it parallelized is smaller than the
    # full-text shuffle it added (guide §2.3: shuffling the payload to
    # save single-core arithmetic is the wrong trade).
    base = docs.select("doc_id", T.tokens("text").alias("t")).where(
        F.size("t") >= 2
    )
    trans = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), k -> "
                "struct(element_at(t, k) AS w1, element_at(t, k + 1) AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    from ..cache import persist_tracked

    dbg = persist_tracked(
        trans.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("c_doc"))
    )
    bg = persist_tracked(
        dbg.groupBy("w1", "w2").agg(F.sum("c_doc").cast("bigint").alias("c"))
    )
    ctx = bg.groupBy("w1").agg(F.sum("c").cast("bigint").alias("c1"))
    uni = bg.groupBy("w2").agg(F.sum("c").cast("bigint").alias("c2"))
    tot = bg.agg(F.sum("c").cast("bigint").alias("nn"))
    p = (
        F.lit(float(_JM_LAM_NUM)) * F.col("c") * F.col("nn")
        + F.lit(float(_JM_LAM_DEN - _JM_LAM_NUM)) * F.col("c2") * F.col("c1")
    ) / (
        F.lit(float(_JM_LAM_DEN)) * F.col("c1") * F.col("nn")
    )
    scored = (
        dbg.join(bg, ["w1", "w2"])
        .join(ctx, "w1")
        .join(uni, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "c_doc",
            F.round(F.log10(p), 6).cast("decimal(18,6)").alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("c_doc").cast("bigint").alias("n_transitions"),
        (
            F.sum(F.col("c_doc") * F.col("lp")).cast("double")
            / F.sum("c_doc")
        )
        .cast("double")
        .alias("jm_logprob"),
    )


# ---------------------------------------------------------------------------
# Chao1 vocabulary-richness estimator (from the count-of-counts table)
# ---------------------------------------------------------------------------

_CHAO1_SQL = f"""
WITH wc AS (
  SELECT word, count(*) AS r
  FROM (SELECT unnest({T.tokens_sql('text')}) AS word FROM documents)
  GROUP BY word
),
coc AS (
  SELECT count(*) AS s_obs,
         sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS f1,
         sum(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS f2,
         sum(r) AS n_tokens
  FROM wc
)
SELECT CAST(s_obs AS BIGINT) AS s_obs,
       CAST(f1 AS BIGINT) AS singletons,
       CAST(f2 AS BIGINT) AS doubletons,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       s_obs + CAST(f1 * (f1 - 1) AS DOUBLE) / (2 * (f2 + 1))
         AS chao1,
       CAST(f1 * (f1 - 1) AS DOUBLE) / (2 * (f2 + 1))
         / (s_obs + CAST(f1 * (f1 - 1) AS DOUBLE) / (2 * (f2 + 1)))
         AS unseen_vocab_share
FROM coc WHERE s_obs > 0
"""


@register("text_chao1_richness", oracle=_CHAO1_SQL)
def text_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 vocabulary-richness estimator (bias-corrected form; built
    r9 session 3, staged r10) — the how-much-vocabulary-haven't-we-
    seen readout that pairs with text_good_turing's unseen MASS: from
    the singleton/doubleton counts alone,
    S_chao1 = S_obs + f1(f1-1)/(2(f2+1)) lower-bounds the true
    vocabulary size, and the unseen-vocab share tells a crawl whether
    more of the same source still buys new types. The bias-corrected
    denominator (f2+1) makes the estimator total (no doubleton
    div-by-zero); every output is one double expression over exact
    integer counts, identical operator order in both engines.

    Scale shape: one word-keyed count (the idf_table shuffle) reduced
    map-side to a single sufficient-statistics row."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(T.tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("r"))
    )
    coc = wc.agg(
        F.count("*").alias("s_obs"),
        F.sum(F.when(F.col("r") == 1, 1).otherwise(0)).alias("f1"),
        F.sum(F.when(F.col("r") == 2, 1).otherwise(0)).alias("f2"),
        F.sum("r").alias("n_tokens"),
    ).filter(F.col("s_obs") > 0)
    extra = (F.col("f1") * (F.col("f1") - 1)).cast("double") / (
        2 * (F.col("f2") + 1)
    )
    chao1 = F.col("s_obs") + extra
    return coc.select(
        F.col("s_obs").cast("long").alias("s_obs"),
        F.col("f1").cast("long").alias("singletons"),
        F.col("f2").cast("long").alias("doubletons"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        chao1.alias("chao1"),
        (extra / chao1).alias("unseen_vocab_share"),
    )


# ---------------------------------------------------------------------------
# Stupid Backoff trigram LM, held-out scoring (built r11, staged r12)
# ---------------------------------------------------------------------------

_SB_A = 0.4  # the backoff multiplier from Brants et al. 2007

_SB_TRIGRAM_SQL = f"""
WITH tok AS (
  SELECT doc_id, {T.tokens_sql('text')} AS t FROM documents
),
train_tok AS (
  SELECT unnest(t) AS w FROM tok WHERE doc_id % 2 = 0
),
u1 AS (SELECT w, count(*) AS c FROM train_tok GROUP BY w),
nn AS (SELECT count(*) AS n FROM train_tok),
train_bg AS (
  SELECT t[CAST(k AS INT)] AS w1, t[CAST(k AS INT) + 1] AS w2,
         count(*) AS c
  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS k
        FROM tok WHERE doc_id % 2 = 0 AND len(t) >= 2)
  GROUP BY 1, 2
),
train_tg AS (
  SELECT t[CAST(k AS INT)] AS w1, t[CAST(k AS INT) + 1] AS w2,
         t[CAST(k AS INT) + 2] AS w3, count(*) AS c
  FROM (SELECT t, unnest(generate_series(1, len(t) - 2)) AS k
        FROM tok WHERE doc_id % 2 = 0 AND len(t) >= 3)
  GROUP BY 1, 2, 3
),
probe AS (
  SELECT doc_id, t[CAST(k AS INT)] AS w1, t[CAST(k AS INT) + 1] AS w2,
         t[CAST(k AS INT) + 2] AS w3, count(*) AS c_doc
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS k
        FROM tok WHERE doc_id % 2 = 1 AND len(t) >= 3)
  GROUP BY 1, 2, 3, 4
),
scored AS (
  SELECT p.doc_id, p.c_doc,
         CAST(round(log10(CASE
           WHEN t3.c IS NOT NULL THEN
             CAST(t3.c AS DOUBLE) / b2c.c
           WHEN b2.c IS NOT NULL THEN
             {_SB_A} * (CAST(b2.c AS DOUBLE) / u2.c)
           WHEN u3.c IS NOT NULL THEN
             {_SB_A * _SB_A} * (CAST(u3.c AS DOUBLE) / nn.n)
           ELSE {_SB_A ** 3} / nn.n
         END), 6) AS DECIMAL(18,6)) AS lp
  FROM probe p
  LEFT JOIN train_tg t3
    ON t3.w1 = p.w1 AND t3.w2 = p.w2 AND t3.w3 = p.w3
  LEFT JOIN train_bg b2c ON b2c.w1 = p.w1 AND b2c.w2 = p.w2
  LEFT JOIN train_bg b2 ON b2.w1 = p.w2 AND b2.w2 = p.w3
  LEFT JOIN u1 u2 ON u2.w = p.w2
  LEFT JOIN u1 u3 ON u3.w = p.w3
  CROSS JOIN nn
)
SELECT doc_id, CAST(sum(c_doc) AS BIGINT) AS n_trigrams,
       CAST(CAST(sum(c_doc * lp) AS DOUBLE) / sum(c_doc) AS DOUBLE)
         AS sb_logprob
FROM scored GROUP BY doc_id
"""


@register(
    "text_stupid_backoff_trigram", oracle=_SB_TRIGRAM_SQL
)
def text_stupid_backoff_trigram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stupid Backoff trigram LM with HELD-OUT scoring (built r11,
    staged r12) — the web-scale smoothing from Brants et al. 2007
    ("Large Language Models in Machine Translation"): no discounting,
    no normalization, just score S(w3|w1w2) = c3/c2 when the trigram
    is observed, else 0.4·S(w3|w2), else 0.16·c1/N, else 0.064/N for
    full OOV. The LM trains on the EVEN half of the corpus and scores
    the ODD half (the first held-out LM query — self-corpus scoring
    can never take a backoff branch since every probe n-gram is in its
    own training set), so all four branches genuinely fire and the
    per-doc score is an honest generalization signal beside
    text_kneser_ney_bigram's in-corpus fit.

    Exactness: every count is an exact integer; each branch is one
    fixed-shape double expression; per-trigram log10 rounds to 6dp
    DECIMAL before the multiplicity-weighted per-doc mean (the KN
    device — nothing order-dependent crosses a sum).

    Scale shape: probe trigrams reduce map-side to per-(doc, w1w2w3)
    counts (the fact side crosses once); the four LM tables are
    n-gram-keyed reductions joined by key (AQE shuffles the trigram
    join at scale while unigrams/N broadcast); the total is a 1-row
    broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", T.tokens("text").alias("t"))
    train = tok.where(F.col("doc_id") % 2 == 0)
    probe_docs = tok.where(F.col("doc_id") % 2 == 1)
    from ..cache import persist_tracked

    train = persist_tracked(train)
    u1 = (
        train.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    nn = train.select(F.explode("t").alias("w")).agg(
        F.count("*").alias("n")
    )

    def grams(src: DataFrame, n: int, with_doc: bool) -> DataFrame:
        cols = [
            F.col("g").getItem(i).alias(f"w{i + 1}") for i in range(n)
        ]
        exploded = src.where(F.size("t") >= n).select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(t) - {n - 1}),"
                    f" k -> slice(t, k, {n}))"
                )
            ).alias("g"),
        )
        keys = (["doc_id"] if with_doc else []) + [
            f"w{i + 1}" for i in range(n)
        ]
        return exploded.select("doc_id", *cols).groupBy(*keys).agg(
            F.count("*").alias("c_doc" if with_doc else "c")
        )

    t3 = grams(train, 3, False)
    b2 = grams(train, 2, False)
    probe = grams(probe_docs, 3, True)
    a = _SB_A
    score = F.when(
        F.col("c3").isNotNull(),
        F.col("c3").cast("double") / F.col("c2ctx"),
    ).when(
        F.col("c2").isNotNull(),
        a * (F.col("c2").cast("double") / F.col("cu2")),
    ).when(
        F.col("cu3").isNotNull(),
        a * a * (F.col("cu3").cast("double") / F.col("n")),
    ).otherwise(F.lit(a ** 3) / F.col("n"))
    scored = (
        probe.join(
            t3.select(
                "w1", "w2", "w3", F.col("c").alias("c3")
            ),
            ["w1", "w2", "w3"],
            "left",
        )
        .join(
            b2.select("w1", "w2", F.col("c").alias("c2ctx")),
            ["w1", "w2"],
            "left",
        )
        .join(
            b2.select(
                F.col("w1").alias("w2"),
                F.col("w2").alias("w3"),
                F.col("c").alias("c2"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(
            u1.select(F.col("w").alias("w2"), F.col("c").alias("cu2")),
            ["w2"],
            "left",
        )
        .join(
            u1.select(F.col("w").alias("w3"), F.col("c").alias("cu3")),
            ["w3"],
            "left",
        )
        .crossJoin(F.broadcast(nn))
        .select(
            "doc_id",
            "c_doc",
            F.round(F.log10(score), 6).cast("decimal(18,6)").alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("c_doc").cast("bigint").alias("n_trigrams"),
        (
            F.sum(F.col("c_doc") * F.col("lp")).cast("double")
            / F.sum("c_doc")
        )
        .cast("double")
        .alias("sb_logprob"),
    )


# ---------------------------------------------------------------------------
# DSIR importance weights (built r12, staged r13)
# ---------------------------------------------------------------------------

_DSIR_B = 256          # hashed feature buckets
_DSIR_TARGET = "en"    # target distribution: the English slice


_DSIR_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({T.tokens_sql('text')}) AS word
  FROM documents
),
bucketed AS (
  SELECT doc_id, lang, ({T.char_hash_sql('word')}) % {_DSIR_B} AS b
  FROM toks
),
src AS (SELECT b, count(*) AS cs FROM bucketed GROUP BY b),
tgt AS (
  SELECT b, count(*) AS ct FROM bucketed
  WHERE lang = '{_DSIR_TARGET}' GROUP BY b
),
tots AS (
  SELECT (SELECT count(*) FROM bucketed) AS ns,
         (SELECT count(*) FROM bucketed WHERE lang = '{_DSIR_TARGET}') AS nt
),
lam AS (
  SELECT s.b,
         CAST(round(ln(CAST((COALESCE(t.ct, 0) + 1) AS DOUBLE)
                       * (tots.ns + {_DSIR_B})
                       / (CAST(s.cs + 1 AS DOUBLE)
                          * (tots.nt + {_DSIR_B}))), 9)
              AS DECIMAL(18,9)) AS lam
  FROM src s LEFT JOIN tgt t ON t.b = s.b, tots
)
SELECT bk.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(CAST(sum(l.lam) AS DECIMAL(38,9)) AS DECIMAL(28,9))
         AS log_weight
FROM bucketed bk JOIN lam l ON l.b = bk.b
GROUP BY bk.doc_id
"""


@register("curation_dsir_weights", oracle=_DSIR_SQL)
def curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (built r12, staged r13) — Data Selection
    via Importance Resampling (Xie et al. 2023, arXiv:2302.03169), the
    modern LLM-curation selector beside the DoReMi reweighter
    (curation_mw_domain_reweight) and the quality gate: score every
    raw document by how much more likely its hashed n-gram features
    are under the TARGET distribution (here the English slice — the
    stand-in for 'looks like the eval domain') than under the raw
    corpus, then resample by the weight. Features are hashed unigrams
    (the engine's portable char-fold hash into {_DSIR_B} buckets);
    per-bucket log-ratios use add-1 smoothing so unseen-in-target
    buckets stay finite.

    Exactness: each bucket's log-ratio is ONE fixed-shape double
    expression of exact <2^53 counts — ln of a quotient of exact
    integers (the safe transcendental, the MI device) — rounded to
    the 9dp decimal grid; a document's log-weight is an EXACT decimal
    sum of its tokens' pinned bucket values (order-free), stated as
    DECIMAL(28,9).

    Scale shape: one token->bucket map-side-combinable count (bucket
    space fixed at {_DSIR_B}), a {_DSIR_B}-row broadcast of the
    log-ratio table joined back into the token stream, and one
    doc-keyed reduce — the canonical two-pass importance-weight plan;
    nothing but the doc profile leaves the last stage."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(T.tokens("text")).alias("word")
    )
    bucketed = toks.select(
        "doc_id",
        "lang",
        (T.char_hash("word") % _DSIR_B).alias("b"),
    )
    from ..cache import persist_tracked

    bucketed = persist_tracked(bucketed)
    is_t = F.col("lang") == _DSIR_TARGET
    src = bucketed.groupBy("b").agg(F.count("*").alias("cs"))
    tgt = bucketed.where(is_t).groupBy("b").agg(F.count("*").alias("ct"))
    tots = bucketed.agg(
        F.count("*").alias("ns"),
        F.count_if(is_t).alias("nt"),
    )
    lam = (
        src.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            F.round(
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                    * (F.col("ns") + _DSIR_B)
                    / (
                        (F.col("cs") + 1).cast("double")
                        * (F.col("nt") + _DSIR_B)
                    )
                ),
                9,
            )
            .cast("decimal(18,9)")
            .alias("lam"),
        )
    )
    return (
        bucketed.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("lam")
            .cast("decimal(38,9)")
            .cast("decimal(28,9)")
            .alias("log_weight"),
        )
    )


# ---------------------------------------------------------------------------
# Witten-Bell bigram LM scoring (built r12, staged r13)
# ---------------------------------------------------------------------------

_WB_BIGRAM_SQL = f"""
WITH tok AS (
  SELECT doc_id, {T.tokens_sql('text')} AS t FROM documents
),
tr0 AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS k
  FROM tok WHERE len(t) >= 2
),
tr AS (
  SELECT doc_id, t[CAST(k AS INT)] AS w1, t[CAST(k AS INT) + 1] AS w2
  FROM tr0
),
dbg AS (
  SELECT doc_id, w1, w2, count(*) AS c_doc FROM tr GROUP BY doc_id, w1, w2
),
bg AS (SELECT w1, w2, CAST(sum(c_doc) AS BIGINT) AS c FROM dbg GROUP BY w1, w2),
ctx AS (
  SELECT w1, CAST(sum(c) AS BIGINT) AS c1, CAST(count(*) AS BIGINT) AS tw
  FROM bg GROUP BY w1
),
uni AS (SELECT w2, CAST(sum(c) AS BIGINT) AS c2 FROM bg GROUP BY w2),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM bg),
scored AS (
  SELECT d.doc_id, d.c_doc,
         CAST(round(log10(
           (CAST(b.c AS DOUBLE) * tot.nn + CAST(ctx.tw AS DOUBLE) * uni.c2)
           / (CAST(tot.nn AS DOUBLE) * (ctx.c1 + ctx.tw))
         ), 6) AS DECIMAL(18,6)) AS lp
  FROM dbg d
  JOIN bg b ON b.w1 = d.w1 AND b.w2 = d.w2
  JOIN ctx ON ctx.w1 = d.w1
  JOIN uni ON uni.w2 = d.w2
  CROSS JOIN tot
)
SELECT doc_id, CAST(sum(c_doc) AS BIGINT) AS n_transitions,
       CAST(CAST(sum(c_doc * lp) AS DOUBLE) / sum(c_doc) AS DOUBLE)
         AS wb_logprob
FROM scored GROUP BY doc_id
"""


@register("text_witten_bell_bigram", oracle=_WB_BIGRAM_SQL)
def text_witten_bell_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Witten-Bell bigram LM scoring (built r12, staged
    r13) — the fourth smoothing family beside Kneser-Ney (absolute
    discount + continuation), Stupid Backoff (score cascade), and
    Good-Turing (count-of-counts): WB sizes the interpolation weight
    by how many DISTINCT continuations a context has seen —
      p_WB(w2|w1) = (c(w1,w2) + T(w1)·p_ml(w2)) / (c(w1·) + T(w1)),
    T(w1) = distinct continuation types — so novel-continuation-prone
    contexts lean harder on the unigram. The textbook identity used
    in PPM compressors; here over the same in-corpus bigram relation
    as KN, so the two scores are directly comparable per doc.

    Exactness: every LM statistic is an exact integer; p is stated as
    ONE integer-lattice quotient (c·N + T·c2)/(N·(c1+T)) evaluated as
    a fixed-shape double expression (all operands < 2^53), log10
    rounds to 6dp DECIMAL before the per-doc weighted mean — the KN
    device verbatim (wb_logprob carries the same unrounded-double
    allowlist audit as kn_logprob: exact decimal sum / exact count,
    one IEEE division).

    Scale shape: identical to KN — the fact side crosses the wire
    once as per-(doc,w1,w2) counts; ctx/uni/N are bigram-relation
    reductions that broadcast back at fixture scale and AQE-shuffle
    at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    # r13: NO spread here — the r12 rebalance was a driver-measured
    # pessimization (0.89x, +1 MB shuffle carrying the full text column,
    # 8-core run beating 32-core). The per-doc bigram aggregation's map
    # side collapses each doc to its distinct (w1,w2) counts BEFORE the
    # exchange, so the tokenize cost it parallelized is smaller than the
    # full-text shuffle it added (guide §2.3: shuffling the payload to
    # save single-core arithmetic is the wrong trade).
    base = docs.select("doc_id", T.tokens("text").alias("t")).where(
        F.size("t") >= 2
    )
    trans = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), k -> "
                "struct(element_at(t, k) AS w1, element_at(t, k + 1) AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    from ..cache import persist_tracked

    dbg = persist_tracked(
        trans.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("c_doc"))
    )
    bg = persist_tracked(
        dbg.groupBy("w1", "w2").agg(F.sum("c_doc").cast("bigint").alias("c"))
    )
    ctx = bg.groupBy("w1").agg(
        F.sum("c").cast("bigint").alias("c1"),
        F.count("*").cast("bigint").alias("tw"),
    )
    uni = bg.groupBy("w2").agg(F.sum("c").cast("bigint").alias("c2"))
    tot = bg.agg(F.sum("c").cast("bigint").alias("nn"))
    p = (
        F.col("c").cast("double") * F.col("nn")
        + F.col("tw").cast("double") * F.col("c2")
    ) / (
        F.col("nn").cast("double") * (F.col("c1") + F.col("tw"))
    )
    scored = (
        dbg.join(bg, ["w1", "w2"])
        .join(ctx, "w1")
        .join(uni, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "c_doc",
            F.round(F.log10(p), 6).cast("decimal(18,6)").alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("c_doc").cast("bigint").alias("n_transitions"),
        (
            F.sum(F.col("c_doc") * F.col("lp")).cast("double")
            / F.sum("c_doc")
        )
        .cast("double")
        .alias("wb_logprob"),
    )


# ---------------------------------------------------------------------------
# Isotonic (PAV) calibration via the minimax identity (built r12,
# staged r13)
# ---------------------------------------------------------------------------

_ISOTONIC_SQL = f"""
WITH {_SCORE_GRID_CTES},
idx AS (
  SELECT s, pos, pos + neg AS w,
         row_number() OVER (ORDER BY s) AS i,
         CAST(sum(pos) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
           PRECEDING AND CURRENT ROW) AS BIGINT) AS cp,
         CAST(sum(pos + neg) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
           PRECEDING AND CURRENT ROW) AS BIGINT) AS cw
  FROM grid
),
pairs AS (
  SELECT a.i AS j, b.i AS k,
         CAST(round(CAST(b.cp - (a.cp - a.pos) AS DOUBLE)
                    / (b.cw - (a.cw - a.w)), 9) AS DECIMAL(12,9)) AS avgjk
  FROM idx a JOIN idx b ON a.i <= b.i
),
mm AS (
  SELECT j, k,
         min(avgjk) OVER (PARTITION BY j ORDER BY k DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
  FROM pairs
),
fit AS (SELECT k, max(m) AS fitted FROM mm GROUP BY k)
SELECT g.s, CAST(g.w AS BIGINT) AS n,
       CAST(round(CAST(g.pos AS DOUBLE) / g.w, 9) AS DECIMAL(12,9))
         AS raw_rate,
       f.fitted
FROM idx g JOIN fit f ON f.k = g.i
"""


@register(
    "curation_isotonic_calibration", oracle=_ISOTONIC_SQL
)
def curation_isotonic_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Isotonic (pool-adjacent-violators) calibration of the quality
    signal (built r12, staged r13) — the NONPARAMETRIC calibrator
    completing the family: the reliability diagram shows the
    miscalibration, ECE scores it, Platt fits a 2-parameter sigmoid,
    conformal sidesteps calibration entirely; isotonic regression is
    the assumption-free standard when the score-probability relation
    is monotone but not sigmoid (and what sklearn's
    CalibratedClassifierCV(method='isotonic') runs). Stated WITHOUT
    the sequential PAV pooling loop via the minimax identity
    fitted_i = max_{{j<=i}} min_{{k>=i}} avg(y[j..k]) — an identity of
    the isotonic solution, so the whole fit is three windows over the
    bounded score grid and stays declarative in BOTH engines.

    Exactness: prefix sums are exact BIGINTs off the (s, pos, neg)
    grid (the shared _score_label_grid); every block average is ONE
    double division of exact < 2^53 integers rounded to the 9dp
    DECIMAL(12,9) grid (bit-identical cross-engine); min/max over
    pinned decimals are exact. The fit is PAV-on-the-9dp-grid —
    monotone by construction (growing j-set, shrinking k-set), which
    the named test asserts alongside a hand-pooled replica.

    Scale shape: the corpus is touched ONCE by the grid groupBy
    (map-side combinable); everything after is grid-sized — n^2
    pairs of a few-hundred-row bounded grid (518 rows at sf0.1), two
    windows, one join back. At 100 TB the grid is still score-
    cardinality-bounded: round-6 scores cap it at 1e6 rows
    regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    return isotonic_readout(_score_label_grid(docs))


def isotonic_readout(grid: DataFrame) -> DataFrame:
    """The minimax-PAV fit as a pure function of the (s, pos, neg)
    score-grid table — the ADDITIVE sufficient statistic the AUC
    drain already maintains (built r12): index/prefix windows, the
    n² pinned block averages, min/max windows, and the calibrated
    readout all derive from it. Shared by the batch query and the
    streaming drain."""
    wo = Window.orderBy("s")
    wcum = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    idx = grid.select(
        "s",
        "pos",
        (F.col("pos") + F.col("neg")).alias("w"),
        F.row_number().over(wo).alias("i"),
        F.sum("pos").over(wcum).cast("bigint").alias("cp"),
        F.sum(F.col("pos") + F.col("neg"))
        .over(wcum)
        .cast("bigint")
        .alias("cw"),
    )
    from ..cache import persist_tracked

    idx = persist_tracked(idx)
    a = idx.select(
        F.col("i").alias("j"),
        (F.col("cp") - F.col("pos")).alias("pjm1"),
        (F.col("cw") - F.col("w")).alias("wjm1"),
    )
    b = idx.select(
        F.col("i").alias("k"), F.col("cp").alias("pk"),
        F.col("cw").alias("wk"),
    )
    pairs = a.join(F.broadcast(b), F.col("j") <= F.col("k")).select(
        "j", "k",
        F.round(
            (F.col("pk") - F.col("pjm1")).cast("double")
            / (F.col("wk") - F.col("wjm1")),
            9,
        )
        .cast("decimal(12,9)")
        .alias("avgjk"),
    )
    wmin = Window.partitionBy("j").orderBy(F.desc("k")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    mm = pairs.select("j", "k", F.min("avgjk").over(wmin).alias("m"))
    fit = mm.groupBy("k").agg(F.max("m").alias("fitted"))
    return (
        idx.join(fit, idx["i"] == fit["k"])
        .select(
            "s",
            F.col("w").cast("bigint").alias("n"),
            F.round(F.col("pos").cast("double") / F.col("w"), 9)
            .cast("decimal(12,9)")
            .alias("raw_rate"),
            "fitted",
        )
    )
