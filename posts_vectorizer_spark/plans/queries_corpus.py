"""Corpus-index wave 5 (SURVEY.md §2.16 extensions): inverted-index build,
bigram PMI collocations, repeated-chunk boilerplate detection, random-sign
projection of embeddings, deterministic train/val/test splitting, and a
TPC-H Q17-style correlated-subquery decorrelation.

All [Q]: every query has an exact DuckDB twin built from the portable
expression helpers, so the differential oracle checks real values.

Scale notes per operator (see SCALE.md §Corpus wave 5): the inverted index
verifies its posting lists via an order-stable fold fingerprint so giant
arrays never cross the comparison boundary; PMI reduces to vocab-sized
count tables before any arithmetic; boilerplate chunk frequencies are one
window over 8-byte chunk hashes; the projection is array-local math with
zero shuffles; split assignment is pure row-local arithmetic; and Q17 is
the decorrelated broadcast-join form of the correlated subquery the oracle
spells out literally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions import text as T
from ..operators import bpe as _bpe
from ..operators.dedup import _doc_shingles_sql
from ..sources import load_table
from ..sources.catalog import spread
from .registry import register

# Fold base for combining sorted ids / chunk token-hashes into one int64
# fingerprint (same regime as dedup.SHINGLE_B: max intermediate
# (MOD-1)*B + MOD < 2^63).
FOLD_B = 1_000_003


# ---------------------------------------------------------------------------
# inverted index (posting lists, fingerprint-verified)
# ---------------------------------------------------------------------------

@register(
    "text_inverted_index",
    oracle=f"""
WITH doc_toks AS (
  SELECT doc_id, unnest({T.tokens_sql('text')}) AS word FROM documents
),
per AS (
  SELECT word, doc_id, count(*) AS tf FROM doc_toks GROUP BY word, doc_id
)
SELECT word,
       CAST(count(*) AS BIGINT) AS df,
       CAST(sum(tf) AS BIGINT) AS cf,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT), list_sort(list(doc_id))),
         (acc, d) -> (acc * {FOLD_B} + d % {T.HASH_MOD}) % {T.HASH_MOD}
       ) AS postings_fp
FROM per GROUP BY word
""",
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: word -> document frequency, collection
    frequency, and the posting list itself — the search-engine core
    structure (and the reference's IDF table is exactly its df column,
    /root/reference/calculate_idf_scores.py:40-60). The sorted posting
    list is verified through an order-stable polynomial fold fingerprint,
    so the oracle checks every doc_id in every list without shipping
    megabyte arrays through the row comparison.

    Scale shape: one tokenize pass, one (word, doc_id) pre-aggregate (the
    map-side-combinable shape), one word-keyed aggregate. The posting-list
    collect is the one deliberately order-sensitive step — sort_array
    makes it deterministic; at 100 TB posting lists for stopword-class
    terms are the skew risk, and the df/cf columns are computed BEFORE the
    list so a df-cap predicate can drop them without a second scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    doc_toks = spread(docs).select(
        "doc_id", F.explode(T.tokens("text")).alias("word")
    )
    per = doc_toks.groupBy("word", "doc_id").agg(F.count("*").alias("tf"))
    inv = per.groupBy("word").agg(
        F.count("*").alias("df"),
        F.sum("tf").cast("bigint").alias("cf"),
        F.sort_array(F.collect_list("doc_id")).alias("postings"),
    )
    fp = F.aggregate(
        "postings",
        F.lit(0).cast("long"),
        lambda acc, d: (acc * FOLD_B + d % T.HASH_MOD) % T.HASH_MOD,
    )
    return inv.select("word", "df", "cf", fp.alias("postings_fp"))


# ---------------------------------------------------------------------------
# bigram PMI collocations
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5


@register(
    "text_pmi_bigrams",
    oracle=f"""
WITH toks AS (
  SELECT {T.tokens_sql('text')} AS t FROM documents
),
bi AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM toks WHERE len(t) >= 2)
),
bc AS (SELECT w1, w2, count(*) AS c_ab FROM bi GROUP BY w1, w2),
uni AS (
  SELECT word, count(*) AS c FROM (SELECT unnest(t) AS word FROM toks)
  GROUP BY word
),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n_uni FROM uni),
totb AS (SELECT CAST(sum(c_ab) AS DOUBLE) AS n_bi FROM bc)
SELECT bc.w1, bc.w2, CAST(bc.c_ab AS BIGINT) AS c_ab,
       CAST(round(log10((bc.c_ab * tot.n_uni * tot.n_uni)
                        / (totb.n_bi * u1.c * u2.c)), 6) AS DOUBLE) AS pmi
FROM bc
JOIN uni u1 ON bc.w1 = u1.word
JOIN uni u2 ON bc.w2 = u2.word
CROSS JOIN tot CROSS JOIN totb
WHERE bc.c_ab >= {_PMI_MIN_COUNT}
""",
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram PMI collocation mining: pointwise mutual information of
    adjacent word pairs (log p(a,b) / (p(a) p(b))) — the classic
    phrase-detection signal a tokenizer-training / phrase-merging pipeline
    computes over the corpus. Pairs seen < {min_count} times are dropped
    (PMI is noise at tiny counts).

    Scale shape: bigrams reduce to a (w1, w2)-keyed count and unigrams to
    a vocab-sized count table before any arithmetic; both totals are
    broadcast 1-row aggregates, and the two unigram lookups are broadcast
    joins (vocab-sized build side — the idf_table shape). Nothing touches
    raw rows after the two counting shuffles.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = spread(docs).select(T.tokens("text").alias("t"))
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("t") - 1),
        lambda i: F.struct(
            F.element_at(F.col("t"), i).alias("w1"),
            F.element_at(F.col("t"), i + 1).alias("w2"),
        ),
    )
    bi = (
        toks.where(F.size("t") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
    )
    bc = bi.groupBy("w1", "w2").agg(F.count("*").alias("c_ab"))
    uni = (
        toks.select(F.explode("t").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("double").alias("n_uni"))
    totb = bc.agg(F.sum("c_ab").cast("double").alias("n_bi"))
    u1 = uni.withColumnRenamed("word", "w1").withColumnRenamed("c", "c1")
    u2 = uni.withColumnRenamed("word", "w2").withColumnRenamed("c", "c2")
    pmi = F.round(
        F.log10(
            (F.col("c_ab") * F.col("n_uni") * F.col("n_uni"))
            / (F.col("n_bi") * F.col("c1") * F.col("c2"))
        ),
        6,
    ).cast("double")
    return (
        bc.where(F.col("c_ab") >= _PMI_MIN_COUNT)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(totb))
        .select("w1", "w2", "c_ab", pmi.alias("pmi"))
    )


text_pmi_bigrams.__doc__ = text_pmi_bigrams.__doc__.format(
    min_count=_PMI_MIN_COUNT
)


# ---------------------------------------------------------------------------
# repeated-chunk boilerplate detection
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 8
_BOILER_MIN_FREQ = 2


@register(
    "text_chunk_boilerplate",
    oracle=f"""
WITH th AS (
  SELECT doc_id,
         list_transform({T.tokens_sql('text')},
                        bp_t -> {T.char_hash_sql('bp_t')}) AS th
  FROM documents
),
ch AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, CAST(ceil(len(th) / {_CHUNK_TOKENS}.0)
                                   AS BIGINT)),
           c -> list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                               list_slice(th,
                                          (c - 1) * {_CHUNK_TOKENS} + 1,
                                          c * {_CHUNK_TOKENS})),
                  (acc, h) -> (acc * {FOLD_B} + h) % {T.HASH_MOD})
         )) AS ch
  FROM th WHERE len(th) >= 1
),
f AS (
  SELECT doc_id, ch, count(*) OVER (PARTITION BY ch) AS freq FROM ch
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN freq >= {_BOILER_MIN_FREQ} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_boiler,
       CAST(round(CAST(sum(CASE WHEN freq >= {_BOILER_MIN_FREQ}
                                THEN 1 ELSE 0 END) AS DOUBLE)
                  / count(*), 6) AS DOUBLE) AS boiler_frac
FROM f GROUP BY doc_id
""",
)
def text_chunk_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-chunk boilerplate detection: split each document into
    consecutive {n}-token chunks, hash each chunk, and score docs by the
    fraction of their chunks that recur anywhere in the corpus — the
    template/boilerplate signal (nav bars, license headers, mirrored
    passages) a curation pipeline uses to downweight or strip templated
    text. The line-level variant is the same plan keyed on line hashes.

    Scale shape: chunks reduce to int64 hashes inside the array (text
    never leaves the row); corpus-wide chunk frequency is ONE window over
    the 8-byte hash (a single shuffle) feeding a doc-keyed aggregate. A
    head-heavy chunk distribution (the whole point: boilerplate repeats)
    is the skew knob — at 100 TB cap the window with a pre-aggregated
    (ch, freq) broadcast of the top-frequency chunks, same plan shape.
    """
    docs = load_table(spark, sf_dir, "documents")
    th = F.transform(T.tokens("text"), lambda t: T.char_hash(t))
    base = spread(docs).select("doc_id", th.alias("th")).where(
        F.size("th") >= 1
    )
    n_chunks = F.ceil(F.size("th") / F.lit(float(_CHUNK_TOKENS))).cast(
        "int"
    )
    chunk = lambda c: F.aggregate(  # noqa: E731
        F.slice("th", (c - 1) * _CHUNK_TOKENS + 1, _CHUNK_TOKENS),
        F.lit(0).cast("long"),
        lambda acc, h: (acc * FOLD_B + h) % T.HASH_MOD,
    )
    chunks = F.transform(F.sequence(F.lit(1), n_chunks), chunk)
    exploded = base.select("doc_id", F.explode(chunks).alias("ch"))
    freq = F.count("*").over(Window.partitionBy("ch"))
    scored = exploded.withColumn("freq", freq)
    is_boiler = F.when(F.col("freq") >= _BOILER_MIN_FREQ, 1).otherwise(0)
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(is_boiler).cast("bigint").alias("n_boiler"),
        F.round(
            F.sum(is_boiler).cast("double") / F.count("*"), 6
        )
        .cast("double")
        .alias("boiler_frac"),
    )


text_chunk_boilerplate.__doc__ = text_chunk_boilerplate.__doc__.format(
    n=_CHUNK_TOKENS
)


# ---------------------------------------------------------------------------
# random-sign projection (Achlioptas/JL dimensionality reduction)
# ---------------------------------------------------------------------------

_PROJ_DIMS = 8


@register(
    "sim_random_projection",
    oracle=f"""
SELECT vec_id,
       CAST(ks.k AS INTEGER) AS k,
       CAST(round(list_reduce(
         list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(generate_series(1, len(embedding)),
             d -> CAST(embedding[d] AS DOUBLE)
                  * (CASE WHEN floor(((d * 73 + (ks.k + 1) * 1009)
                                      * (d * 73 + (ks.k + 1) * 1009)
                                      * 12289) / 65536) % 2 = 0
                          THEN 1.0 ELSE -1.0 END))),
         (a, x) -> a + x), 6) AS DOUBLE) AS proj
FROM embeddings
CROSS JOIN (SELECT unnest(generate_series(0, {_PROJ_DIMS - 1})) AS k) ks
""",
)
def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-sign (Achlioptas-style Johnson-Lindenstrauss) projection of
    the 64-dim embeddings down to {k} dims — the cheap dimensionality
    reduction in front of clustering / dedup at corpus scale. The ±1
    projection matrix is a deterministic function of (dim, k) — bit 16 of
    m²·12289 for the combined index m = d·73 + (k+1)·1009 (exact in both
    engines: products stay under 2^53 and /65536 is a power-of-two
    division, lossless in doubles) — so no matrix is stored or shipped
    anywhere. The QUADRATIC mix matters: the original linear parity
    (d*73 + k*179) only complemented the sign pattern as k stepped,
    collapsing all 8 output dims to ±one projection (rank 1, no distance
    preservation at all), and any mix linear in the index leaves the
    bit-16 sequence Weyl-structured (pairwise |corr| up to 0.84 measured);
    m² breaks the arithmetic progression and lands pairwise correlations
    at the ~1/sqrt(64) random baseline. Pinned by the off-diagonal
    correlation test (tests/test_corpus.py).

    Scale shape: entirely array-local math — per row, {k} sequential folds
    over the embedding array, all inside whole-stage codegen (higher-order
    functions, no UDF), ZERO shuffles; the fold order is fixed
    left-to-right so double addition is bit-identical across engines. At
    100 TB this is scan-bound; the posexplode to (vec_id, k) rows exists
    only to give the oracle a flat surface — the array form feeds
    downstream operators directly.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    proj_k = lambda k: F.round(  # noqa: E731
        F.aggregate(
            F.zip_with(
                e,
                F.sequence(F.lit(0), F.size("embedding") - 1),
                lambda v, d: v
                * F.when(
                    F.floor(
                        ((d + 1) * 73 + (k + 1) * 1009).cast("long")
                        * ((d + 1) * 73 + (k + 1) * 1009).cast("long")
                        * F.lit(12289).cast("long")
                        / 65536
                    )
                    % 2
                    == 0,
                    1.0,
                ).otherwise(-1.0),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
        6,
    ).cast("double")
    projs = F.transform(
        F.sequence(F.lit(0), F.lit(_PROJ_DIMS - 1)), proj_k
    )
    return emb.select(
        "vec_id", F.posexplode(projs).alias("k", "proj")
    ).select("vec_id", F.col("k").cast("int").alias("k"), "proj")


sim_random_projection.__doc__ = sim_random_projection.__doc__.format(
    k=_PROJ_DIMS
)


# ---------------------------------------------------------------------------
# deterministic train/val/test split
# ---------------------------------------------------------------------------

_SPLIT_A = 40_503
_SPLIT_C = 7_919


@register(
    "rel_split_assign",
    oracle=f"""
WITH assigned AS (
  SELECT doc_id, n_chars,
         {T.token_count_sql('text')} AS n_toks,
         (doc_id * {_SPLIT_A} + {_SPLIT_C}) % {T.HASH_MOD} % 100 AS h
  FROM documents
)
SELECT CASE WHEN h < 80 THEN 'train'
            WHEN h < 90 THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       CAST(round(avg(CAST(n_chars AS DOUBLE)), 6) AS DOUBLE) AS avg_chars
FROM assigned GROUP BY 1
""",
)
def rel_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split: each document lands in
    a split by pure arithmetic on its id (affine hash mod 100) — stable
    across runs, engines, and partitionings, which is the property a
    training pipeline needs so that re-running curation never leaks val
    docs into train. Emits per-split size/token/length stats.

    Scale shape: split assignment is row-local arithmetic (no shuffle, no
    randomness to coordinate); the stats aggregate has three groups. The
    same expression used as a filter gives the actual split extraction
    with full predicate pushdown.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = (F.col("doc_id") * _SPLIT_A + _SPLIT_C) % T.HASH_MOD % 100
    split = (
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    )
    return (
        docs.select(
            split.alias("split"),
            "n_chars",
            T.token_count("text").alias("n_toks"),
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
            F.round(F.avg(F.col("n_chars").cast("double")), 6)
            .cast("double")
            .alias("avg_chars"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q17-style correlated scalar subquery, decorrelated
# ---------------------------------------------------------------------------

_Q17_BRAND = "Brand#1"


@register(
    "rel_subquery_correlated",
    oracle=f"""
SELECT l.l_partkey,
       CAST(count(*) AS BIGINT) AS n_small,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS small_revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand = '{_Q17_BRAND}'
  AND 5 * l.l_quantity
      * (SELECT count(*) FROM lineitem l2
         WHERE l2.l_partkey = l.l_partkey)
      < (SELECT sum(l2.l_quantity) FROM lineitem l2
         WHERE l2.l_partkey = l.l_partkey)
GROUP BY l.l_partkey
""",
)
def rel_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style small-quantity-order revenue: lineitems whose
    quantity is below 20% of their part's average quantity, for one brand
    — the canonical correlated scalar subquery. The oracle states it
    literally (a per-row subquery); the engine runs the decorrelated form:
    one per-part pre-aggregate joined back — WHAT is a correlated
    subquery, HOW is a join, which is precisely the rewrite Catalyst
    cannot always pick for you and a 100 TB plan must get right.

    The threshold compares `5 * qty * n < sum_qty` — exact integer-valued
    double arithmetic on both engines (quantities are integral, and
    integer-valued doubles add exactly), so no float-boundary row can
    diverge; revenue sums as DECIMAL(18,2) (prices are 2-decimal), making
    the aggregate partition-order insensitive.

    Scale shape: the brand filter prunes part to a broadcast-sized build
    side; lineitem is semi-reduced by that broadcast BEFORE the per-part
    aggregate, so the stats shuffle only covers the brand's parts; the
    stats table (one row per part of one brand) broadcasts back. Lineitem
    is scanned once and shuffled once.
    """
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_brand") == _Q17_BRAND)
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    li_b = li.join(F.broadcast(part), "l_partkey")
    stats = li_b.groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.count("*").alias("n_li"),
    )
    small = li_b.join(F.broadcast(stats), "l_partkey").where(
        F.lit(5) * F.col("l_quantity") * F.col("n_li") < F.col("sum_qty")
    )
    return small.groupBy("l_partkey").agg(
        F.count("*").alias("n_small"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("small_revenue"),
    )


# ---------------------------------------------------------------------------
# vocabulary coverage at top-K cutoffs (tokenizer/vocab sizing)
# ---------------------------------------------------------------------------

_COVERAGE_KS = (10, 25, 50, 100)


@register(
    "text_vocab_coverage",
    oracle=f"""
WITH tok AS (SELECT unnest({T.tokens_sql('text')}) AS word FROM documents),
counts AS (SELECT word, count(*) AS c FROM tok GROUP BY word),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, word) AS rk FROM counts
),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS total_tokens FROM counts),
ks(k) AS (VALUES {", ".join(f"({k})" for k in _COVERAGE_KS)})
SELECT ks.k,
       CAST(sum(CASE WHEN r.rk <= ks.k THEN r.c ELSE 0 END) AS BIGINT)
         AS covered_tokens,
       CAST(max(t.total_tokens) AS BIGINT) AS total_tokens,
       CAST(round(sum(CASE WHEN r.rk <= ks.k THEN r.c ELSE 0 END)
                  / CAST(max(t.total_tokens) AS DOUBLE), 6) AS DOUBLE)
         AS coverage
FROM ks CROSS JOIN ranked r CROSS JOIN tot t
GROUP BY ks.k
""",
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k, covered_tokens, total_tokens, coverage) — what fraction of all
    token OCCURRENCES the k most frequent words cover, at several cutoffs:
    the standard diagnostic for sizing a tokenizer vocabulary / estimating
    OOV rates before committing to a vocab budget.

    Scale shape: one token-count aggregate (map-side combinable), then each
    cutoff is a TakeOrderedAndProject of k rows + a 1-row sum — the global
    "rank every word" window the naive form needs (a single-partition sort
    of the whole vocabulary) never happens; the deterministic (count desc,
    word) total order makes the top-k sets — and so the sums — engine-
    independent. The counts table is persisted once and reused by all
    cutoffs plus the corpus total."""
    from ..cache import persist_tracked

    docs = load_table(spark, sf_dir, "documents")
    counts = persist_tracked(
        spread(docs)
        .select(F.explode(T.tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    total = counts.agg(F.sum("c").cast("long").alias("total_tokens"))
    covs = None
    for k in _COVERAGE_KS:
        topk = counts.orderBy(F.desc("c"), F.asc("word")).limit(k)
        part = topk.agg(
            F.lit(k).alias("k"),
            F.sum("c").cast("long").alias("covered_tokens"),
        )
        covs = part if covs is None else covs.unionByName(part)
    return (
        covs.crossJoin(F.broadcast(total))
        .select(
            "k",
            "covered_tokens",
            "total_tokens",
            F.round(
                F.col("covered_tokens") / F.col("total_tokens").cast("double"),
                6,
            )
            .cast("double")
            .alias("coverage"),
        )
        # empty corpus: the ungrouped sums yield NULL rows while the
        # oracle's CROSS JOIN over an empty ranked set yields none —
        # match the oracle's zero-row result
        .where(F.col("covered_tokens").isNotNull())
    )


# ---------------------------------------------------------------------------
# token frequency spectrum (count-of-counts, Zipf diagnostic)
# ---------------------------------------------------------------------------

@register(
    "text_freq_spectrum",
    oracle=f"""
WITH tok AS (SELECT unnest({T.tokens_sql('text')}) AS word FROM documents),
counts AS (SELECT word, count(*) AS c FROM tok GROUP BY word)
SELECT c AS occurrences, CAST(count(*) AS BIGINT) AS n_words
FROM counts GROUP BY c
""",
)
def text_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequencies: how many distinct words occur exactly k
    times — the Zipf-curve diagnostic used to sanity-check a corpus (a
    healthy natural-language corpus shows a long 1-occurrence tail; a
    deduplicated or templated corpus shows spikes) and to pick Good-Turing
    smoothing masses.

    Scale shape: two map-side-combinable aggregates back to back — the
    first shuffles one row per distinct word per partition, the second one
    row per distinct count value (tiny). Nothing else."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        spread(docs)
        .select(F.explode(T.tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    return counts.groupBy(F.col("c").alias("occurrences")).agg(
        F.count("*").alias("n_words")
    )


# ---------------------------------------------------------------------------
# cross-source shingle overlap matrix (corpus contamination diagnostics)
# ---------------------------------------------------------------------------

@register(
    "text_source_overlap_matrix",
    oracle=f"""
WITH sh AS ({_doc_shingles_sql()}),
src_sh AS (
  SELECT DISTINCT d.source, s.sh
  FROM sh s JOIN documents d USING (doc_id)
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS shared_shingles
FROM src_sh a JOIN src_sh b ON a.sh = b.sh AND a.source < b.source
GROUP BY 1, 2
""",
)
def text_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix: for every pair of corpus sources,
    the number of distinct 3-gram shingles they share — the diagnostic
    that finds mirror sites, syndicated content, and scrape overlap
    BETWEEN feeds before per-document dedup even runs.

    Scale shape: documents reduce to DISTINCT (source, shingle-hash)
    rows first (per-source dedup shrinks the join input to at most
    #sources copies of the shingle universe); the self-join is an
    equi-join on the 8-byte hash whose per-key fan-out is bounded by
    #sources² — independent of corpus size. At thousands of sources the
    same plan runs with a per-shingle source-set aggregation instead of
    the pair join; the matrix stays #sources²-bounded either way."""
    from ..cache import persist_tracked
    from ..operators.dedup import _doc_shingles

    docs = load_table(spark, sf_dir, "documents")
    # persisted: the self-join scans both sides of this (the heaviest
    # subtree — full-corpus shingling + distinct) — never recompute it
    src_sh = persist_tracked(
        _doc_shingles(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "sh")
        .distinct()
    )
    # r12: the docstring's "per-shingle source-set aggregation" form is
    # now the implementation (it was prose before): one groupBy(sh) into
    # a sorted source set, ordered pairs expanded IN-ROW, then the tiny
    # #sources²-bounded pair aggregate — replaces the self-equi-join
    # that scanned the persisted relation twice and shuffled both sides
    # (guide §2.4 remove shuffles). Identical output: each shingle
    # contributes exactly its C(|sources|, 2) ordered pairs.
    pairs = (
        src_sh.groupBy("sh")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .where(F.size("ss") >= 2)
        .select(
            F.explode(
                F.expr(
                    """
            flatten(transform(ss, (x, i) ->
              transform(slice(ss, i + 2, size(ss)),
                        y -> struct(x AS source_a, y AS source_b))))
            """
                )
            ).alias("p")
        )
        .select("p.*")
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.count("*").alias("shared_shingles")
    )


# ---------------------------------------------------------------------------
# Zipf slope — power-law fit of the token frequency curve
# ---------------------------------------------------------------------------

@register(
    "text_zipf_slope",
    oracle=f"""
WITH tok AS (SELECT unnest({T.tokens_sql('text')}) AS word FROM documents),
counts AS (SELECT word, count(*) AS f FROM tok GROUP BY word),
ranked AS (
  SELECT f, row_number() OVER (ORDER BY f DESC, word) AS r FROM counts
),
logs AS (
  SELECT CAST(round(ln(r), 6) AS DECIMAL(18,6)) AS lr,
         CAST(round(ln(f), 6) AS DECIMAL(18,6)) AS lf
  FROM ranked
),
moments AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(lr) AS s1, sum(lf) AS s2,
         sum(lr * lr) AS s11, sum(lr * lf) AS s12
  FROM logs
)
SELECT n AS n_words,
       CAST(round(CAST(n * s12 - s1 * s2 AS DOUBLE)
                  / CAST(n * s11 - s1 * s1 AS DOUBLE), 6) AS DOUBLE)
         AS zipf_slope,
       CAST(round((CAST(s2 AS DOUBLE)
                   - (CAST(n * s12 - s1 * s2 AS DOUBLE)
                      / CAST(n * s11 - s1 * s1 AS DOUBLE))
                     * CAST(s1 AS DOUBLE)) / n, 6) AS DOUBLE) AS log_c
FROM moments
""",
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares slope of log(frequency) vs log(rank) — the Zipf
    exponent of the corpus (natural text ≈ −1; templated/duplicated
    corpora flatten, over-deduplicated ones steepen). The single-number
    companion to text_freq_spectrum's full curve, and the standard
    corpus-health gate in a curation pipeline.

    Determinism engineering: the regression moments are sums of
    DECIMAL-quantized logs (round-6 before summing), so every sum is
    exact and order-free; doubles appear only in the final slope /
    intercept division. The rank itself is a total order (freq desc,
    word) — engines cannot disagree on r.

    Scale shape: one word-keyed count shuffle, then a single global sort
    to rank (one exchange — rank needs a total order), then a one-row
    moment aggregation. The sort is the scale ceiling; at 100 TB the
    vocab after the count shuffle is ~1e8 rows — a trivially sortable
    relation, nothing like the corpus itself."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        spread(docs)
        .select(F.explode(T.tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("f"))
    )
    ranked = counts.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("f"), F.asc("word")))
    )
    logs = ranked.select(
        F.round(F.log("r"), 6).cast("decimal(18,6)").alias("lr"),
        F.round(F.log("f"), 6).cast("decimal(18,6)").alias("lf"),
    )
    m = logs.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("lr").alias("s1"),
        F.sum("lf").alias("s2"),
        F.sum(F.col("lr") * F.col("lr")).alias("s11"),
        F.sum(F.col("lr") * F.col("lf")).alias("s12"),
    )
    n, s1, s2, s11, s12 = (F.col(c) for c in ("n", "s1", "s2", "s11", "s12"))
    # exact decimal sums; cast to double BEFORE the divisions so both
    # engines perform the identical IEEE ops on identical operands (decimal
    # division scale/rounding rules differ between engines)
    slope = (n * s12 - s1 * s2).cast("double") / (n * s11 - s1 * s1).cast(
        "double"
    )
    return m.select(
        n.alias("n_words"),
        F.round(slope, 6).cast("double").alias("zipf_slope"),
        F.round(
            (s2.cast("double") - slope * s1.cast("double")) / n, 6
        ).cast("double").alias("log_c"),
    )


# ---------------------------------------------------------------------------
# BPE vocabulary induction — fixed-round merge training
# ---------------------------------------------------------------------------

@register("text_bpe_merges", oracle=_bpe.merges_sql())
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a BPE merge table on the corpus (3 unrolled rounds) — the
    tokenizer-induction step of an LLM data pipeline, run ON the engine
    and hash-verified against DuckDB (operators/bpe.py: integer pair
    counts, lexicographic tiebreaks, and the greedy non-overlapping merge
    expressed as gaps-and-islands windows instead of a sequential fold).
    Output: (round, left_sym, right_sym, merged, pair_count)."""
    docs = load_table(spark, sf_dir, "documents")
    return _bpe.merges(docs)


@register("text_bpe_segment_stats", oracle=_bpe.segment_stats_sql())
def text_bpe_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merges back to the corpus and report the
    segmentation: vocab size, corpus word occurrences, characters vs
    symbols after 3 merge rounds, and the compression ratio — the
    train -> apply loop of tokenizer induction in one plan (the inference
    face of text_bpe_merges)."""
    docs = load_table(spark, sf_dir, "documents")
    return _bpe.segment_stats(docs)


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence between source unigram distributions
# (staged r7 -> r8)
# ---------------------------------------------------------------------------

_LN2 = "0.6931471805599453"  # ln(2), the only transcendental constant needed


@register(
    "text_jsd_source_divergence",
    oracle=f"""
WITH toks AS (
  SELECT source, unnest({T.tokens_sql('text')}) AS word FROM documents
),
counts AS (
  SELECT source, word, count(*) AS cnt FROM toks GROUP BY source, word
),
dist AS (
  SELECT source, word, cnt,
         sum(cnt) OVER (PARTITION BY source) AS tot
  FROM counts
),
pairs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM (SELECT DISTINCT source FROM counts) a,
       (SELECT DISTINCT source FROM counts) b
  WHERE a.source < b.source
),
shared AS (
  SELECT a.source AS sa, b.source AS sb,
         CAST(count(*) AS BIGINT) AS n_shared_words,
         sum(a.cnt) AS ca, sum(b.cnt) AS cb,
         max(a.tot) AS tot_a, max(b.tot) AS tot_b,
         sum(CAST(round(
           0.5 * (CAST(a.cnt AS DOUBLE) / a.tot)
               * ln(2.0 * (CAST(a.cnt AS DOUBLE) / a.tot)
                    / (CAST(a.cnt AS DOUBLE) / a.tot
                       + CAST(b.cnt AS DOUBLE) / b.tot))
           + 0.5 * (CAST(b.cnt AS DOUBLE) / b.tot)
               * ln(2.0 * (CAST(b.cnt AS DOUBLE) / b.tot)
                    / (CAST(a.cnt AS DOUBLE) / a.tot
                       + CAST(b.cnt AS DOUBLE) / b.tot)), 8)
           AS DECIMAL(18,8))) AS both_terms
  FROM dist a JOIN dist b ON a.word = b.word AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT p.sa AS source_a, p.sb AS source_b,
       COALESCE(s.n_shared_words, 0) AS n_shared_words,
       CAST(round(
         COALESCE(CAST(s.both_terms AS DOUBLE), 0)
         + 0.5 * {_LN2} * ((1.0 - COALESCE(CAST(s.ca AS DOUBLE) / s.tot_a, 0))
                           + (1.0 - COALESCE(CAST(s.cb AS DOUBLE) / s.tot_b, 0))),
         6) AS DOUBLE) AS jsd
FROM pairs p LEFT JOIN shared s ON s.sa = p.sa AND s.sb = p.sb
""",

)
def text_jsd_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between every pair of per-source unigram
    distributions — the symmetric, bounded (<= ln 2) corpus-composition
    distance used to pick mixture weights and spot near-identical feeds
    (complements text_source_overlap_matrix's SET overlap with a
    frequency-aware distance).

    Exactness engineering: the word-level sum runs only over SHARED words
    (inner join); disjoint-support mass enters in closed form — a word in
    only one source contributes 0.5*p*ln2, so those tails sum to
    0.5*ln2*((1-cp)+(1-cq)) where cp/cq are the shared-mass fractions,
    computed as EXACT integer count sums divided once. Shared-word terms
    round to DECIMAL(18,8) before the sum (the chi2/PSI pattern). Nothing
    order-dependent survives; ln() drift is absorbed by the rounding.

    Scale shape: one (source, word) aggregate (map-side combinable), a
    source-partitioned window over vocab-sized data, one word-keyed
    self-join bounded by shared vocabulary x source pairs, and a
    |sources|^2-row readout. At 100 TB the scan dominates; no
    corpus-sized shuffle exists."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("source", F.explode(T.tokens("text")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("cnt"))
    )
    dist = counts.withColumn(
        "tot", F.sum("cnt").over(Window.partitionBy("source"))
    )
    srcs = counts.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("sa"))
        .crossJoin(srcs.select(F.col("source").alias("sb")))
        .where(F.col("sa") < F.col("sb"))
    )
    a = dist.select(
        F.col("source").alias("sa"),
        "word",
        F.col("cnt").alias("cnt_a"),
        F.col("tot").alias("tot_a"),
    )
    b = dist.select(
        F.col("source").alias("sb"),
        "word",
        F.col("cnt").alias("cnt_b"),
        F.col("tot").alias("tot_b"),
    )
    p = F.col("cnt_a").cast("double") / F.col("tot_a")
    q = F.col("cnt_b").cast("double") / F.col("tot_b")
    word_term = F.round(
        0.5 * p * F.log(2.0 * p / (p + q)) + 0.5 * q * F.log(2.0 * q / (p + q)),
        8,
    ).cast("decimal(18,8)")
    shared = (
        a.join(b, "word")
        .where(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(
            F.count("*").cast("bigint").alias("n_shared_words"),
            F.sum("cnt_a").alias("ca"),
            F.sum("cnt_b").alias("cb"),
            F.max("tot_a").alias("tot_a"),
            F.max("tot_b").alias("tot_b"),
            F.sum(word_term).alias("both_terms"),
        )
    )
    ln2 = float(_LN2)
    jsd = (
        F.coalesce(F.col("both_terms").cast("double"), F.lit(0.0))
        + 0.5
        * ln2
        * (
            (1.0 - F.coalesce(F.col("ca").cast("double") / F.col("tot_a"), F.lit(0.0)))
            + (1.0 - F.coalesce(F.col("cb").cast("double") / F.col("tot_b"), F.lit(0.0)))
        )
    )
    return pairs.join(shared, ["sa", "sb"], "left").select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        F.coalesce("n_shared_words", F.lit(0)).alias("n_shared_words"),
        F.round(jsd, 6).cast("double").alias("jsd"),
    )


# ---------------------------------------------------------------------------
# Dunning log-likelihood-ratio collocations (built r12, staged r13)
# ---------------------------------------------------------------------------

_LLR_MIN_COUNT = 5

_LLR_SQL = f"""
WITH toks AS (
  SELECT {{tokens_sql}} AS t FROM documents
),
bi AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM toks WHERE len(t) >= 2)
),
bc AS (SELECT w1, w2, count(*) AS k11 FROM bi GROUP BY w1, w2),
mr AS (SELECT w1, CAST(sum(k11) AS BIGINT) AS r FROM bc GROUP BY w1),
mc AS (SELECT w2, CAST(sum(k11) AS BIGINT) AS c FROM bc GROUP BY w2),
tot AS (SELECT CAST(sum(k11) AS BIGINT) AS n FROM bc),
cells AS (
  SELECT bc.w1, bc.w2, CAST(bc.k11 AS BIGINT) AS k11,
         mr.r - bc.k11 AS k12, mc.c - bc.k11 AS k21,
         tot.n - mr.r - mc.c + bc.k11 AS k22,
         mr.r AS r, mc.c AS c, tot.n AS n
  FROM bc JOIN mr USING (w1) JOIN mc USING (w2) CROSS JOIN tot
  WHERE bc.k11 >= {_LLR_MIN_COUNT}
),
terms AS (
  SELECT w1, w2, k11, r, c, n,
    CAST(round(k11 * ln(CAST(k11 AS DOUBLE) * n
               / (CAST(r AS DOUBLE) * c)), 9) AS DECIMAL(28,9)) AS t11,
    CASE WHEN k12 > 0 THEN
      CAST(round(k12 * ln(CAST(k12 AS DOUBLE) * n
                 / (CAST(r AS DOUBLE) * (n - c))), 9) AS DECIMAL(28,9))
    ELSE CAST(0 AS DECIMAL(28,9)) END AS t12,
    CASE WHEN k21 > 0 THEN
      CAST(round(k21 * ln(CAST(k21 AS DOUBLE) * n
                 / (CAST(n - r AS DOUBLE) * c)), 9) AS DECIMAL(28,9))
    ELSE CAST(0 AS DECIMAL(28,9)) END AS t21,
    CASE WHEN k22 > 0 THEN
      CAST(round(k22 * ln(CAST(k22 AS DOUBLE) * n
                 / (CAST(n - r AS DOUBLE) * (n - c))), 9)
           AS DECIMAL(28,9))
    ELSE CAST(0 AS DECIMAL(28,9)) END AS t22,
    CASE WHEN CAST(k11 AS DECIMAL(38,0)) * n > CAST(r AS DECIMAL(38,0)) * c
         THEN 1
         WHEN CAST(k11 AS DECIMAL(38,0)) * n < CAST(r AS DECIMAL(38,0)) * c
         THEN -1 ELSE 0 END AS assoc
  FROM cells
)
SELECT w1, w2, k11 AS c_ab, CAST(assoc AS BIGINT) AS assoc,
       CAST(2 * (t11 + t12 + t21 + t22) AS DECIMAL(28,9)) AS llr
FROM terms
"""


@register(
    "text_dunning_llr",
    oracle=_LLR_SQL.format(tokens_sql=T.tokens_sql("text")),
)
def text_dunning_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood-ratio collocations (built r12, staged
    r13) — the significance-aware sibling of text_pmi_bigrams over the
    SAME bigram relation: PMI rewards rare-but-exclusive pairs (it is
    maximal for two hapaxes that co-occur once past the count floor);
    Dunning's G² = 2·Σ k·ln(kN/(row·col)) over the per-bigram 2×2
    contingency weights the evidence by VOLUME, which is why it is
    the collocation statistic corpus-linguistics tooling standardized
    on for phrase induction. The signed `assoc` column (exact integer
    sign of k11·N − r·c on the DECIMAL(38,0) lattice) separates
    collocations from anti-collocations, which G² alone conflates.

    Exactness: margins r/c/N are exact BIGINT bigram-relation sums
    computed BEFORE the count floor; each of the four G² terms is the
    MI/JSD N-scaled plogp device verbatim — round-9 DECIMAL(28,9)
    over one ln of a quotient of 64-bit-exact doubles (the safe
    transcendental), zero cells contributing an exact decimal 0 —
    and llr = 2·(t11+t12+t21+t22) is exact decimal arithmetic of the
    pinned terms. No unrounded double anywhere.

    Scale shape: the PMI plan verbatim — one (w1, w2)-keyed
    map-side-combinable count reduces the corpus, margins are
    vocab-sized reductions of the CELL table (not the corpus), both
    re-enter as broadcast joins, and the count floor prunes the
    output before any per-bigram arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    return llr_readout(bigram_counts(spread(docs)))


def bigram_counts(docs: DataFrame) -> DataFrame:
    """(w1, w2, k11) adjacent-pair counts over the token arrays of
    ``docs.text`` — the ADDITIVE sufficient statistic of llr_readout
    (bigram counts add across batches), and the streaming drain's
    per-batch delta: the second unbounded-key additive state beside
    the vocab table."""
    toks = docs.select(T.tokens("text").alias("t"))
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("t") - 1),
        lambda i: F.struct(
            F.element_at(F.col("t"), i).alias("w1"),
            F.element_at(F.col("t"), i + 1).alias("w2"),
        ),
    )
    return (
        toks.where(F.size("t") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("k11"))
    )


def llr_readout(bc_in: DataFrame) -> DataFrame:
    """Dunning G² + signed association as a pure function of the
    (w1, w2, k11) bigram count table — the ADDITIVE sufficient
    statistic (bigram counts add across batches), shared by the batch
    query and the streaming drain (r12): margins, the count floor,
    the four round-9 plogp terms, and the signed assoc readout all
    derive from it."""
    from ..cache import persist_tracked

    bc = persist_tracked(bc_in)
    mr = bc.groupBy("w1").agg(F.sum("k11").cast("bigint").alias("r"))
    mc = bc.groupBy("w2").agg(F.sum("k11").cast("bigint").alias("c"))
    tot = bc.agg(F.sum("k11").cast("bigint").alias("n"))
    cells = (
        bc.where(F.col("k11") >= _LLR_MIN_COUNT)
        .join(F.broadcast(mr), "w1")
        .join(F.broadcast(mc), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1", "w2", "k11", "r", "c", "n",
            (F.col("r") - F.col("k11")).alias("k12"),
            (F.col("c") - F.col("k11")).alias("k21"),
            (F.col("n") - F.col("r") - F.col("c") + F.col("k11"))
            .alias("k22"),
        )
    )
    zero9 = F.lit(0).cast("decimal(28,9)")

    def term(k, row, col):
        return F.when(
            k > 0,
            F.round(
                k
                * F.log(
                    k.cast("double") * F.col("n")
                    / (row.cast("double") * col)
                ),
                9,
            ).cast("decimal(28,9)"),
        ).otherwise(zero9)

    k11, k12 = F.col("k11"), F.col("k12")
    k21, k22 = F.col("k21"), F.col("k22")
    r, c, n = F.col("r"), F.col("c"), F.col("n")
    lhs = k11.cast("decimal(38,0)") * n
    rhs = r.cast("decimal(38,0)") * c
    return cells.select(
        "w1", "w2",
        k11.alias("c_ab"),
        F.when(lhs > rhs, 1).when(lhs < rhs, -1).otherwise(0)
        .cast("bigint")
        .alias("assoc"),
        (
            F.lit(2)
            * (
                term(k11, r, c)
                + term(k12, r, n - c)
                + term(k21, n - r, c)
                + term(k22, n - r, n - c)
            )
        )
        .cast("decimal(28,9)")
        .alias("llr"),
    )
