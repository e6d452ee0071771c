"""Fuzzy-matching & trend wave 11 (SURVEY.md §2.22 extensions): exact
set-similarity join via prefix filtering (the ppjoin family — the
exact-recall complement to MinHash), SymSpell-style deletion-neighborhood
typo candidates (the full-recall complement to the blocked edit-distance
join), and week-over-week trend readout.

All [Q]: exact DuckDB twins. The prefix-filter join carries the classic
guarantee — if J(A,B) >= t then the two frequency-ordered prefixes share
an element — so unlike MinHash/SimHash banding it misses NOTHING at the
threshold; tests/test_fuzzy.py asserts result equality with the
exhaustive `dedup_shingle_jaccard` pair set.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions import text as T
from ..operators.dedup import (
    JACCARD_THRESHOLD,
    _doc_shingle_arrays,
    _doc_shingles_sql,
    jaccard_verify,
)
from ..sources import load_table
from .registry import register


# ---------------------------------------------------------------------------
# prefix-filtering set-similarity join (exact Jaccard, ppjoin-style)
# ---------------------------------------------------------------------------

_PF_T = JACCARD_THRESHOLD  # same bar as dedup_shingle_jaccard (comparable)
_PF_TB = _PF_T - 5e-7  # t': admits every pair with round(J, 6) >= t


@register(
    "dedup_prefix_filter_join",
    oracle=f"""
WITH sh AS ({_doc_shingles_sql()}),
freq AS (SELECT sh, count(*) AS f FROM sh GROUP BY sh),
ranked AS (
  SELECT s.doc_id, s.sh,
         row_number() OVER (PARTITION BY s.doc_id ORDER BY q.f, s.sh)
           AS rk,
         count(*) OVER (PARTITION BY s.doc_id) AS sz
  FROM sh s JOIN freq q ON q.sh = s.sh
),
prefix AS (
  SELECT doc_id, sh, sz FROM ranked
  WHERE rk <= sz - CAST(ceil({_PF_T} * sz) AS BIGINT) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix a JOIN prefix b USING (sh)
  WHERE a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.sh = x.sh
  GROUP BY c.doc_a, c.doc_b
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)
SELECT i.doc_a, i.doc_b,
       round(CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter), 6)
         AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE round(CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter), 6)
      >= {_PF_T}
""",
)
def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join via prefix filtering (ppjoin, Xiao et
    al., WWW 2008): order every document's shingle set by ascending global
    frequency and join ONLY each set's first |s| - ceil(t*|s|) + 1
    elements — pigeonhole guarantees any pair with Jaccard >= t shares a
    prefix element, so recall is EXACT at the threshold (unlike
    MinHash/SimHash banding, which are probabilistic). The candidate join
    keys on the RAREST shingles, so hot shingles rarely generate
    candidates.

    Every matched prefix row must also pass ppjoin's two bound filters
    before the candidate ``distinct``, at t' = t - 5e-7:
      * size: min(|a|, |b|) >= t' * max(|a|, |b|), since J <= min/max;
      * positional, at 1-based ranks (i, j) of the shared shingle:
        (1 + min(|a| - i, |b| - j)) * (1 + t') >= t' * (|a| + |b|).
        The shingles both sets share all sit at or after the FIRST shared
        one, which lies in both prefixes, so 1 + min(|a| - i, |b| - j)
        there bounds the overlap o; J >= t' is o * (1 + t') >= t' *
        (|a| + |b|). The bound only falls as the ranks grow, so "some
        matched row of the pair passes" equals "its first shared shingle
        passes" — the filter is exact and needs no extra shuffle.
    The result keeps round(J, 6) >= t, which admits J down to t - 5e-7
    (round half up), so filtering at t' rather than t loses no reported
    pair. Templated replies — sets that share their rarest shingles but
    overlap too little — are what the two filters prune.

    Plan shape: persisted shingle arrays, exploded once; a shingle-keyed
    count window gives each shingle's frequency and ONE doc-keyed window
    its rank, and the ranked prefix is itself persisted so both sides of
    the self-join read it (the rank window's doc_id exchange runs once,
    not once per side — Spark does not reuse an exchange over a cached
    scan); the survivors are verified by ``size(array_intersect)`` over
    the two docs' arrays (``jaccard_verify``), sizes read off the arrays
    in-row — no re-join against the exploded shingles, no separate sizes
    relation.
    """
    from ..cache import persist_tracked

    docs = load_table(spark, sf_dir, "documents")
    arrays = persist_tracked(_doc_shingle_arrays(docs))
    cand = _ppjoin_candidates(arrays)
    # (r13's rejected repartition of the candidates before the verify is
    # moot: the filters leave about one candidate per result pair)
    return jaccard_verify(docs, cand, arrays=arrays).where(F.col("jaccard") >= _PF_T)


def _ppjoin_candidates(arrays: DataFrame) -> DataFrame:
    """(doc_a, doc_b) pairs, doc_a < doc_b, that share a prefix shingle
    passing the size and positional filters. Written as SQL expressions:
    each Column built through the Python API is a JVM round trip, and
    plan building is a large share of a pass on small inputs."""
    from ..cache import persist_tracked

    prefix = persist_tracked(
        arrays.selectExpr("doc_id", "size(shs) AS sz", "explode(shs) AS sh")
        .selectExpr("*", "count(*) OVER (PARTITION BY sh) AS f")
        .selectExpr(
            "doc_id", "sz", "sh",
            "row_number() OVER (PARTITION BY doc_id ORDER BY f, sh) AS rk",
        )
        .where(f"rk <= sz - CAST(ceil({_PF_T}D * sz) AS BIGINT) + 1")
    )
    t = f"{_PF_TB!r}D"
    return (
        prefix.selectExpr("sh", "doc_id AS doc_a", "sz AS sz_a", "rk AS rk_a")
        .join(prefix.selectExpr("sh", "doc_id AS doc_b", "sz AS sz_b", "rk AS rk_b"), "sh")
        .where(
            "doc_a < doc_b"
            f" AND least(sz_a, sz_b) >= {t} * greatest(sz_a, sz_b)"
            f" AND (1 + least(sz_a - rk_a, sz_b - rk_b)) * (1 + {t})"
            f" >= {t} * (sz_a + sz_b)"
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# SymSpell deletion-neighborhood typo candidates
# ---------------------------------------------------------------------------

_SS_MIN_LEN = 4  # deletion variants of very short words are all-noise


@register(
    "text_symspell_candidates",
    oracle=f"""
WITH corpus AS (
  SELECT DISTINCT unnest({T.tokens_sql('text')}) AS word FROM documents
),
typos AS (
  -- deterministic misspellings: docs on a % 13 grid contribute their
  -- first >= 5-char token with its 2nd character deleted
  SELECT DISTINCT substr(w, 1, 1) || substr(w, 3, length(w)) AS word
  FROM (
    SELECT list_filter({T.tokens_sql('text')},
                       t -> length(t) >= 5)[1] AS w
    FROM documents WHERE doc_id % 13 = 0
  ) WHERE w IS NOT NULL
),
vocab AS (SELECT word FROM corpus UNION SELECT word FROM typos),
eligible AS (SELECT word FROM vocab WHERE length(word) >= {_SS_MIN_LEN}),
variants AS (
  SELECT word, word AS variant FROM eligible
  UNION ALL
  SELECT word,
         unnest(list_transform(generate_series(1, length(word)),
           i -> substr(word, 1, i - 1)
                || substr(word, i + 1, length(word)))) AS variant
  FROM eligible
),
v AS (SELECT DISTINCT word, variant FROM variants)
SELECT DISTINCT a.word AS word_a, b.word AS word_b,
       CAST(levenshtein(a.word, b.word) AS INTEGER) AS dist
FROM v a JOIN v b USING (variant)
WHERE a.word < b.word AND levenshtein(a.word, b.word) <= 2
""",
)
def text_symspell_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell-style typo candidates: index every vocabulary word under
    itself plus all single-deletion variants; words sharing an index key
    are within edit distance 2 by construction (each is <= 1 deletion from
    the shared variant), verified with exact Levenshtein. This is the
    full-recall-for-substitutions complement to `text_typo_pairs`' (first
    char, length) blocking, which that query's docstring names as its
    known miss: a first-character typo shares a deletion variant and IS
    found here (pinned by test). The fixture corpus has no organic
    misspellings, so a deterministic typo set (2nd character deleted from
    the first long token of every 13th doc) is injected identically in
    both engines — the candidates found are real (typo, original) pairs.

    Scale shape: the deletion index is |vocab| x (len+1) rows of short
    strings — generated array-locally, joined on the variant key (the
    SymSpell trick: candidate generation is a hash join, not an
    all-pairs edit-distance scan). At 100 TB the index is the thing you
    precompute and store bucketed by variant; lookup of a query word is
    then a point join.
    """
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select(F.explode(T.tokens("text")).alias("word"))
    # F.get (not getItem): NULL on empty arrays even under ANSI mode —
    # the driver's session runs Spark 4 ANSI defaults.
    first_long = F.get(
        F.filter(T.tokens("text"), lambda t: F.length(t) >= 5), 0
    )
    typo = F.concat(
        F.col("w").substr(1, 1), F.col("w").substr(F.lit(3), F.length("w"))
    )
    typos = (
        docs.where(F.col("doc_id") % 13 == 0)
        .select(first_long.alias("w"))
        .where(F.col("w").isNotNull())
        .select(typo.alias("word"))
    )
    vocab = corpus.unionByName(typos).distinct()
    eligible = vocab.where(F.length("word") >= _SS_MIN_LEN)
    w = F.col("word")
    dels = F.transform(
        F.sequence(F.lit(1), F.length(w)),
        lambda i: F.concat(
            w.substr(F.lit(1), i - 1),
            w.substr(i + 1, F.length(w)),
        ),
    )
    variants = eligible.select(
        "word", F.explode(F.array_union(F.array(w), dels)).alias("variant")
    ).distinct()
    a = variants.select(F.col("word").alias("word_a"), "variant")
    b = variants.select(F.col("word").alias("word_b"), "variant")
    return (
        a.join(b, "variant")
        .where(
            (F.col("word_a") < F.col("word_b"))
            & (F.levenshtein("word_a", "word_b") <= 2)
        )
        .select(
            "word_a",
            "word_b",
            F.levenshtein("word_a", "word_b").alias("dist"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# week-over-week trend
# ---------------------------------------------------------------------------

@register(
    "events_weekly_wow",
    oracle="""
WITH weekly AS (
  SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
         event_type,
         count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT week, event_type, CAST(n AS BIGINT) AS n,
       CAST(lag(n) OVER (PARTITION BY event_type ORDER BY week)
            AS BIGINT) AS prev_n,
       CAST(round(
         (n - lag(n) OVER (PARTITION BY event_type ORDER BY week))
         * 100.0 / lag(n) OVER (PARTITION BY event_type ORDER BY week), 6)
         AS DOUBLE) AS wow_pct
FROM weekly
""",
)
def events_weekly_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth: weekly event counts per type with the
    percent change against the previous week — the dashboard trend line
    every analytics deployment ships first. First weeks have NULL change
    (no prior), preserved as NULL rather than zero so flat and unknown
    don't conflate.

    Scale shape: the weekly rollup reduces the scan to (#weeks x #types)
    rows map-side; the lag window runs over that tiny table. DuckDB's
    date_trunc('week') returns DATE — the oracle re-casts to TIMESTAMP to
    match Spark's timestamp-preserving trunc (the §2.9-family portability
    trap, documented).
    """
    e = load_table(spark, sf_dir, "events")
    weekly = e.groupBy(
        F.date_trunc("week", "ts").alias("week"), "event_type"
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("week")
    prev = F.lag("n").over(w)
    return weekly.select(
        "week",
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        prev.cast("bigint").alias("prev_n"),
        F.round((F.col("n") - prev) * 100.0 / prev, 6)
        .cast("double")
        .alias("wow_pct"),
    )


# ---------------------------------------------------------------------------
# containment join (asymmetric set similarity — doc-inside-doc detection)
# ---------------------------------------------------------------------------

CONTAIN_T = 0.8   # src is a near-subset of dst
CONTAIN_B = 2     # blocking: bottom-B shingle hashes per doc


@register(
    "dedup_containment",
    oracle=f"""
WITH sh AS ({_doc_shingles_sql()}),
sets AS (SELECT doc_id, list(sh) AS shs FROM sh GROUP BY doc_id),
keys AS (
  SELECT doc_id, unnest(list_slice(list_sort(shs), 1, {CONTAIN_B})) AS k
  FROM sets
),
cand AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM keys a JOIN keys b ON a.k = b.k AND a.doc_id <> b.doc_id
)
SELECT src, dst,
       CAST(round(CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
                  / len(sa.shs), 6) AS DOUBLE) AS containment,
       CAST(len(sa.shs) AS BIGINT) AS n_src,
       CAST(len(list_intersect(sa.shs, sb.shs)) AS BIGINT) AS n_overlap
FROM cand
JOIN sets sa ON sa.doc_id = src
JOIN sets sb ON sb.doc_id = dst
WHERE CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE) / len(sa.shs)
      >= {CONTAIN_T}
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment join: directional near-subset pairs
    C(src→dst) = |shingles(src) ∩ shingles(dst)| / |shingles(src)| —
    the asymmetric complement of the Jaccard near-dup family. Jaccard
    misses a short doc quoted inside a long one (the union term dilutes
    it); containment is exactly the quote/wrapper/contamination signal a
    curation stack needs (keep the container, drop the contained copy).

    Blocking = docs sharing any of their bottom-{CONTAIN_B} shingle
    hashes (a bottom-k sketch block — deterministic, expressible on both
    engines, and cheap: {CONTAIN_B} keys/doc regardless of doc length).
    Like LSH banding it is approximate by design; the SAME blocking runs
    in the oracle, so the check is exact over the declared candidate set.

    Scale shape: candidate generation is an equi-join on {CONTAIN_B}
    keys/doc (shuffle ∝ corpus, never corpus²); the verify re-joins the
    per-doc shingle-set arrays by doc_id and intersects IN-ROW
    (array_intersect), the same zero-explosion verify as the r4 MinHash
    plan. A hot block (boilerplate-heavy corpus) is bounded by the r4
    viral-bucket pattern: key frequency caps compose here unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    arr = _doc_shingle_arrays(docs)
    keys = arr.select(
        "doc_id",
        F.explode(F.slice(F.array_sort("shs"), 1, CONTAIN_B)).alias("k"),
    )
    a, b = keys.alias("a"), keys.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst")
        )
        .distinct()
    )
    sa = arr.select(F.col("doc_id").alias("src"), F.col("shs").alias("shs_a"))
    sb = arr.select(F.col("doc_id").alias("dst"), F.col("shs").alias("shs_b"))
    overlap = F.size(F.array_intersect("shs_a", "shs_b"))
    contain = overlap.cast("double") / F.size("shs_a")
    return (
        cand.join(sa, "src")
        .join(sb, "dst")
        .where(contain >= CONTAIN_T)
        .select(
            "src",
            "dst",
            F.round(contain, 6).cast("double").alias("containment"),
            F.size("shs_a").cast("bigint").alias("n_src"),
            overlap.cast("bigint").alias("n_overlap"),
        )
    )


# ---------------------------------------------------------------------------
# sorted-neighborhood blocking (SNM; staged r7 -> r8)
# ---------------------------------------------------------------------------

_SNM_WINDOW = 3   # compare each record with the next w-1 in sort order
_SNM_KEY_TOKENS = 3


@register(
    "dedup_sorted_neighborhood",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
keyed AS (
  SELECT doc_id,
         list_distinct(toks) AS tset,
         toks[1] AS block,
         array_to_string(list_slice(toks, 1, {_SNM_KEY_TOKENS}), ' ')
           AS skey
  FROM t
),
neigh AS (
  SELECT doc_id, tset, skey,
         lead(doc_id, 1) OVER w AS id_1, lead(tset, 1) OVER w AS ts_1,
         lead(doc_id, 2) OVER w AS id_2, lead(tset, 2) OVER w AS ts_2
  FROM keyed
  WINDOW w AS (PARTITION BY block ORDER BY skey, doc_id)
),
cand AS (
  SELECT doc_id AS doc_a, id_1 AS doc_b, tset AS sa, ts_1 AS sb,
         1 AS gap FROM neigh WHERE id_1 IS NOT NULL
  UNION ALL
  SELECT doc_id, id_2, tset, ts_2, 2 FROM neigh WHERE id_2 IS NOT NULL
)
SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
       CAST(gap AS BIGINT) AS gap,
       CAST(round(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
            / (len(sa) + len(sb) - len(list_intersect(sa, sb))), 6)
            AS DOUBLE) AS jaccard
FROM cand
WHERE len(sa) + len(sb) - len(list_intersect(sa, sb)) > 0
  AND CAST(len(list_intersect(sa, sb)) AS DOUBLE)
      / (len(sa) + len(sb) - len(list_intersect(sa, sb)))
      >= {JACCARD_THRESHOLD}
""",

)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup blocking (SNM, Hernandez-Stolfo): sort
    records by a dup-clustering key (first 3 tokens), compare each
    record only with the next 2 in sort order, verify candidates with
    exact distinct-token Jaccard at the corpus threshold (0.5). The third classic blocking
    family alongside the repo's LSH banding (probabilistic) and prefix
    filtering (exact-recall): SNM trades recall for a HARD O(w*n)
    candidate bound — the shape used when the pipeline must guarantee
    its own cost envelope.

    Scale shape: candidates come from TWO lead() frames over one
    block-keyed exchange+sort (block = first token keeps windows
    hash-distributed, the standard multi-pass SNM adaptation — a global
    sort would serialize); verification is in-row array math. No
    pair-explosion anywhere: exactly 2n candidate rows pre-filter."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    keyed = docs.select(
        "doc_id",
        F.array_distinct(toks).alias("tset"),
        # F.get (0-based) is NULL-on-missing like the oracle's toks[1];
        # element_at THROWS under ANSI (Spark 4 default) on empty arrays
        F.get(toks, 0).alias("block"),
        F.array_join(F.slice(toks, 1, _SNM_KEY_TOKENS), " ").alias("skey"),
    )
    w = Window.partitionBy("block").orderBy("skey", "doc_id")
    neigh = keyed.select(
        "doc_id",
        "tset",
        F.lead("doc_id", 1).over(w).alias("id_1"),
        F.lead("tset", 1).over(w).alias("ts_1"),
        F.lead("doc_id", 2).over(w).alias("id_2"),
        F.lead("tset", 2).over(w).alias("ts_2"),
    )
    cand = (
        neigh.where(F.col("id_1").isNotNull())
        .select(
            F.col("doc_id").alias("doc_a"),
            F.col("id_1").alias("doc_b"),
            F.col("tset").alias("sa"),
            F.col("ts_1").alias("sb"),
            F.lit(1).cast("bigint").alias("gap"),
        )
        .unionAll(
            neigh.where(F.col("id_2").isNotNull()).select(
                F.col("doc_id").alias("doc_a"),
                F.col("id_2").alias("doc_b"),
                F.col("tset").alias("sa"),
                F.col("ts_2").alias("sb"),
                F.lit(2).cast("bigint").alias("gap"),
            )
        )
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    uni = F.size("sa") + F.size("sb") - inter
    jac = F.round(inter.cast("double") / uni, 6)
    return cand.where(
        (uni > 0) & (inter.cast("double") / uni >= JACCARD_THRESHOLD)
    ).select("doc_a", "doc_b", "gap", jac.alias("jaccard"))


# ---------------------------------------------------------------------------
# edit-distance verified near-dups over SNM blocking (built r8, staged r9)
# ---------------------------------------------------------------------------

_EDV_PREFIX = 120   # chars of text fed to Levenshtein (banded-verify cap)
_EDV_SIM_MIN = 0.5  # keep pairs with normalized similarity >= this


@register(
    "dedup_edit_distance_verify",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS toks,
         substr(lower(text), 1, {_EDV_PREFIX}) AS head
  FROM documents
),
keyed AS (
  SELECT doc_id, head,
         toks[1] AS block,
         array_to_string(list_slice(toks, 1, {_SNM_KEY_TOKENS}), ' ')
           AS skey
  FROM t
),
neigh AS (
  SELECT doc_id, head, skey,
         lead(doc_id, 1) OVER w AS id_1, lead(head, 1) OVER w AS h_1,
         lead(doc_id, 2) OVER w AS id_2, lead(head, 2) OVER w AS h_2
  FROM keyed
  WINDOW w AS (PARTITION BY block ORDER BY skey, doc_id)
),
cand AS (
  SELECT doc_id AS doc_a, id_1 AS doc_b, head AS ha, h_1 AS hb
  FROM neigh WHERE id_1 IS NOT NULL
  UNION ALL
  SELECT doc_id, id_2, head, h_2 FROM neigh WHERE id_2 IS NOT NULL
),
scored AS (
  SELECT doc_a, doc_b,
         CAST(levenshtein(ha, hb) AS BIGINT) AS edit_dist,
         greatest(length(ha), length(hb)) AS mx
  FROM cand
)
SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
       edit_dist,
       CAST(round(1 - CAST(edit_dist AS DOUBLE) / mx, 6) AS DOUBLE) AS sim
FROM scored
WHERE mx > 0 AND 1 - CAST(edit_dist AS DOUBLE) / mx >= {_EDV_SIM_MIN}
""",
)
def dedup_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup verification: SNM blocking (same block +
    sort-key + two lead() frames as `dedup_sorted_neighborhood` — the
    hard O(w*n) candidate bound) verified with EXACT Levenshtein
    distance over each text's first 120 chars, keeping pairs
    whose normalized similarity 1 - d/max_len >= 0.5. The
    character-level complement of the token-Jaccard verify: catches
    near-dups token sets miss (in-word edits, whitespace damage,
    truncation) and is the verify stage fuzzy-matching pipelines run
    after any blocker.

    Exactness: Levenshtein is the classic integer DP — both engines'
    built-ins agree exactly; the similarity is one double division of
    integers, identical expression both sides.

    Scale shape: identical to SNM — one block-keyed exchange+sort, 2n
    candidate rows, per-pair cost capped at 120^2 DP cells by
    the prefix (the banded-verify convention: unbounded-length
    Levenshtein is quadratic in DOCUMENT length, which no 100 TB verify
    stage pays; the prefix cap bounds it to a constant). Distance runs
    JVM-side (codegen'd built-in), never Python."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    keyed = docs.select(
        "doc_id",
        F.substring(F.lower("text"), 1, _EDV_PREFIX).alias("head"),
        F.get(toks, 0).alias("block"),
        F.array_join(F.slice(toks, 1, _SNM_KEY_TOKENS), " ").alias("skey"),
    )
    w = Window.partitionBy("block").orderBy("skey", "doc_id")
    neigh = keyed.select(
        "doc_id",
        "head",
        F.lead("doc_id", 1).over(w).alias("id_1"),
        F.lead("head", 1).over(w).alias("h_1"),
        F.lead("doc_id", 2).over(w).alias("id_2"),
        F.lead("head", 2).over(w).alias("h_2"),
    )
    cand = (
        neigh.where(F.col("id_1").isNotNull())
        .select(
            F.col("doc_id").alias("doc_a"),
            F.col("id_1").alias("doc_b"),
            F.col("head").alias("ha"),
            F.col("h_1").alias("hb"),
        )
        .unionAll(
            neigh.where(F.col("id_2").isNotNull()).select(
                F.col("doc_id").alias("doc_a"),
                F.col("id_2").alias("doc_b"),
                F.col("head").alias("ha"),
                F.col("h_2").alias("hb"),
            )
        )
    )
    d = F.levenshtein("ha", "hb").cast("bigint")
    mx = F.greatest(F.length("ha"), F.length("hb"))
    sim = F.lit(1) - d.cast("double") / mx
    return (
        cand.select("doc_a", "doc_b", d.alias("edit_dist"), mx.alias("mx"))
        .where(
            (F.col("mx") > 0)
            & (
                F.lit(1) - F.col("edit_dist").cast("double") / F.col("mx")
                >= _EDV_SIM_MIN
            )
        )
        .select(
            "doc_a",
            "doc_b",
            "edit_dist",
            F.round(
                F.lit(1) - F.col("edit_dist").cast("double") / F.col("mx"), 6
            ).cast("double").alias("sim"),
        )
    )


# ---------------------------------------------------------------------------
# banded-LSH parameter planner (built r8, staged r9)
# ---------------------------------------------------------------------------

# (bands, rows) splits of the repo's 16-component MinHash signature
_LSH_GRID = ((16, 1), (8, 2), (4, 4), (2, 8), (1, 16))


def _pow_chain(expr: str, n: int) -> str:
    """x^n as an explicit multiplication chain (exponentiation by
    squaring), emitted as the SAME literal string into both engines'
    SQL — IEEE multiplication in identical order, so the collision
    curve needs no libm pow() parity assumption."""
    if n == 1:
        return expr
    if n % 2 == 0:
        h = _pow_chain(expr, n // 2)
        return f"({h}*{h})"
    return f"({_pow_chain(expr, n - 1)}*{expr})"


def _lsh_planner_cases() -> str:
    """One UNION ALL arm per grid config: the s-curve collision
    probability p(j) = 1 - (1 - j^r)^b with j the pair's round-6
    Jaccard, plus the config's threshold s* = (1/b)^(1/r) precomputed
    here as a Python literal (never a runtime pow)."""
    import math

    arms = []
    for b, r in _LSH_GRID:
        inner = _pow_chain("j", r)
        p = f"(1 - {_pow_chain(f'(1 - {inner})', b)})"
        s_star = repr(math.pow(1.0 / b, 1.0 / r))
        arms.append(
            f"SELECT {b} AS bands, {r} AS rows_per_band,"
            f" CAST({s_star} AS DOUBLE) AS s_star,"
            f" j, CAST(round({p}, 8) AS DECIMAL(12,8)) AS pcoll,"
            f" is_dup FROM pairs"
        )
    return " UNION ALL ".join(arms)


_LSH_PLANNER_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
keyed AS (
  SELECT doc_id, list_distinct(toks) AS tset, toks[1] AS block,
         array_to_string(list_slice(toks, 1, {_SNM_KEY_TOKENS}), ' ')
           AS skey
  FROM t
),
neigh AS (
  SELECT doc_id, tset,
         lead(doc_id, 1) OVER w AS id_1, lead(tset, 1) OVER w AS ts_1,
         lead(doc_id, 2) OVER w AS id_2, lead(tset, 2) OVER w AS ts_2
  FROM keyed
  WINDOW w AS (PARTITION BY block ORDER BY skey, doc_id)
),
cand AS (
  SELECT tset AS sa, ts_1 AS sb FROM neigh WHERE id_1 IS NOT NULL
  UNION ALL
  SELECT tset, ts_2 FROM neigh WHERE id_2 IS NOT NULL
),
pairs AS (
  SELECT round(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
               / (len(sa) + len(sb) - len(list_intersect(sa, sb))), 6) AS j,
         CAST(len(list_intersect(sa, sb)) AS DOUBLE)
           / (len(sa) + len(sb) - len(list_intersect(sa, sb)))
           >= {JACCARD_THRESHOLD} AS is_dup
  FROM cand
  WHERE len(sa) + len(sb) - len(list_intersect(sa, sb)) > 0
),
curves AS ({_lsh_planner_cases()})
SELECT CAST(bands AS INT) AS bands, CAST(rows_per_band AS INT)
         AS rows_per_band,
       CAST(round(s_star, 6) AS DOUBLE) AS s_star,
       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_pairs,
       CAST(sum(CASE WHEN is_dup THEN 0 ELSE 1 END) AS BIGINT)
         AS n_nondup_pairs,
       CAST(round(CAST(sum(CASE WHEN is_dup THEN pcoll END) AS DOUBLE)
                  / nullif(sum(CASE WHEN is_dup THEN 1 ELSE 0 END), 0), 6)
            AS DOUBLE) AS recall_est,
       CAST(round(CAST(sum(CASE WHEN NOT is_dup THEN pcoll END) AS DOUBLE)
                  / nullif(sum(CASE WHEN is_dup THEN 0 ELSE 1 END), 0), 6)
            AS DOUBLE) AS fp_est
FROM curves
GROUP BY bands, rows_per_band, s_star
"""


@register("sim_lsh_param_planner", oracle=_LSH_PLANNER_SQL)
def sim_lsh_param_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH parameter planner: for every (bands, rows) split of
    the 16-component MinHash signature, estimate ON THIS CORPUS the
    expected duplicate recall and false-candidate rate by pushing each
    observed candidate pair's Jaccard through the banding s-curve
    p(j) = 1 - (1 - j^r)^b, plus the config's threshold
    s* = (1/b)^(1/r). The table a pipeline reads to pick its banding
    before paying for a full LSH pass — planner output, not a dedup
    pass itself. Pairs come from the SNM candidate generator (hard
    O(w*n) bound), split dup/non-dup at the corpus threshold
    0.5.

    Exactness: the s-curve is evaluated as explicit multiplication
    CHAINS (exponentiation by squaring, the same literal expression
    string in both engines) over the round-6 Jaccard — no runtime
    pow(), no libm parity assumption; s* values are Python-computed
    literals; per-pair curve values round to 8dp DECIMAL before the
    exact sums.

    Scale shape: one SNM exchange+sort produces <= 2n pairs; the grid
    multiplies rows by 5 INSIDE the same stage (a union
    of projections, no new scan — Spark sees one shuffle, the grid is
    free); the readout is a 5-group aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    keyed = docs.select(
        "doc_id",
        F.array_distinct(toks).alias("tset"),
        F.get(toks, 0).alias("block"),
        F.array_join(F.slice(toks, 1, _SNM_KEY_TOKENS), " ").alias("skey"),
    )
    w = Window.partitionBy("block").orderBy("skey", "doc_id")
    neigh = keyed.select(
        "tset",
        F.lead("doc_id", 1).over(w).alias("id_1"),
        F.lead("tset", 1).over(w).alias("ts_1"),
        F.lead("doc_id", 2).over(w).alias("id_2"),
        F.lead("tset", 2).over(w).alias("ts_2"),
    )
    cand = (
        neigh.where(F.col("id_1").isNotNull())
        .select(F.col("tset").alias("sa"), F.col("ts_1").alias("sb"))
        .unionAll(
            neigh.where(F.col("id_2").isNotNull()).select(
                F.col("tset").alias("sa"), F.col("ts_2").alias("sb")
            )
        )
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    uni = F.size("sa") + F.size("sb") - inter
    pairs = cand.where(uni > 0).select(
        F.round(inter.cast("double") / uni, 6).alias("j"),
        (inter.cast("double") / uni >= JACCARD_THRESHOLD).alias("is_dup"),
    )
    import math

    arms = []
    for b, r in _LSH_GRID:
        inner = _pow_chain("j", r)
        p = f"(1 - {_pow_chain(f'(1 - {inner})', b)})"
        arms.append(
            pairs.select(
                F.lit(b).cast("int").alias("bands"),
                F.lit(r).cast("int").alias("rows_per_band"),
                F.lit(math.pow(1.0 / b, 1.0 / r)).alias("s_star"),
                F.expr(f"CAST(round({p}, 8) AS DECIMAL(12,8))").alias(
                    "pcoll"
                ),
                "is_dup",
            )
        )
    curves = arms[0]
    for a in arms[1:]:
        curves = curves.unionAll(a)
    n_dup = F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
    n_non = F.sum(F.when(F.col("is_dup"), 0).otherwise(1))
    return curves.groupBy("bands", "rows_per_band", "s_star").agg(
        n_dup.cast("bigint").alias("n_dup_pairs"),
        n_non.cast("bigint").alias("n_nondup_pairs"),
        F.round(
            F.sum(F.when(F.col("is_dup"), F.col("pcoll"))).cast("double")
            / F.nullif(n_dup, F.lit(0)),
            6,
        ).cast("double").alias("recall_est"),
        F.round(
            F.sum(F.when(~F.col("is_dup"), F.col("pcoll"))).cast("double")
            / F.nullif(n_non, F.lit(0)),
            6,
        ).cast("double").alias("fp_est"),
    ).select(
        "bands", "rows_per_band",
        F.round("s_star", 6).cast("double").alias("s_star"),
        "n_dup_pairs", "n_nondup_pairs", "recall_est", "fp_est",
    )
