"""Dedup queries (Tier C — SURVEY.md §2.12-1/2, BASELINE.json)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions import text as T
from ..operators import dedup
from ..sources import load_table
from .registry import register


@register("dedup_exact_keep_first", oracle=dedup.EXACT_KEEP_FIRST_SQL)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the 16-byte md5 text digest; canonical = lowest doc_id
    per group (deterministic keep-first)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_keep_first(docs)


@register("dedup_minhash_signatures", oracle=dedup.minhash_signatures_sql())
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-function MinHash signatures over distinct word sets (portable
    hashes — every stage oracle-checkable, unlike murmur-based MLlib)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_signatures(docs)


@register("dedup_minhash_near_dups", oracle=dedup.minhash_near_dups_sql())
def dedup_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH end-to-end: banded candidate join (shuffle ∝ docs×bands,
    not docs²) -> exact Jaccard verify -> threshold."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_near_dups(docs)


@register("dedup_shingle_jaccard", oracle=dedup.shingle_near_dups_sql())
def dedup_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram shingle Jaccard near-dup (shingle-sharing candidate
    blocking)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.shingle_near_dups(docs)


@register("dedup_simhash", oracle=dedup.simhash_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24-bit SimHash signatures (count-weighted bit votes)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs)


@register("dedup_simhash_near_dups", oracle=dedup.simhash_near_dups_sql())
def dedup_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming <= 3, high-bits blocking)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_dups(docs)


@register("dedup_components", oracle=dedup.minhash_dedup_components_sql())
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization: connected components over the MinHash near-dup
    pairs — every doc labeled with the min doc_id of its duplicate cluster
    (keep one per component = the dedup'd corpus). Iterative min-label
    propagation on Spark; recursive-CTE closure in the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dups(docs)
    return dedup.connected_components(docs, pairs)


@register(
    "dedup_keep_longest",
    oracle=f"""
WITH comp AS ({dedup.minhash_dedup_components_sql()})
SELECT c.doc_id, c.component,
       row_number() OVER (PARTITION BY c.component
                          ORDER BY d.n_chars DESC, c.doc_id) = 1 AS is_kept
FROM comp c JOIN documents d USING (doc_id)
""",
)
def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-based canonical selection: within each near-dup cluster keep
    the LONGEST document (n_chars desc, doc_id tie-break) instead of the
    min-id one — the curation policy that preserves the most complete
    variant of a duplicated page (truncated scrapes and snippets drop).

    Scale shape: everything up to the component labels is the bounded
    MinHash pipeline; the selection itself is one window over
    (component) — dup clusters are small by construction (post-dedup), so
    the partition key is never skewed, and the payload carried through the
    shuffle is (doc_id, component, n_chars), never text."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dups(docs)
    comp = dedup.connected_components(docs, pairs)
    joined = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return joined.select(
        "doc_id", "component", (F.row_number().over(w) == 1).alias("is_kept")
    )


_SPLIT_A = 40_503  # shared with rel_split_assign (queries_corpus.py)
_SPLIT_C = 7_919


@register(
    "dedup_split_leakage_safe",
    oracle=f"""
WITH comp AS ({dedup.minhash_dedup_components_sql()}),
sizes AS (
  SELECT component, count(*) AS n_members FROM comp GROUP BY component
),
assigned AS (
  SELECT n_members,
         (component * {_SPLIT_A} + {_SPLIT_C}) % {T.HASH_MOD} % 100 AS h
  FROM sizes
)
SELECT CASE WHEN h < 80 THEN 'train'
            WHEN h < 90 THEN 'val'
            ELSE 'test' END AS split,
       CAST(sum(n_members) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_components,
       CAST(sum(CASE WHEN n_members > 1 THEN n_members ELSE 0 END)
            AS BIGINT) AS n_dup_docs
FROM assigned GROUP BY 1
""",
)
def dedup_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: assignment hashes the near-dup
    COMPONENT id, not the doc id, so every near-duplicate cluster lands in
    ONE split by construction — the dedup-aware split that keeps eval sets
    uncontaminated by training-set near-copies (plain per-doc splitting,
    rel_split_assign, can put two 95%-identical scrapes on opposite sides
    of the train/test wall). Emits per-split docs / components / docs-in-
    multi-doc-components; the oracle derives the same numbers from ITS OWN
    independently-computed closure, so the hash match proves the composed
    pipeline (pairs → components → assignment) end-to-end.

    Scale shape: everything up to the labels is the bounded MinHash +
    label-propagation pipeline (SCALE.md); the split is row-local affine
    arithmetic on the component id (same constants as rel_split_assign)
    and the stats are one component-keyed aggregate whose output is
    #components rows, then three groups. No new shuffle class is
    introduced; text never moves."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dups(docs)
    comp = dedup.connected_components(docs, pairs)
    sizes = comp.groupBy("component").agg(F.count("*").alias("n_members"))
    h = (F.col("component") * _SPLIT_A + _SPLIT_C) % T.HASH_MOD % 100
    split = F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    return (
        sizes.select(split.alias("split"), "n_members")
        .groupBy("split")
        .agg(
            F.sum("n_members").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_components"),
            F.sum(
                F.when(F.col("n_members") > 1, F.col("n_members")).otherwise(0)
            )
            .cast("bigint")
            .alias("n_dup_docs"),
        )
    )


@register(
    "dedup_incremental_minhash",
    oracle=dedup.incremental_minhash_sql(),
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time near-dup dedup: probe a new batch (doc_id % 5 == 0)
    against the existing corpus through the LSH band index — candidate
    volume scales with the BATCH, never the corpus pair count; the exact
    Jaccard verify is the same in-row array_intersect as
    dedup_minhash_near_dups (operators/dedup.py::
    incremental_minhash_near_dups)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.incremental_minhash_near_dups(docs)


@register(
    "stream_minhash_index_drain",
    oracle=dedup.incremental_minhash_sql(),
)
def stream_minhash_index_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standing dedup index, maintained BY A STREAM and probed from
    the table: drain the existing corpus (doc_id % 5 != 0) through
    ``upsert_stream`` — per row the shingle set, signature and band codes
    are computed in-stream (the tokenize+hash+min-fold cost is paid once,
    at ingest), then the (doc_id, band_id, band_value) rows keyed-MERGE
    on (doc_id, band_id), so a re-delivered doc idempotently replaces its
    own band rows and an edited doc re-bands in place. The newly ingested
    batch's band rows are then probed against the materialized index and
    Jaccard-verified, never re-banding the corpus. The oracle is
    dedup_incremental_minhash's SQL — the table-served probe must answer
    identically to in-plan banding of the base corpus."""
    from pyspark.sql import functions as F

    from ..cache import persist_tracked
    from ..operators.dedup import (
        INCR_MOD,
        _banded,
        _doc_shingle_arrays,
        minhash_signatures,
        probe_bands,
    )
    from ..streaming import upsert_stream
    from ..streaming.drain import drain, merged_or_empty, source_copy

    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") % INCR_MOD != 0)
    source = source_copy(
        f"minhash_index:{sf_dir}",
        lambda p: base.coalesce(1).write.mode("append").parquet(p),
    )
    index_dir = drain(spark, lambda out, ckpt: upsert_stream(
        spark, source, base.schema, out, ckpt, ["doc_id", "band_id"],
        rows=lambda b: _banded(minhash_signatures(b)),
    ))
    base_bands = merged_or_empty(
        spark, index_dir, "doc_id bigint, band_id int, band_value string"
    ).select(
        F.col("doc_id").alias("doc_b"), "band_id", "band_value"
    )
    arrays = persist_tracked(_doc_shingle_arrays(docs))
    # the delta side's shingle arrays are a narrow id-split of the shared
    # relation -- no join against the document rows needed
    delta_bands = _banded(
        minhash_signatures(docs, arrays=arrays.where(F.col("doc_id") % INCR_MOD == 0))
    ).select(F.col("doc_id").alias("doc_a"), "band_id", "band_value")
    return probe_bands(docs, delta_bands, base_bands, arrays)


SPAN_K = 5  # gram width: every duplicated run of >= SPAN_K tokens is found


@register(
    "dedup_substring_spans",
    oracle=rf"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     t -> t <> '') AS toks
  FROM documents
),
grams AS (
  SELECT doc_id, g_i AS pos,
         md5(array_to_string(toks[g_i + 1 : g_i + {SPAN_K}], chr(1))) AS gram
  FROM base, UNNEST(generate_series(0, len(toks) - {SPAN_K})) AS t(g_i)
  WHERE len(toks) >= {SPAN_K}
),
dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
hits AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM grams WHERE gram IN (SELECT gram FROM dup)
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {SPAN_K} - 1 AS BIGINT) AS span_end,
       CAST(max(pos) - min(pos) + {SPAN_K} AS BIGINT) AS span_tokens
FROM hits
GROUP BY doc_id, grp
ORDER BY doc_id, span_start
""",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans (the Lee et al. 2022 "dedup makes
    LMs better" ExactSubstr shape, re-expressed relationally): every
    maximal token run that appears more than once in the corpus —
    including twice in the same document — reported as per-doc
    [span_start, span_end] cut lists. Their suffix-array scan doesn't
    distribute; the equivalent relational guarantee does: a duplicated
    run of length L >= SPAN_K produces L-SPAN_K+1 duplicated SPAN_K-grams
    at consecutive start positions, and merging consecutive duplicated
    starts (gaps-and-islands) reconstructs exactly the maximal span.
    Adjacent spans duplicated from DIFFERENT sources merge into one cut
    region — a superset union that is precisely what a cut list needs.

    Scale: gram hashing is narrow per-row (cost ∝ doc length); the
    corpus-frequency count shuffles on the 32-hex md5 gram (uniform keys
    — no skew even when the corpus repeats one phrase, because the GRAM
    is the key, not the doc); the duplicated-gram set rejoins by semi
    join; islands are one doc_id-partitioned window. Three shuffles
    total, all on bounded-width keys, never docs² pairs."""
    K = SPAN_K
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", T.tokens("text").alias("toks")).where(
        F.size("toks") >= K
    )
    from ..cache import persist_tracked

    gram_arr = F.transform(
        F.sequence(F.lit(0), F.size("toks") - K),
        lambda i: F.md5(F.array_join(F.slice("toks", i + 1, K), "\x01")),
    )
    # the tokenize -> per-position md5 -> posexplode lineage is the
    # query's dominant narrow work and feeds BOTH the frequency count and
    # the semi-join probe; persist it once instead of recomputing twice
    grams = persist_tracked(
        base.select("doc_id", F.posexplode(gram_arr).alias("pos", "gram"))
    )
    dup = grams.groupBy("gram").count().where(F.col("count") >= 2).select("gram")
    hits = grams.join(dup, "gram", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        islands.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + K - 1).cast("bigint").alias("span_end"),
            (F.max("pos") - F.min("pos") + K).cast("bigint").alias("span_tokens"),
        )
        .select("doc_id", "span_start", "span_end", "span_tokens")
        .orderBy("doc_id", "span_start")
    )


# ---------------------------------------------------------------------------
# MinHash estimator-quality eval (staged r7 -> r8)
# ---------------------------------------------------------------------------

_MH_K = 16  # len(dedup._A): sig components


def _mh_eval_sql() -> str:
    from ..operators.dedup import minhash_signatures_sql, shingle_near_dups_sql

    matches = " + ".join(
        f"CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END"
        for i in range(_MH_K)
    )
    return f"""
WITH sigs AS ({minhash_signatures_sql()}),
pairs AS ({shingle_near_dups_sql()})
SELECT p.doc_a, p.doc_b,
       p.jaccard AS exact_jaccard,
       CAST(({matches}) AS BIGINT) AS n_matches,
       CAST(({matches}) / {float(_MH_K)} AS DOUBLE) AS est_jaccard,
       CAST(round(abs(({matches}) / {float(_MH_K)} - p.jaccard), 6)
            AS DOUBLE) AS abs_err
FROM pairs p
JOIN sigs sa ON sa.doc_id = p.doc_a
JOIN sigs sb ON sb.doc_id = p.doc_b
"""


@register("dedup_minhash_estimate_eval", oracle=_mh_eval_sql())
def dedup_minhash_estimate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator-quality report: for every EXACT near-dup pair
    (the exhaustive shingle-Jaccard set), compare the sketch's Jaccard
    estimate — matching signature components / 16 — against the true
    Jaccard. E[est] = J is the MinHash guarantee; this query turns it
    into a measurable per-pair error table (the dedup analog of
    sim_recall_report: it grades the SKETCH, so threshold choices for
    the banded LSH path are informed by data, not folklore).

    Scale shape: signatures are the zero-shuffle array folds
    (operators/dedup.py::minhash_signatures); the pair set is the
    shingle-blocked join; the eval adds two doc_id-keyed broadcast-able
    joins of signature rows — nothing quadratic, nothing new shuffles at
    corpus scale."""
    from ..operators.dedup import minhash_signatures, shingle_near_dups

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    pairs = shingle_near_dups(docs)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"sig_{i}").alias(f"a_{i}") for i in range(_MH_K)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"sig_{i}").alias(f"b_{i}") for i in range(_MH_K)],
    )
    n_matches = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(_MH_K)
    )
    est = n_matches.cast("double") / _MH_K
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("jaccard").alias("exact_jaccard"),
            n_matches.cast("bigint").alias("n_matches"),
            est.alias("est_jaccard"),
            F.round(F.abs(est - F.col("jaccard")), 6).alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# portable Bloom-filter membership audit (built r11, staged r12)
# ---------------------------------------------------------------------------

_BLOOM_M = 65536   # filter bits
_BLOOM_K = 4       # probes per key (Kirsch-Mitzenmacher double hashing)

_BLOOM_SQL = f"""
WITH keyed AS (
  SELECT doc_id,
         {T.char_hash_sql('text')} AS h1,
         {T.char_hash_sql('reverse(text)')} AS h2,
         {T.digest_sql('text')} AS dg
  FROM documents
),
bits AS (
  SELECT DISTINCT (h1 + i * h2) % {_BLOOM_M} AS bit
  FROM keyed, (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS i)
  WHERE doc_id % 2 = 0
),
build_dg AS (SELECT DISTINCT dg FROM keyed WHERE doc_id % 2 = 0),
probe AS (SELECT * FROM keyed WHERE doc_id % 2 = 1),
hits AS (
  SELECT p.doc_id, count(*) AS n_hit
  FROM probe p,
       (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS i) ii
  JOIN bits b ON (p.h1 + ii.i * p.h2) % {_BLOOM_M} = b.bit
  GROUP BY p.doc_id
)
SELECT p.doc_id,
       COALESCE(h.n_hit, 0) = {_BLOOM_K} AS bloom_maybe,
       (bd.dg IS NOT NULL) AS exact_dup
FROM probe p
LEFT JOIN hits h ON p.doc_id = h.doc_id
LEFT JOIN build_dg bd ON p.dg = bd.dg
ORDER BY p.doc_id
"""


@register("dedup_bloom_membership", oracle=_BLOOM_SQL)
def dedup_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Bloom-filter membership audit (built r11, staged
    r12) — the classic pre-filter in front of an exact dedup join:
    build a {_BLOOM_M}-bit filter over the even-doc_id half of the
    corpus (k={_BLOOM_K} probes per key via Kirsch-Mitzenmacher double
    hashing: p_i = (h1 + i·h2) mod m, h1/h2 the engine's portable
    char hashes of text and reversed text), probe every odd doc, and
    report the bloom verdict BESIDE the exact md5-digest answer — the
    no-false-negative guarantee (every exact duplicate is bloom-hit)
    becomes a hash-checked corpus-wide invariant, and the false-
    positive columns quantify what the pre-filter would cost.

    Scale shape: the filter is a DISTINCT-bit TABLE (≤ m rows),
    distributable where a bitset would be driver-bound: build is one
    map-side-combinable distinct over 4·|A| positions; probing joins
    position-keyed (shuffle ∝ 4·|B| carrying 16-byte rows, never
    text); the digest comparison is the same hash-carrying semi-join
    every exact-dedup query uses. At 100 TB both sides bucket by the
    join key — no broadcast of corpus-sized state, no driver
    materialization."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        T.char_hash("text").alias("h1"),
        T.char_hash(F.reverse(F.col("text"))).alias("h2"),
        T.digest("text").alias("dg"),
    )
    from ..cache import persist_tracked

    keyed = persist_tracked(keyed)
    probes = F.explode(
        F.sequence(F.lit(0), F.lit(_BLOOM_K - 1))
    ).alias("i")
    build = keyed.where(F.col("doc_id") % 2 == 0)
    bits = (
        build.select(probes, "h1", "h2")
        .select(
            ((F.col("h1") + F.col("i") * F.col("h2")) % _BLOOM_M)
            .alias("bit")
        )
        .distinct()
    )
    build_dg = build.select("dg").distinct()
    probe = keyed.where(F.col("doc_id") % 2 == 1)
    hits = (
        probe.select("doc_id", probes, "h1", "h2")
        .select(
            "doc_id",
            ((F.col("h1") + F.col("i") * F.col("h2")) % _BLOOM_M)
            .alias("bit"),
        )
        .join(bits, "bit")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        probe.join(hits, "doc_id", "left")
        .join(
            build_dg.withColumnRenamed("dg", "bdg"),
            probe["dg"] == F.col("bdg"),
            "left",
        )
        .select(
            "doc_id",
            (F.coalesce(F.col("n_hit"), F.lit(0)) == _BLOOM_K)
            .alias("bloom_maybe"),
            F.col("bdg").isNotNull().alias("exact_dup"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# content-defined chunking partial-dup profile (built r11, staged r12)
# ---------------------------------------------------------------------------

_CDC_W = 8      # rolling window (chars)
_CDC_MASK = 64  # boundary when window-hash % 64 == 0 (~64-char chunks)

_CDC_BOUNDS_SPARK = f"""
CASE WHEN length(text) < {_CDC_W} THEN array(length(text))
ELSE concat(
  filter(sequence({_CDC_W}, length(text)),
    i -> i < length(text) AND
         aggregate(slice(split(text, ''), i - {_CDC_W - 1}, {_CDC_W}),
                   0L,
                   (acc, ch) -> (acc * {T.HASH_BASE} + ascii(ch))
                                % {T.HASH_MOD}) % {_CDC_MASK} = 0),
  array(length(text)))
END
"""

_CDC_BOUNDS_DUCK = f"""
CASE WHEN length(text) < {_CDC_W} THEN [length(text)]
ELSE list_concat(
  list_filter(generate_series({_CDC_W}, length(text)),
    i -> i < length(text) AND
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(generate_series(i - {_CDC_W - 1}, i),
                            ch_i -> ascii(text[ch_i]))),
           (acc, ch) -> (acc * {T.HASH_BASE} + ch) % {T.HASH_MOD})
         % {_CDC_MASK} = 0),
  [length(text)])
END
"""

_CDC_SQL = f"""
WITH base AS (
  SELECT doc_id, text, {_CDC_BOUNDS_DUCK} AS bounds
  FROM documents WHERE length(text) > 0
),
chunks AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(bounds)),
           k -> md5(substr(text,
                           CAST(list_concat([0], bounds)[k] AS INT) + 1,
                           CAST(bounds[k]
                                - list_concat([0], bounds)[k] AS INT)))))
           AS dg
  FROM base
),
per_chunk AS (
  SELECT dg, count(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY dg
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN p.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       CAST(round(sum(CASE WHEN p.n_docs > 1 THEN 1 ELSE 0 END)
                  / CAST(count(*) AS DOUBLE), 6) AS DOUBLE)
         AS shared_ratio
FROM chunks c JOIN per_chunk p USING (dg)
GROUP BY c.doc_id
"""


@register("dedup_cdc_chunking", oracle=_CDC_SQL)
def dedup_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking partial-duplicate profile (built r11,
    staged r12) — the storage-dedup technique (Rabin/LBFS lineage;
    FastCDC's un-bounded ancestor) applied to corpus curation: chunk
    boundaries fall where the {_CDC_W}-char rolling window hash is
    ≡ 0 (mod {_CDC_MASK}), so a shared PASSAGE chunks identically in
    both documents regardless of its byte offset — insert a paragraph
    at the top and fixed-size blocks all shift, but content-defined
    chunks realign at the next boundary. Per doc: chunk count, chunks
    shared with ANY other doc (md5 chunk keys), shared ratio — the
    sub-document redundancy signal between whole-doc exact dedup and
    MinHash near-dup. Deliberately the PURE content-defined rule (no
    FastCDC min/max bounds: those make boundaries sequential-state;
    this form keeps every boundary a position-independent predicate —
    the distributable and oracle-statable variant, documented
    tradeoff).

    Exactness: the window hash is the engine's portable char fold;
    boundaries/chunks/digests are integer-and-string-exact; the only
    double is the final round-6 ratio of exact counts.

    Scale shape: boundary detection is IN-ROW (codegen higher-order
    fold, O(len·w) per doc, zero shuffle); the chunk table shuffles
    16-byte md5 keys only (the dedup-family contract: text never
    rides the wire beyond its own chunk hash); sharedness is one
    chunk-keyed count + one doc-keyed rollup."""
    from ..sources import spread

    # r12: the O(len·w) in-row rolling-hash boundary fold is the whole
    # cost and ran on ONE task behind the single-split scan — rebalance
    # before it (sources.spread; guide §2.5 input skew).
    docs = spread(
        load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    )
    base = docs.select(
        "doc_id", "text", F.expr(_CDC_BOUNDS_SPARK).alias("bounds")
    )
    chunks = base.select(
        "doc_id",
        F.explode(
            F.expr(
                """
        transform(sequence(1, size(bounds)), k ->
          md5(CAST(substr(text,
                element_at(concat(array(0), bounds), k) + 1,
                element_at(bounds, k)
                  - element_at(concat(array(0), bounds), k))
              AS BINARY)))
        """
            )
        ).alias("dg"),
    )
    from ..cache import persist_tracked

    chunks = persist_tracked(chunks)
    per_chunk = chunks.groupBy("dg").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    shared = F.sum(
        F.when(F.col("n_docs") > 1, F.lit(1)).otherwise(F.lit(0))
    )
    return (
        chunks.join(per_chunk, "dg")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            shared.cast("bigint").alias("n_shared"),
            F.round(
                shared / F.count("*").cast("double"), 6
            )
            .cast("double")
            .alias("shared_ratio"),
        )
    )
