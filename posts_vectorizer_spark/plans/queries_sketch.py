"""Sketch & iterative wave 6 (SURVEY.md §2.17 extensions): a portable
HyperLogLog cardinality sketch, a count-min frequency sketch, TextRank
(PageRank over the word co-occurrence graph) with unrolled iterations, and
SCD2 dimension versioning from an event log.

Sketches ARE the 100 TB toolbox — exact distinct/frequency is a luxury at
petabyte scale — and building them from the portable hash makes them [Q]:
the sketch contents are a pure function of the data, so DuckDB verifies
every register and every counter exactly. Iterative graph algorithms are
normally the "non-SQL-expressible" bucket; a fixed iteration count unrolls
into plain joins on both engines, so even the iteration is hash-checked.

Float determinism notes: HLL's 2^-M register sum adds exact binary
fractions (order-insensitive by construction); TextRank contributions are
rounded to 12 decimals and summed as DECIMAL(28,12) (exact, order-free)
before the damping arithmetic, so three iterations stay bit-identical
across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions import text as T
from ..sources import load_table, spread
from .registry import register


# ---------------------------------------------------------------------------
# portable HyperLogLog (64 registers, arithmetic-only bit probing)
# ---------------------------------------------------------------------------

_HLL_M = 64          # registers (b = 6 bucket bits)
_HLL_ALPHA = 0.709   # standard bias constant for m = 64
_HLL_MAXBIT = 24     # rest = h // 64 < (1e9+7)/64 < 2^24
_HLL_MULT = 2_654_435_761  # Knuth multiplicative constant


HLL_PORTABLE_SQL = f"""
WITH hb AS (
  SELECT (l_orderkey * {_HLL_MULT} + 7919) % {T.HASH_MOD} AS hb
  FROM lineitem
),
h AS (SELECT (hb * hb) % {T.HASH_MOD} AS h FROM hb),
reg AS (
  SELECT h % {_HLL_M} AS bucket,
         coalesce(
           list_min(list_filter(generate_series(0, {_HLL_MAXBIT}),
             k -> (CAST(floor((h // {_HLL_M}) / power(2, k)) AS BIGINT)
                   % 2) = 1)),
           {_HLL_MAXBIT}) + 1 AS rho
  FROM h
),
regs AS (
  SELECT b.bucket, coalesce(max(reg.rho), 0) AS m
  FROM (SELECT unnest(generate_series(0, {_HLL_M - 1})) AS bucket) b
  LEFT JOIN reg ON reg.bucket = b.bucket
  GROUP BY b.bucket
),
est AS (
  SELECT CAST(round({_HLL_ALPHA} * {_HLL_M} * {_HLL_M}
                    / sum(power(2.0, -m)), 6) AS DOUBLE) AS hll_estimate
  FROM regs
),
ex AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct
       FROM lineitem)
SELECT CAST({_HLL_M} AS INTEGER) AS m, hll_estimate, exact_distinct,
       CAST(round(abs(hll_estimate - exact_distinct) / exact_distinct, 6)
            AS DOUBLE) AS rel_error
FROM est CROSS JOIN ex
"""


def hll_sparse_registers(
    df: DataFrame, key: str, extra_keys: tuple[str, ...] = ()
) -> DataFrame:
    """(*extra_keys, bucket, rho) sparse HLL registers (max-grouped) for
    an integer key column — the ONE copy of the quadratic-mix hash +
    rho probe, shared by the batch query, the streaming max-merge drain
    (stream_hll_drain), and the set-algebra query (rel_hll_set_ops via
    its per-set tag in ``extra_keys`` — r9 review finding: the pipeline
    had been inlined there a second time)."""
    hb = (F.col(key) * _HLL_MULT + 7919) % T.HASH_MOD
    h = (hb * hb) % T.HASH_MOD
    rest = F.floor(h / _HLL_M).cast("long")
    rho = (
        F.coalesce(
            F.array_min(
                F.filter(
                    F.sequence(F.lit(0), F.lit(_HLL_MAXBIT)),
                    lambda k: (
                        F.floor(rest / F.pow(F.lit(2.0), k)).cast("long") % 2
                    )
                    == 1,
                )
            ),
            F.lit(_HLL_MAXBIT),
        )
        + 1
    )
    return (
        df.select(
            *extra_keys, (h % _HLL_M).alias("bucket"), rho.alias("rho")
        )
        .groupBy(*extra_keys, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate_readout(
    spark: SparkSession, sparse: DataFrame, exact: DataFrame
) -> DataFrame:
    """Dense-registers → raw estimate → error vs the exact count — a
    pure function of sparse (bucket, rho) state, identical over a
    one-pass sketch or merged streaming state. Over empty input every
    register is 0 and ``rel_error`` is NULL (no distinct values to be
    relative to), as the oracle's division by a zero count gives."""
    buckets = spark.range(_HLL_M).select(F.col("id").alias("bucket"))
    regs = (
        buckets.join(sparse, "bucket", "left")
        .select(F.coalesce("rho", F.lit(0)).alias("m"))
    )
    est = regs.agg(
        F.round(
            F.lit(_HLL_ALPHA * _HLL_M * _HLL_M)
            / F.sum(F.pow(F.lit(2.0), -F.col("m"))),
            6,
        )
        .cast("double")
        .alias("hll_estimate")
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            F.lit(_HLL_M).cast("int").alias("m"),
            "hll_estimate",
            "exact_distinct",
            F.when(
                F.col("exact_distinct") != 0,
                F.round(
                    F.abs(F.col("hll_estimate") - F.col("exact_distinct"))
                    / F.col("exact_distinct"),
                    6,
                ),
            )
            .cast("double")
            .alias("rel_error"),
        )
    )


@register("rel_hll_portable", oracle=HLL_PORTABLE_SQL)
def rel_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog: estimate distinct l_orderkey with 64
    registers built from the portable hash — unlike `rel_approx_distinct`
    (Spark's native HLL++, rows-only [R]), this sketch's every register is
    a pure function of the data, so the oracle verifies the full sketch
    AND the estimate exactly. rho (first set bit of the remaining hash
    bits) is probed with division-by-power-of-two arithmetic — exact in
    both engines, no engine-specific bit intrinsics.

    Scale shape: one scan, one 64-group map-side-combinable max — the
    whole point of HLL at 100 TB: the shuffle carries at most
    64 × #partitions rows and registers merge by max, the same merge a
    multi-day incremental rollup uses. The 2^-M register sum adds exact
    binary fractions (all representable, total < 2^6), so the estimate is
    partition-order insensitive.
    """
    # r13: the rho probe is an interpreted HOF chain (sequence + filter +
    # array_min per row) and ran on the scan's 3 input splits; the gated
    # rebalance spreads it (and the exact-count branch, which shares the
    # reused exchange) across all cores.
    li = spread(load_table(spark, sf_dir, "lineitem"))
    # Quadratic mixing (inside hll_sparse_registers): a purely linear
    # h = k*A % p keeps sequential keys on a lattice whose low bits are
    # far from uniform — the register histogram skews and the estimate
    # biases +40%. Squaring mod p is the cheapest portable nonlinearity
    # (fits int64: hb < 1e9+7, hb^2 < 2^63).
    sparse = hll_sparse_registers(li, "l_orderkey")
    ex = li.agg(
        F.count_distinct(F.col("l_orderkey")).alias("exact_distinct")
    )
    return hll_estimate_readout(spark, sparse, ex)


# ---------------------------------------------------------------------------
# count-min sketch heavy hitters
# ---------------------------------------------------------------------------

_CMS_W = 32   # counters per row
_CMS_D = 3    # independent hash rows


def _cms_bucket(h, d):
    """Row-d counter index derived from the base hash (odd multiplier +
    offset keeps rows distinct; approximate independence is the standard
    CMS trade)."""
    return (h * (2 * d + 1) + 97 * d) % T.HASH_MOD % _CMS_W


def _cms_explode() -> F.Column:
    """The d-row (d, bucket) probe array for a hash column ``h`` — the
    map-side half of the sketch, shared by the batch query and the
    streaming maintenance drain (stream_cms_drain)."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).alias("d"),
                    _cms_bucket(F.col("h"), F.lit(d)).alias("bucket"),
                )
                for d in range(_CMS_D)
            ]
        )
    )


def cms_delta(hashed: DataFrame) -> DataFrame:
    """(d, bucket, cnt) counter increments for a batch of hashed tokens —
    additive, so partial sketches from any batch split merge by +."""
    return (
        hashed.select(_cms_explode().alias("c"))
        .select("c.d", "c.bucket")
        .groupBy("d", "bucket")
        .agg(F.count("*").cast("bigint").alias("c"))
    )


def cms_delta_counts(hashed_counts: DataFrame) -> DataFrame:
    """cms_delta over pre-aggregated (h, n) word counts: each distinct
    hash contributes its occurrence count to its d cells, so the counters
    are bit-identical to the per-occurrence form while the expensive
    char_hash fold runs once per DISTINCT word instead of once per token
    occurrence (r12, guide §1.2 per-task work: the portable per-char hash
    was the dominant map-side cost of the CMS paths)."""
    return (
        hashed_counts.select(_cms_explode().alias("c"), F.col("n"))
        .select("c.d", "c.bucket", "n")
        .groupBy("d", "bucket")
        .agg(F.sum("n").cast("bigint").alias("c"))
    )


def cms_counters(docs: DataFrame) -> DataFrame:
    """(d, bucket, c) counter grid of ``docs.text``'s tokens, counting
    per word first and hashing each DISTINCT word once (cms_delta_counts)
    — the streaming drain's per-batch delta. Counter addition is
    commutative, the CMS merge property, so any batch split yields the
    one-pass sketch."""
    counts = (
        docs.select(F.explode(T.tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .select(T.char_hash("word").alias("h"), "n")
    )
    return cms_delta_counts(counts)


def cms_estimates(exact: DataFrame, cms: DataFrame) -> DataFrame:
    """Per-word min-across-rows estimates from a (d, bucket, c) sketch,
    joined beside the exact counts — pure function of the sketch state,
    identical over a one-pass build or merged streaming state."""
    probes = exact.select(
        "word", "exact_cnt", _cms_explode().alias("p")
    ).select("word", "exact_cnt", "p.d", "p.bucket")
    return (
        probes.join(F.broadcast(cms), ["d", "bucket"])
        .groupBy("word", "exact_cnt")
        .agg(F.min("c").cast("bigint").alias("cms_estimate"))
        .select("word", "exact_cnt", "cms_estimate")
    )


CMS_HEAVY_HITTERS_SQL = f"""
WITH toks AS (
  SELECT unnest({T.tokens_sql('text')}) AS word FROM documents
),
hashed AS (SELECT word, {T.char_hash_sql('word')} AS h FROM toks),
cells AS (
  SELECT d.d, (h * (2 * d.d + 1) + 97 * d.d) % {T.HASH_MOD} % {_CMS_W}
           AS bucket
  FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, {_CMS_D - 1}))
                          AS d) d
),
cms AS (SELECT d, bucket, count(*) AS c FROM cells GROUP BY d, bucket),
exact AS (SELECT word, max(h) AS h, count(*) AS exact_cnt
          FROM hashed GROUP BY word)
SELECT e.word,
       CAST(e.exact_cnt AS BIGINT) AS exact_cnt,
       CAST(min(cms.c) AS BIGINT) AS cms_estimate
FROM exact e
JOIN cms ON cms.bucket = (e.h * (2 * cms.d + 1) + 97 * cms.d)
                          % {T.HASH_MOD} % {_CMS_W}
GROUP BY e.word, e.exact_cnt
"""


@register("text_cms_heavy_hitters", oracle=CMS_HEAVY_HITTERS_SQL)
def text_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the token stream: a {d}x{w} counter grid
    (three derived portable hashes), then per-word frequency estimates as
    the min across rows — always >= the true count, which the query emits
    side-by-side so the oracle checks the sketch, the estimates, AND the
    overcount structure exactly.

    Scale shape: the sketch build is ONE map-side-combinable aggregate
    into {d}*{w} cells — constant-size state regardless of corpus size,
    mergeable by + (the streaming/rollup property that makes CMS the
    100 TB frequency tool). The probe side is vocab-sized and joins the
    broadcast-sized cms table; raw tokens are touched exactly once.
    """
    docs = load_table(spark, sf_dir, "documents")
    # r12: count occurrences FIRST (map-side-combinable), then run the
    # per-char portable hash once per DISTINCT word — bit-identical
    # counters and estimates (h is a pure function of word; the old
    # max(h)-over-occurrences equals char_hash(word)), at ~1/10th the
    # hash-fold evaluations on a Zipfian stream. The tiny word-count
    # relation is persisted because the sketch and the probe side both
    # consume it (guide §1.2 per-task work, §2.3 aggregate-before).
    from ..cache import persist_tracked

    counts = persist_tracked(
        spread(docs)
        .select(F.explode(T.tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .select("word", T.char_hash("word").alias("h"), "n")
    )
    cms = cms_delta_counts(counts.select("h", "n"))
    exact = counts.select("word", "h", F.col("n").alias("exact_cnt"))
    return cms_estimates(exact, cms)


text_cms_heavy_hitters.__doc__ = text_cms_heavy_hitters.__doc__.format(
    d=_CMS_D, w=_CMS_W
)


# ---------------------------------------------------------------------------
# TextRank (PageRank on the word co-occurrence graph), unrolled
# ---------------------------------------------------------------------------

_TR_DAMP = 0.85
_TR_ITERS = 3


def _tr_edges_sql() -> str:
    return f"""
SELECT w1 AS src, w2 AS dst, count(*) AS w FROM (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM (SELECT {T.tokens_sql('text')} AS t FROM documents)
        WHERE len(t) >= 2)
  UNION ALL
  SELECT t[i + 1] AS w1, t[i] AS w2
  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM (SELECT {T.tokens_sql('text')} AS t FROM documents)
        WHERE len(t) >= 2)
) GROUP BY w1, w2
"""


def _tr_iter_sql(prev: str) -> str:
    """One unrolled PageRank step: contributions rounded to 12 decimals and
    summed as DECIMAL(28,12) for order-insensitive exactness."""
    return f"""
SELECT n.word,
       CAST(round((1 - {_TR_DAMP}) / n.n
                  + {_TR_DAMP} * CAST(coalesce(s.contrib, 0) AS DOUBLE),
                  12) AS DOUBLE) AS pr
FROM nodes n LEFT JOIN (
  SELECT e.dst AS word,
         sum(CAST(round({prev}.pr * e.w / od.outw, 12) AS DECIMAL(28,12)))
           AS contrib
  FROM edges e
  JOIN {prev} ON {prev}.word = e.src
  JOIN outdeg od ON od.word = e.src
  GROUP BY e.dst
) s ON s.word = n.word
"""


@register(
    "text_textrank_unrolled",
    oracle=f"""
WITH edges AS ({_tr_edges_sql()}),
outdeg AS (SELECT src AS word, CAST(sum(w) AS DOUBLE) AS outw
           FROM edges GROUP BY src),
vocab AS (
  SELECT DISTINCT word
  FROM (SELECT unnest({T.tokens_sql('text')}) AS word FROM documents)
),
nodes AS (SELECT word, (SELECT CAST(count(*) AS DOUBLE) FROM vocab) AS n
          FROM vocab),
pr0 AS (SELECT word, CAST(1.0 AS DOUBLE) / n AS pr FROM nodes),
pr1 AS ({_tr_iter_sql('pr0')}),
pr2 AS ({_tr_iter_sql('pr1')}),
pr3 AS ({_tr_iter_sql('pr2')})
SELECT word, CAST(round(pr, 6) AS DOUBLE) AS textrank FROM pr3
""",
)
def text_textrank_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword weighting: PageRank (damping {d}) over the
    symmetric word co-occurrence graph (adjacent-token edges, count
    weights), unrolled to exactly {it} iterations so the normally
    "iterative, non-SQL-expressible" algorithm becomes a hash-checked [Q]
    query — every iteration's ranks verified exactly. Per-step
    contributions round to 12 decimals and sum as DECIMAL(28,12), so the
    fixpoint arithmetic is partition-order insensitive across engines.

    Scale shape: the graph reduces to (src, dst, weight) counts and a
    vocab-sized out-degree table before any iteration; each unrolled step
    is one edge-keyed broadcast join + one dst-keyed aggregate — the
    standard distributed PageRank step. Fixed unrolling trades convergence
    checks for a static plan; at 100 TB the same step runs under a driver
    loop with convergence measured by a 1-row aggregate per round
    (documented, not driver-side state inside the plan).
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
    from ..cache import persist_tracked

    # r12: edges/outdeg/nodes are each consumed by EVERY unrolled
    # iteration (edges 3x, outdeg 3x, nodes 4x) — without the persists
    # each iteration re-ran the corpus tokenize + bigram explode +
    # union + groupBy from scratch (guide §7.2 duplicated subtrees).
    edges = persist_tracked(
        bi.select(F.col("w1").alias("src"), F.col("w2").alias("dst"))
        .unionAll(bi.select(F.col("w2").alias("src"), F.col("w1").alias("dst")))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )
    outdeg = persist_tracked(
        edges.groupBy("src").agg(F.sum("w").cast("double").alias("outw"))
    )
    vocab = toks.select(F.explode("t").alias("word")).distinct()
    n1 = vocab.agg(F.count("*").cast("double").alias("n"))
    nodes = persist_tracked(vocab.crossJoin(F.broadcast(n1)))
    pr = nodes.select("word", (F.lit(1.0) / F.col("n")).alias("pr"))
    for _ in range(_TR_ITERS):
        contrib = (
            edges.join(
                F.broadcast(pr.withColumnRenamed("word", "src")), "src"
            )
            .join(
                F.broadcast(outdeg.withColumnRenamed("src", "word")
                            .withColumnRenamed("word", "src")),
                "src",
            )
            .select(
                F.col("dst").alias("word"),
                F.round(F.col("pr") * F.col("w") / F.col("outw"), 12)
                .cast("decimal(28,12)")
                .alias("c"),
            )
            .groupBy("word")
            .agg(F.sum("c").alias("contrib"))
        )
        pr = (
            nodes.join(F.broadcast(contrib), "word", "left")
            .select(
                "word",
                F.round(
                    (1 - _TR_DAMP) / F.col("n")
                    + _TR_DAMP
                    * F.coalesce(F.col("contrib"), F.lit(0)).cast("double"),
                    12,
                )
                .cast("double")
                .alias("pr"),
            )
        )
    return pr.select(
        "word", F.round("pr", 6).cast("double").alias("textrank")
    )


text_textrank_unrolled.__doc__ = text_textrank_unrolled.__doc__.format(
    d=_TR_DAMP, it=_TR_ITERS
)


# ---------------------------------------------------------------------------
# SCD2 dimension versioning from the event log
# ---------------------------------------------------------------------------

@register(
    "events_scd2_versions",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
),
changes AS (
  SELECT user_id, ts, event_id, event_type
  FROM ordered WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id,
       event_type AS state,
       ts AS effective_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS effective_to,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         AS is_current
FROM changes
""",
)
def events_scd2_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: collapse each user's event
    stream into state versions — a new version whenever event_type changes,
    with [effective_from, effective_to) validity and an is_current flag on
    the open version. This is the CDC-log -> warehouse-dimension transform
    every lakehouse pipeline runs; (ts, event_id) is the total order so
    ties are deterministic.

    Scale shape: two windows over the SAME (user_id | ts, event_id)
    partitioning — Spark plans one Exchange + one Sort and runs both
    windows on it (the change-detect filter is narrow in between). State
    is bounded per user; at 100 TB the user-keyed shuffle is the cost and
    skewed power-users are the salting candidates.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.withColumn("prev", F.lag("event_type").over(w))
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    eff_to = F.lead("ts").over(w2)
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("effective_from"),
        eff_to.alias("effective_to"),
        eff_to.isNull().alias("is_current"),
    )


@register(
    "events_scd2_lookup",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
),
changes AS (
  SELECT user_id, ts, event_id, event_type
  FROM ordered WHERE prev IS NULL OR prev <> event_type
),
v AS (
  SELECT user_id,
         event_type AS state,
         ts AS effective_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS effective_to
  FROM changes
),
probes AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
)
SELECT p.event_id, p.user_id, p.ts, v.state
FROM probes p
LEFT JOIN v ON v.user_id = p.user_id
           AND v.effective_from <= p.ts
           AND (v.effective_to IS NULL OR p.ts < v.effective_to)
""",
)
def events_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SCD2 lookup: for every probe event (errors), the
    dimension version valid AT its timestamp — the other half of the SCD2
    story (events_scd2_versions builds the dimension; this consumes it),
    and the query every warehouse runs to attach historical attributes to
    facts without leaking future state.

    Scale shape: the oracle spells out the validity-interval inequality
    join, which Spark would execute as a nested-loop; the engine instead
    merges version-change rows and probes into ONE user-keyed stream and
    takes last-non-null state over the (ts, is_probe, event_id) order —
    the AS-OF union-window pattern: one shuffle, one sort, no join at
    all. Same-timestamp ties resolve identically on both sides: all
    versions at ts sort before probes at ts, and the latest same-ts
    change is the valid version (empty [t, t) intervals match nothing in
    the oracle and are superseded in the window by construction).
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = e.withColumn("prev", F.lag("event_type").over(w)).where(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    )
    vrows = changes.select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_type").alias("state"),
        F.lit(0).alias("is_probe"),
    )
    probes = e.where(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(None).cast("string").alias("state"),
        F.lit(1).alias("is_probe"),
    )
    wu = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_probe", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = vrows.unionByName(probes).withColumn(
        "state_at", F.last("state", ignorenulls=True).over(wu)
    )
    return merged.where(F.col("is_probe") == 1).select(
        "event_id", "user_id", "ts", F.col("state_at").alias("state")
    )


# ---------------------------------------------------------------------------
# mergeable log-linear quantile sketch (DDSketch-style; staged r7 -> r8)
# ---------------------------------------------------------------------------

# Quantile levels as exact rationals (num, den, label): FP q*n can land on
# the wrong side of ceil for some n; integer ceil((n*num)/den) cannot.
_DDQ_LEVELS = ((1, 2, "p50"), (9, 10, "p90"), (99, 100, "p99"))


# Shared with stream_ddsketch_drain (queries_pipeline.py): the readout
# is a pure function of the bucket counts, so single-pass and
# stream-merged sketches verify against the SAME whole-corpus oracle.
DDSKETCH_QUANTILES_SQL = f"""
WITH pop AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
),
keyed AS (
  SELECT length(CAST(cents AS VARCHAR)) AS d,
         CAST(substr(CAST(cents AS VARCHAR), 1, 2) AS BIGINT) AS f2
  FROM pop
),
sketch AS (
  SELECT d, f2, count(*) AS cnt FROM keyed GROUP BY d, f2
),
cum AS (
  SELECT d, f2, cnt,
         sum(cnt) OVER (ORDER BY d, f2
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_cnt,
         sum(cnt) OVER () AS n,
         CAST(f2 AS VARCHAR) || repeat('0', CAST(d - 2 AS INT)) AS lower_str,
         '1' || repeat('0', CAST(d - 2 AS INT)) AS width_str
  FROM sketch
),
lv(num, den, label) AS (VALUES (1, 2, 'p50'), (9, 10, 'p90'), (99, 100, 'p99'))
SELECT lv.label AS quantile,
       CAST((2 * CAST(c.lower_str AS BIGINT) + CAST(c.width_str AS BIGINT))
            / 200.0 AS DOUBLE) AS est_value,
       CAST(c.cnt AS BIGINT) AS bucket_count,
       CAST(c.n AS BIGINT) AS n,
       CAST(round(CAST(c.width_str AS BIGINT)
            / CAST(2 * CAST(c.lower_str AS BIGINT)
                   + CAST(c.width_str AS BIGINT) AS DOUBLE), 6)
            AS DOUBLE) AS rel_err_bound
FROM lv, cum c
WHERE c.cum_cnt >= (c.n * lv.num + lv.den - 1) // lv.den
  AND c.cum_cnt - c.cnt < (c.n * lv.num + lv.den - 1) // lv.den
"""


@register(
    "rel_ddsketch_quantiles",
    oracle=DDSKETCH_QUANTILES_SQL,

)
def rel_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable log-linear quantile sketch (the DDSketch idea with
    two-leading-decimal-digit buckets): every value maps to bucket
    (n_digits, first_two_digits) of its integer cents, the sketch is the
    per-bucket count vector, and any quantile reads out as the first
    bucket whose cumulative count crosses ceil(q*n). Relative error is
    structurally bounded by half the bucket width over its midpoint
    (<= 1/21 at f2=10, reported per readout as rel_err_bound).

    This is the 100 TB quantile: exact quantiles need a global sort
    (rel_stats_quantiles) or multi-pass bisection (rel_quantile_bisect);
    the sketch needs ONE map-side-combinable groupBy over O(hundreds) of
    bucket keys — and sketches MERGE by adding counts, so per-partition /
    per-day sketches roll up associatively (the property
    tests/test_sketch.py pins by rebuilding the readout from per-flag
    partial sketches). Bucket bounds are built from digit STRINGS
    (f2 || zeros), never pow(10, k) floats, so both engines place every
    value in the same bucket and compute bit-identical estimates; ceil
    ranks are integer arithmetic over exact rational q.

    Scale shape: one exchange (the tiny bucket-key groupBy, partial
    aggregation upstream); the cumulative window orders ~400 buckets —
    driver-size, not data-size; the quantile-level join is a 3-row
    broadcast cross."""
    # r12 probe: spreading the 600k-row cents column REGRESSED this query
    # (0.78 s -> 1.43 s floor) — the repartition of 600k rows costs more
    # than the one-core string bucket-keying it parallelizes, because the
    # groupBy's map-side partial aggregation already collapses the stream
    # to ~400 bucket cells. Left as a single-split map stage on purpose.
    sketch = ddsketch_counts(load_table(spark, sf_dir, "lineitem"))
    return ddsketch_readout(spark, sketch)


def ddsketch_counts(li: DataFrame) -> DataFrame:
    """(d, f2, cnt) sketch of l_extendedprice cents — the per-bucket
    count vector. Counts add, so per-partition, per-day or per-batch
    sketches merge by + (the streaming drain's exactly-once delta)."""
    pop = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents")
    )
    return ddsketch_buckets(pop).groupBy("d", "f2").agg(
        F.count("*").alias("cnt")
    )


def ddsketch_buckets(cents_df: DataFrame) -> DataFrame:
    """(d, f2) bucket key per row of a `cents` BIGINT column — the
    map-side half of the sketch, shared with the streaming maintenance
    drain (stream_ddsketch_drain)."""
    return cents_df.select(
        F.length(F.col("cents").cast("string")).alias("d"),
        F.substring(F.col("cents").cast("string"), 1, 2)
        .cast("bigint")
        .alias("f2"),
    )


def ddsketch_readout(spark: SparkSession, sketch: DataFrame) -> DataFrame:
    """Quantile readout from a (d, f2, cnt) sketch — pure function of the
    bucket counts, so it reads identically from a single-pass sketch, a
    merged per-group sketch, or the streaming state table.

    The total rides the SAME window pass as the cumulative count
    (sum over the full frame) instead of a second aggregate: one upstream
    sketch computation, one tiny single-partition window, one broadcast —
    the r7 scale-trend measurement caught the original two-aggregate form
    recomputing the whole sketch (and its scan) for a 1-row total."""
    w_cum = Window.orderBy("d", "f2").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    zeros = F.expr("repeat('0', CAST(d - 2 AS INT))")
    cum = sketch.select(
        "d",
        "f2",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum_cnt"),
        F.sum("cnt").over(w_all).alias("n"),
        F.concat(F.col("f2").cast("string"), zeros)
        .cast("bigint")
        .alias("lower_c"),
        F.concat(F.lit("1"), zeros).cast("bigint").alias("width_c"),
    )
    lv = spark.createDataFrame(
        list(_DDQ_LEVELS), "num BIGINT, den BIGINT, label STRING"
    )
    # integer ceil((n*num)/den) — `div` keeps it in BIGINT arithmetic
    # (bigint `/` is DOUBLE in Spark; an FP quotient could floor wrong)
    target = F.expr("(n * num + den - 1) div den")
    return (
        lv.crossJoin(F.broadcast(cum))
        .where(
            (F.col("cum_cnt") >= target)
            & (F.col("cum_cnt") - F.col("cnt") < target)
        )
        .select(
            F.col("label").alias("quantile"),
            (
                (2 * F.col("lower_c") + F.col("width_c")) / 200.0
            ).alias("est_value"),
            F.col("cnt").cast("bigint").alias("bucket_count"),
            F.col("n").cast("bigint").alias("n"),
            F.round(
                F.col("width_c")
                / (2 * F.col("lower_c") + F.col("width_c")).cast("double"),
                6,
            ).alias("rel_err_bound"),
        )
    )


# ---------------------------------------------------------------------------
# HLL set algebra: union by register max-merge + inclusion-exclusion
# (built r9, staged r10)
# ---------------------------------------------------------------------------

_HSO_A = "purchase"   # set A: users with a purchase valued > threshold
_HSO_B = "click"      # set B: users with a click valued > threshold
_HSO_VMIN = 500.0


def _hso_readout_sql(regs: str, alias: str) -> str:
    """DuckDB HLL readout over a dense (bucket, m) register CTE."""
    return (
        f"SELECT CAST(round({_HLL_ALPHA} * {_HLL_M} * {_HLL_M}"
        f" / sum(power(2.0, -m)), 6) AS DOUBLE) AS {alias} FROM {regs}"
    )


_HLL_SET_OPS_SQL = f"""
WITH a_users AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = '{_HSO_A}' AND value > {_HSO_VMIN}
),
b_users AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = '{_HSO_B}' AND value > {_HSO_VMIN}
),
tagged AS (
  SELECT 0 AS s, user_id FROM a_users
  UNION ALL SELECT 1, user_id FROM b_users
),
h AS (
  SELECT s, ((user_id * {_HLL_MULT} + 7919) % {T.HASH_MOD})
             * ((user_id * {_HLL_MULT} + 7919) % {T.HASH_MOD})
             % {T.HASH_MOD} AS h
  FROM tagged
),
rho AS (
  SELECT s, h % {_HLL_M} AS bucket,
         coalesce(
           list_min(list_filter(generate_series(0, {_HLL_MAXBIT}),
             k -> (CAST(floor((h // {_HLL_M}) / power(2, k)) AS BIGINT)
                   % 2) = 1)),
           {_HLL_MAXBIT}) + 1 AS rho
  FROM h
),
sparse AS (SELECT s, bucket, max(rho) AS rho FROM rho GROUP BY s, bucket),
grid AS (
  SELECT s, bucket
  FROM (SELECT unnest([0, 1]) AS s),
       (SELECT unnest(generate_series(0, {_HLL_M - 1})) AS bucket)
),
dense AS (
  SELECT g.s, g.bucket, coalesce(sp.rho, 0) AS m
  FROM grid g LEFT JOIN sparse sp
    ON sp.s = g.s AND sp.bucket = g.bucket
),
regs_a AS (SELECT bucket, m FROM dense WHERE s = 0),
regs_b AS (SELECT bucket, m FROM dense WHERE s = 1),
regs_u AS (SELECT bucket, max(m) AS m FROM dense GROUP BY bucket),
est_a AS ({_hso_readout_sql('regs_a', 'est_a')}),
est_b AS ({_hso_readout_sql('regs_b', 'est_b')}),
est_u AS ({_hso_readout_sql('regs_u', 'est_union')}),
ex AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM a_users) AS exact_a,
         (SELECT CAST(count(*) AS BIGINT) FROM b_users) AS exact_b,
         (SELECT CAST(count(*) AS BIGINT) FROM
            (SELECT user_id FROM a_users
             UNION SELECT user_id FROM b_users)) AS exact_union,
         (SELECT CAST(count(*) AS BIGINT) FROM a_users
          WHERE user_id IN (SELECT user_id FROM b_users))
           AS exact_intersection
)
SELECT exact_a, exact_b, exact_union, exact_intersection,
       est_a, est_b, est_union,
       CAST(round(est_a + est_b - est_union, 6) AS DOUBLE)
         AS est_intersection
FROM ex, est_a, est_b, est_u
"""


@register("rel_hll_set_ops", oracle=_HLL_SET_OPS_SQL)
def rel_hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set algebra (built r9, staged r10): two user populations
    (high-value purchasers / high-value clickers) are sketched into
    64-register portable HLLs; the UNION cardinality comes from merging
    the two register sets BY MAX — the exact merge a 100 TB rollup uses
    (sketch once per partition/day, merge registers, never re-scan) —
    and the intersection estimate falls out of inclusion-exclusion.
    Every register, both estimates, and the exact counterparts are
    hash-checked cross-engine (same quadratic-mixing hash as
    rel_hll_portable).

    Scale shape: one events scan feeds both tagged sketch branches; the
    only shuffles are the (set, bucket) max-combine (<= 128 keys,
    map-side combinable) and the exact-count distincts kept as the
    eval-sized truth column. The union merge reads the PER-SET sketch
    output, not the raw data — the mergeability is in the plan, not
    just claimed."""
    from ..cache import persist_tracked

    ev = load_table(spark, sf_dir, "events")
    a = (
        ev.where(
            (F.col("event_type") == _HSO_A) & (F.col("value") > _HSO_VMIN)
        )
        .select("user_id").distinct()
    )
    b = (
        ev.where(
            (F.col("event_type") == _HSO_B) & (F.col("value") > _HSO_VMIN)
        )
        .select("user_id").distinct()
    )
    ap = persist_tracked(a)
    bp = persist_tracked(b)
    tagged = ap.select(F.lit(0).alias("s"), "user_id").unionAll(
        bp.select(F.lit(1).alias("s"), "user_id")
    )
    sparse = hll_sparse_registers(tagged, "user_id", extra_keys=("s",))
    grid = spark.range(2).select(F.col("id").alias("s")).crossJoin(
        spark.range(_HLL_M).select(F.col("id").alias("bucket"))
    )
    dense = persist_tracked(
        grid.join(sparse, ["s", "bucket"], "left").select(
            "s", "bucket", F.coalesce("rho", F.lit(0)).alias("m")
        )
    )

    def readout(regs: DataFrame, alias: str) -> DataFrame:
        return regs.agg(
            F.round(
                F.lit(_HLL_ALPHA * _HLL_M * _HLL_M)
                / F.sum(F.pow(F.lit(2.0), -F.col("m"))),
                6,
            ).cast("double").alias(alias)
        )

    est_a = readout(dense.where(F.col("s") == 0), "est_a")
    est_b = readout(dense.where(F.col("s") == 1), "est_b")
    est_u = readout(
        dense.groupBy("bucket").agg(F.max("m").alias("m")), "est_union"
    )
    exact = (
        ap.agg(F.count("*").cast("bigint").alias("exact_a"))
        .crossJoin(bp.agg(F.count("*").cast("bigint").alias("exact_b")))
        .crossJoin(
            ap.select("user_id").union(bp.select("user_id")).distinct()
            .agg(F.count("*").cast("bigint").alias("exact_union"))
        )
        .crossJoin(
            ap.join(bp, "user_id", "left_semi")
            .agg(F.count("*").cast("bigint").alias("exact_intersection"))
        )
    )
    return (
        exact.crossJoin(F.broadcast(est_a))
        .crossJoin(F.broadcast(est_b))
        .crossJoin(F.broadcast(est_u))
        .select(
            "exact_a", "exact_b", "exact_union", "exact_intersection",
            "est_a", "est_b", "est_union",
            F.round(
                F.col("est_a") + F.col("est_b") - F.col("est_union"), 6
            ).cast("double").alias("est_intersection"),
        )
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch with set operations
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_SALT = 32  # partial top-k fan-in groups on the Spark side


_KMV_SET_OPS_SQL = f"""
WITH sets AS (
  SELECT CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS s,
         user_id
  FROM events WHERE event_type IN ('click', 'purchase')
),
h AS (
  SELECT DISTINCT s,
         (((user_id * {_HLL_MULT} + 7919) % {T.HASH_MOD})
          * ((user_id * {_HLL_MULT} + 7919) % {T.HASH_MOD}))
          % {T.HASH_MOD} AS h
  FROM sets
),
sk AS (
  SELECT s, h, row_number() OVER (PARTITION BY s ORDER BY h) AS r,
         count(*) OVER (PARTITION BY s) AS n_distinct
  FROM h
),
kmv AS (SELECT * FROM sk WHERE r <= {_KMV_K}),
est AS (
  SELECT s, max(n_distinct) AS nd, count(*) AS kk, max(h) AS hk
  FROM kmv GROUP BY s
),
uni AS (
  SELECT h, count(*) AS sides,
         row_number() OVER (ORDER BY h) AS r
  FROM (SELECT DISTINCT s, h FROM kmv) GROUP BY h
),
ukmv AS (SELECT * FROM uni WHERE r <= {_KMV_K}),
uest AS (
  SELECT count(*) AS uk, max(h) AS uhk,
         sum(CASE WHEN sides = 2 THEN 1 ELSE 0 END) AS both_k
  FROM ukmv
),
wide AS (
  SELECT max(CASE WHEN s = 0 THEN kk END) AS ka,
         max(CASE WHEN s = 0 THEN hk END) AS ha,
         max(CASE WHEN s = 0 THEN nd END) AS nda,
         max(CASE WHEN s = 1 THEN kk END) AS kb,
         max(CASE WHEN s = 1 THEN hk END) AS hb,
         max(CASE WHEN s = 1 THEN nd END) AS ndb
  FROM est
)
SELECT CAST(wide.ka AS BIGINT) AS k_a, CAST(wide.kb AS BIGINT) AS k_b,
       CAST(uest.uk AS BIGINT) AS k_union,
       CAST(uest.both_k AS BIGINT) AS both_in_union,
       CASE WHEN wide.ka < {_KMV_K} THEN CAST(wide.nda AS DOUBLE)
            ELSE CAST(({_KMV_K} - 1) * CAST({T.HASH_MOD} AS BIGINT)
                      AS DOUBLE) / wide.ha END AS est_a,
       CASE WHEN wide.kb < {_KMV_K} THEN CAST(wide.ndb AS DOUBLE)
            ELSE CAST(({_KMV_K} - 1) * CAST({T.HASH_MOD} AS BIGINT)
                      AS DOUBLE) / wide.hb END AS est_b,
       CASE WHEN uest.uk < {_KMV_K} THEN CAST(uest.uk AS DOUBLE)
            ELSE CAST(({_KMV_K} - 1) * CAST({T.HASH_MOD} AS BIGINT)
                      AS DOUBLE) / uest.uhk END AS est_union,
       CAST(uest.both_k AS DOUBLE) / uest.uk AS jaccard
FROM wide, uest
"""


@register("events_kmv_set_ops", oracle=_KMV_SET_OPS_SQL)
def events_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct sketch with UNION
    and Jaccard set operations (built r9, staged r10) — the third
    mergeable-cardinality family next to HLL (`rel_hll_portable`) and
    the MinHash estimator (`dedup_minhash_estimate_eval`). Each side's
    sketch is its k=64 smallest quadratic-mix portable hashes of
    distinct user_ids; the estimator (k-1)*M/h_(k) is exact-count
    below k by the KMV convention. Set algebra happens ON THE
    SKETCHES: the union sketch is the k smallest of the two sketches'
    value union (bounded 2k rows), and both_in_union/k is the standard
    KMV Jaccard estimator. Every value is integer until the final
    per-column double division, so the readout hashes bit-identically
    cross-engine.

    Scale shape: one (side, hash) distinct aggregate (the only
    data-sized shuffle), then a SALTED two-level top-k — k smallest
    per (side, hash%32) group, then k smallest of the 32k survivors —
    so no data-sized single-partition sort exists on the Spark side
    (the naive global window lives only in the DuckDB twin). Sketch
    algebra downstream touches <= 2k rows."""
    events = load_table(spark, sf_dir, "events")
    return kmv_set_ops_readout(kmv_bottomk(kmv_event_hashes(events)))


def kmv_event_hashes(events: DataFrame) -> DataFrame:
    """(s, h) distinct side-tagged portable hashes for the KMV pair
    (side 0 = clickers, side 1 = purchasers) — the ONE copy of the
    hash+filter, shared by the batch query and the streaming drain."""
    hb = (F.col("user_id") * _HLL_MULT + 7919) % T.HASH_MOD
    return (
        events.filter(F.col("event_type").isin("click", "purchase"))
        .select(
            F.when(F.col("event_type") == "click", 0).otherwise(1).alias("s"),
            (hb * hb % T.HASH_MOD).alias("h"),
        )
        .distinct()
    )


def kmv_bottomk(h: DataFrame) -> DataFrame:
    """(s, h) distinct hashes -> the bottom-k sketch (s, r, h) per side
    via the salted two-level top-k (no data-sized single-partition
    window). Shared by the batch query and the streaming maintenance
    path."""
    part = (
        h.withColumn("salt", F.col("h") % _KMV_SALT)
        .withColumn(
            "pr",
            F.row_number().over(
                Window.partitionBy("s", "salt").orderBy("h")
            ),
        )
        .filter(F.col("pr") <= _KMV_K)
    )
    return (
        part.withColumn(
            "r", F.row_number().over(Window.partitionBy("s").orderBy("h"))
        )
        .filter(F.col("r") <= _KMV_K)
        .select("s", "r", "h")
    )


def kmv_set_ops_readout(sk: DataFrame) -> DataFrame:
    """1-row KMV set-ops readout from bottom-k sketches (s, h) — a pure
    function of the sketch state, so the batch query and the streaming
    drain share it verbatim. Below k the sketch IS the side's distinct
    set, so the sketch size doubles as the exact count; above k the
    (k-1)*M/h_(k) estimator applies."""
    est = sk.groupBy("s").agg(
        F.count("*").alias("kk"),
        F.max("h").alias("hk"),
    )
    uni = (
        sk.select("s", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("sides"))
        .withColumn("r", F.row_number().over(Window.orderBy("h")))
        .filter(F.col("r") <= _KMV_K)
    )
    uest = uni.agg(
        F.count("*").alias("uk"),
        F.max("h").alias("uhk"),
        F.sum(F.when(F.col("sides") == 2, 1).otherwise(0)).alias("both_k"),
    )
    s0 = F.col("s") == 0
    wide = est.agg(
        F.max(F.when(s0, F.col("kk"))).alias("ka"),
        F.max(F.when(s0, F.col("hk"))).alias("ha"),
        F.max(F.when(~s0, F.col("kk"))).alias("kb"),
        F.max(F.when(~s0, F.col("hk"))).alias("hb"),
    )
    km1m = F.lit((_KMV_K - 1) * T.HASH_MOD).cast("double")
    return wide.crossJoin(F.broadcast(uest)).select(
        F.col("ka").cast("long").alias("k_a"),
        F.col("kb").cast("long").alias("k_b"),
        F.col("uk").cast("long").alias("k_union"),
        F.col("both_k").cast("long").alias("both_in_union"),
        F.when(
            F.col("ka") < _KMV_K, F.col("ka").cast("double")
        ).otherwise(km1m / F.col("ha")).alias("est_a"),
        F.when(
            F.col("kb") < _KMV_K, F.col("kb").cast("double")
        ).otherwise(km1m / F.col("hb")).alias("est_b"),
        F.when(
            F.col("uk") < _KMV_K, F.col("uk").cast("double")
        ).otherwise(km1m / F.col("uhk")).alias("est_union"),
        (F.col("both_k").cast("double") / F.col("uk")).alias("jaccard"),
    )
